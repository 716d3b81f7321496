package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.io.Layers
import graft.pipeline.Medallion

class MedallionSpec extends AnyFunSuite {
  import TestSpark.spark

  private val confYaml =
    """dag:
      |  dag_id: customer_gold_test
      |stages:
      |  - task_id: aggregate_gold
      |    parameters:
      |      aggregations:
      |        - name: "by_segment"
      |          group_by: ["c_mktsegment"]
      |          metrics:
      |            - name: "total_customers"
      |              expr: "count(*)"
      |  - task_id: validate_gold_quality
      |    depends_on: ["aggregate_gold"]
      |    quality_rules:
      |      - rule: "positive_counts"
      |        column: "total_customers"
      |        type: "greater_than_zero"
      |""".stripMargin

  private val metaYaml =
    """dataset:
      |  name: customer_silver
      |  partition_by: "c_mktsegment"
      |schema:
      |  - name: c_custkey
      |    type: long
      |    nullable: false
      |  - name: c_name
      |    type: string
      |  - name: c_mktsegment
      |    type: string
      |""".stripMargin

  private def cleanSpec = Medallion.CleanSpec(
    dedupKeys = Seq("c_custkey"),
    requiredCols = Seq("c_custkey", "c_name", "c_mktsegment"),
    normalizeCols = Seq("c_name", "c_mktsegment"),
    order = Seq(col("c_name").asc_nulls_first))

  test("stages carry the configured retries and backoff_seconds delay") {
    val yaml = confYaml
      .replace("  - task_id: aggregate_gold\n",
        "  - task_id: aggregate_gold\n    retries: 2\n    backoff_seconds: 3\n")
      .replace("    depends_on: [\"aggregate_gold\"]\n",
        "    depends_on: [\"aggregate_gold\"]\n    retries: 1\n    backoff_seconds: 5\n")
    val stages = Medallion.stages(
      PipelineConfig.parse(yaml), PipelineConfig.parseMetadata(metaYaml),
      source = sp => sp.emptyDataFrame, baseDir = TestSpark.tmpDir("medallion_retry"),
      runId = "r", transformationDate = "2025-10-15", clean = cleanSpec)
    assert(stages.map(s => (s.id, s.retries, s.retryDelayMs)) == Seq(
      ("fetch_data_bronze", 0, 1000L),
      ("transform_silver", 2, 3000L),
      ("aggregate_gold", 2, 3000L),
      ("validate_gold_quality", 1, 5000L)))
  }

  test("end-to-end: bronze→silver→gold→quality publishes every layer + the report artifact") {
    val base = TestSpark.tmpDir("medallion_e2e")
    val (report, goldPath) = Medallion.run(
      spark,
      PipelineConfig.parse(confYaml),
      PipelineConfig.parseMetadata(metaYaml),
      source = sp => sp.read.parquet(s"${TestSpark.sfDir}/customer.parquet"),
      baseDir = base, runId = "20251015", transformationDate = "2025-10-15",
      clean = cleanSpec)
    assert(report.succeeded, report.toJson)
    assert(report.results.map(_.id) ==
      Seq("fetch_data_bronze", "transform_silver", "aggregate_gold", "validate_gold_quality"))

    // bronze: versioned _SUCCESS-gated run dir
    assert(Layers.latestSuccessfulRun(spark, s"$base/bronze").get.endsWith("run_20251015"))
    // silver: partitioned per metadata config (normalized segment values)
    val silverDirs = new java.io.File(s"$base/silver").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(silverDirs.nonEmpty && silverDirs.forall(_.startsWith("c_mktsegment=")))
    assert(silverDirs.forall(d => d.stripPrefix("c_mktsegment=") ==
      d.stripPrefix("c_mktsegment=").toLowerCase))
    // gold: matches a direct aggregation of the source
    val gold = Layers.readParquet(spark, goldPath)
    val expected = spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")
      .groupBy(trim(lower(col("c_mktsegment"))).as("c_mktsegment"))
      .agg(count(lit(1)).as("total_customers"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = gold.collect()
      .map(r => r.getAs[String]("c_mktsegment") -> r.getAs[Long]("total_customers")).toMap
    assert(got == expected)
    assert(gold.collect().forall(_.getAs[String]("aggregation") == "by_segment"))
    // quality: K5 JSON artifact in the reference's shape
    val reportFile = java.nio.file.Paths.get(s"$base/quality/gold_report.json")
    assert(java.nio.file.Files.exists(reportFile))
    val json = java.nio.file.Files.readString(reportFile)
    assert(json.contains(""""rule": "positive_counts""""))
    assert(json.contains(""""passed": true"""))
    assert(json.contains(""""invalid_count": 0"""))
    // per-stage metrics captured
    val metrics = report.results.map(r => r.id -> r.metrics).toMap
    assert(metrics("fetch_data_bronze")("rows_captured") > 0)
    assert(metrics("transform_silver")("rows_clean") > 0)
    assert(metrics("validate_gold_quality")("rules_failed") == 0)
  }

  test("the gold stage reads silver once: at most 2 Spark jobs") {
    val stages = Medallion.stages(
      PipelineConfig.parse(confYaml), PipelineConfig.parseMetadata(metaYaml),
      source = sp => sp.read.parquet(s"${TestSpark.sfDir}/customer.parquet"),
      baseDir = TestSpark.tmpDir("medallion_jobs"), runId = "r",
      transformationDate = "2025-10-15", clean = cleanSpec)
    stages.take(2).foreach(_.run(spark))
    val (metrics, jobs) = TestSpark.jobsOf(stages(2).run(spark))
    assert(metrics("rollup_rows") == 5L)
    assert(jobs <= 2, s"gold stage ran $jobs jobs")
  }

  test("the quality stage reads gold with its declared schema: at most 2 Spark jobs, same report") {
    // a second, global roll-up null-pads the grouping column and adds
    // an avg: gold's declared schema must carry every padded type
    val yaml = confYaml.replace(
      "  - task_id: validate_gold_quality\n",
      """        - name: "overall"
        |          group_by: []
        |          metrics:
        |            - name: "total_customers"
        |              expr: "count(*)"
        |            - name: "mean_key"
        |              expr: "avg(c_custkey)"
        |  - task_id: validate_gold_quality
        |""".stripMargin)
    val conf = PipelineConfig.parse(yaml)
    val base = TestSpark.tmpDir("medallion_quality_jobs")
    val stages = Medallion.stages(
      conf, PipelineConfig.parseMetadata(metaYaml),
      source = sp => sp.read.parquet(s"${TestSpark.sfDir}/customer.parquet"),
      baseDir = base, runId = "r", transformationDate = "2025-10-15", clean = cleanSpec)
    stages.take(3).foreach(_.run(spark))
    val (metrics, jobs) = TestSpark.jobsOf(stages(3).run(spark))
    // a footer-inference job ahead of the report would make it 3
    assert(jobs <= 2, s"quality stage ran $jobs jobs")
    assert(metrics == Map("rules_checked" -> 1L, "rules_failed" -> 0L))
    // the report an inferring read of gold gives
    val inferred = graft.ops.Quality.report(spark.read.parquet(s"$base/gold"),
      conf.stage("validate_gold_quality").qualityRules).collect()
    Medallion.writeReport(s"$base/inferred_report.json", inferred.map(r =>
      (r.getAs[String]("rule"), r.getAs[Boolean]("passed"), r.getAs[Long]("invalid_count"))))
    def read(name: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(base, name))
    assert(read("quality/gold_report.json") == read("inferred_report.json"))
  }

  test("quality violation fails the pipeline stage (and the run)") {
    val base = TestSpark.tmpDir("medallion_fail")
    val badConf = PipelineConfig.parse(confYaml.replace(
      "type: \"greater_than_zero\"",
      "type: \"expr\"\n        condition: \"total_customers > 1000000\""))
    var alerted = List.empty[graft.pipeline.Runner.StageResult]
    val (report, _) = Medallion.run(
      spark, badConf, PipelineConfig.parseMetadata(metaYaml),
      source = sp => sp.read.parquet(s"${TestSpark.sfDir}/customer.parquet"),
      baseDir = base, runId = "20251015", transformationDate = "2025-10-15",
      clean = cleanSpec,
      onStageFailure = r => alerted ::= r)
    assert(!report.succeeded)
    // the O6 alerting seam fires for the failed stage
    assert(alerted.map(_.id) == List("validate_gold_quality"))
    val qr = report.results.last
    assert(qr.id == "validate_gold_quality")
    qr.status match {
      case graft.pipeline.Runner.Failed(msg) => assert(msg.contains("quality rules failed"))
      case _ => fail("expected quality failure")
    }
    // the artifact is still written (report-then-fail, reference behavior)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/quality/gold_report.json")))
  }

  test("run log: every run is recorded, queryable as data, lastSuccessful resolves") {
    import graft.pipeline.RunLog
    val base = TestSpark.tmpDir("medallion_runlog")
    def runOnce(runId: String, breakQuality: Boolean) = {
      val conf = if (!breakQuality) PipelineConfig.parse(confYaml)
        else PipelineConfig.parse(confYaml.replace(
          "type: \"greater_than_zero\"",
          "type: \"expr\"\n        condition: \"total_customers > 1000000\""))
      Medallion.run(
        spark, conf, PipelineConfig.parseMetadata(metaYaml),
        source = sp => sp.read.parquet(s"${TestSpark.sfDir}/customer.parquet"),
        baseDir = base, runId = runId, transformationDate = s"2025-10-$runId",
        clean = cleanSpec)
    }
    runOnce("15", breakQuality = false)
    runOnce("16", breakQuality = true) // recorded as failed
    val h = RunLog.history(spark, base)
    assert(h.count() == 2)
    // run history is ordinary data: aggregate over it with the engine
    import org.apache.spark.sql.functions._
    val byOutcome = h.groupBy("succeeded").count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byOutcome == Map(true -> 1L, false -> 1L))
    // nested stage metrics survive the round-trip
    val bronzeRows = h.filter(col("run_id") === "15")
      .selectExpr("filter(stages, s -> s.stage = 'fetch_data_bronze')[0].metrics.rows_captured")
      .collect()(0).getLong(0)
    assert(bronzeRows > 0)
    assert(RunLog.lastSuccessful(base) == Some("15"))
    assert(RunLog.lastSuccessful(TestSpark.tmpDir("runlog_empty")) == None)
  }

  test("run log: lastSuccessful is append-order, immune to lexicographic id traps") {
    import graft.pipeline.{Runner, RunLog}
    val base = TestSpark.tmpDir("runlog_order")
    val ok = Runner.PipelineReport(Seq(
      Runner.StageResult("s", Runner.Succeeded, 1, 1, Map.empty)))
    val bad = Runner.PipelineReport(Seq(
      Runner.StageResult("s", Runner.Failed("x"), 1, 1, Map.empty)))
    // "9" then "10": lexicographic max would WRONGLY pick "9"
    RunLog.append(base, "p", "9", "2025-10-09", ok)
    RunLog.append(base, "p", "10", "2025-10-10", ok)
    assert(RunLog.lastSuccessful(base) == Some("10"))
    // a failed run never wins, regardless of recency
    RunLog.append(base, "p", "11", "2025-10-11", bad)
    assert(RunLog.lastSuccessful(base) == Some("10"))
    // hostile stage text cannot spoof the outcome fields
    val spoof = Runner.PipelineReport(Seq(Runner.StageResult(
      """x", "succeeded": true, "run_id": "99""", Runner.Failed("""also "succeeded": true"""),
      1, 1, Map.empty)))
    RunLog.append(base, "p", "12", "2025-10-12", spoof)
    assert(RunLog.lastSuccessful(base) == Some("10"),
      "structural anchor must ignore field-shaped text inside stage payloads")
    // escaped run ids round-trip to their ORIGINAL form
    val base2 = TestSpark.tmpDir("runlog_escape")
    RunLog.append(base2, "p", "id \"quoted\"\\slash\nline", "2025-10-13", ok)
    assert(RunLog.lastSuccessful(base2) == Some("id \"quoted\"\\slash\nline"),
      "lastSuccessful must return the decoded id, not its JSON-escaped form")
  }
}
