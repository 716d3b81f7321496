package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.PipelineConfig
import graft.io.Layers
import graft.pipeline.{Medallion, RunLog, Runner}

/**
 * `medallion_daily`: the paper's daily batch. Brewery records are served
 * as one JSONL "API" file through `PagedJsonlSource` (one partition per
 * page), parsed with `from_json`, and run bronze → silver → gold →
 * quality with the reference silver schema, rollups and rules. Each
 * batch publishes into a fresh base dir.
 *
 * The batch is `Medallion.run` spelled out — `Medallion.stages` through
 * `Runner.run`, then `RunLog.append` — so each stage can be wrapped in a
 * span; traced and untraced batches run the same code.
 */
final class MedallionDaily(
    spark: SparkSession, tracer: Tracer, rec: Recorder, seed: Long, work: Path,
    records: Int, pageSize: Int) extends Workload {
  import MedallionDaily._

  private var api: Path = _
  private var truth: Gen.Breweries = _

  private val conf = PipelineConfig.parse(ConfYaml)
  private val meta = PipelineConfig.parseMetadata(MetaYaml)
  private val clean = Medallion.CleanSpec(
    dedupKeys = Seq("id"),
    requiredCols = Seq("id", "name", "state", "country"),
    normalizeCols = Seq("name", "brewery_type", "city", "state", "country"),
    order = Seq(col("updated_at").desc_nulls_last))

  private def paged(sp: SparkSession): DataFrame =
    sp.read.format(classOf[graft.sources.PagedJsonlSource].getName)
      .option("path", api.toString)
      .option("pageSize", pageSize.toString)
      .load()

  private def source(sp: SparkSession): DataFrame =
    paged(sp).select(from_json(col("value"), ApiSchema).as("r")).select("r.*")

  def generate(rep: Int, dir: Path): String = {
    Files.createDirectories(dir)
    api = dir.resolve("breweries_api.jsonl")
    truth = Gen.breweries(seed, records, api)
    truth.sha256
  }

  def unit(i: Int): Unit = {
    if (tracer.enabled) tracer.span("sources.paged.scan") {
      // traced runs only: the source alone, forced through a no-op sink
      paged(spark).write.format("noop").mode("overwrite").save()
    }
    batch(work.resolve(f"batches/batch_$i%04d"))
  }

  private def batch(base: Path): Unit = {
    val dir = base.toString
    val runId = "20251015"
    val (report, ms) = rec.call {
      tracer.span("pipeline.batch") {
        val stages = Medallion.stages(conf, meta, source, dir, runId, "2025-10-15", clean)
          .map(st => st.copy(run = (sp: SparkSession) => tracer.span(s"pipeline.${st.id}")(st.run(sp))))
        val r = Runner.run(spark, stages)
        RunLog.append(dir, conf.dagId, runId, "2025-10-15", r)
        r
      }
    }
    rec.sample(rec.unitS, ms / 1e3)
    rec.sample(rec.latencyMs, ms)
    rec.sample(rec.freshnessMs, ms)
    rec.sample(rec.overheadMs(tracer.enabled), ms)
    if (rec.recording && report.isDefined) rec.items += records
    report.foreach(r => check(r, dir))
    Workload.deleteTree(base)
  }

  private def check(report: Runner.PipelineReport, dir: String): Unit = {
    rec.check(report.succeeded, s"medallion batch failed: ${report.toJson}")
    if (report.succeeded) {
      val silver = Layers.readParquet(spark, s"$dir/silver").count()
      rec.check(silver == truth.expectedSilver,
        s"silver rows $silver != distinct complete ids ${truth.expectedSilver}")
      val totals = Layers.readParquet(spark, s"$dir/gold")
        .groupBy("aggregation").agg(sum("total_breweries")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      rec.check(totals.keySet == Set("by_type", "by_state", "by_city"),
        s"gold rollups ${totals.keySet}")
      totals.foreach { case (agg, t) =>
        rec.check(t == silver, s"gold rollup $agg sums to $t, silver has $silver rows")
      }
      val reportFile = java.nio.file.Paths.get(s"$dir/quality/gold_report.json")
      rec.check(Files.exists(reportFile), "quality report missing")
      if (Files.exists(reportFile)) {
        val json = Files.readString(reportFile)
        rec.check(!json.contains("\"passed\": false") &&
          "\"passed\": true".r.findAllIn(json).length == 3, s"quality rules: $json")
      }
    }
  }
}

object MedallionDaily {
  /** The paged API's record shape (bronze keeps every field). */
  val ApiSchema: StructType = StructType.fromDDL(
    "id STRING, name STRING, brewery_type STRING, city STRING, state STRING, " +
      "country STRING, latitude DOUBLE, longitude DOUBLE, phone STRING, " +
      "updated_at STRING, ingestion_date STRING")

  /** Gold rollups of the reference (type, country+state,
    * country+state+city) and quality rules every correct gold passes. */
  val ConfYaml: String =
    """dag:
      |  dag_id: breweries_gold
      |stages:
      |  - task_id: aggregate_gold
      |    parameters:
      |      aggregations:
      |        - name: "by_type"
      |          group_by: ["brewery_type"]
      |          metrics:
      |            - name: "total_breweries"
      |              expr: "count(*)"
      |        - name: "by_state"
      |          group_by: ["country", "state"]
      |          metrics:
      |            - name: "total_breweries"
      |              expr: "count(*)"
      |        - name: "by_city"
      |          group_by: ["country", "state", "city"]
      |          metrics:
      |            - name: "total_breweries"
      |              expr: "count(*)"
      |  - task_id: validate_gold_quality
      |    depends_on: ["aggregate_gold"]
      |    quality_rules:
      |      - rule: "Count > 0 for all groups"
      |        column: "total_breweries"
      |        type: "greater_than_zero"
      |      - rule: "Every row names its rollup"
      |        column: "aggregation"
      |        type: "not_null"
      |      - rule: "State set on location rollups"
      |        type: "expr"
      |        condition: "aggregation = 'by_type' OR state IS NOT NULL"
      |""".stripMargin

  /** Reference silver schema (FIXTURES.md §2), partitioned by state. */
  val MetaYaml: String =
    """dataset:
      |  name: breweries_silver
      |  partition_by: "state"
      |schema:
      |  - name: id
      |    type: string
      |    nullable: false
      |  - name: name
      |    type: string
      |    nullable: false
      |  - name: brewery_type
      |    type: string
      |  - name: city
      |    type: string
      |  - name: state
      |    type: string
      |    nullable: false
      |  - name: country
      |    type: string
      |  - name: updated_at
      |    type: timestamp
      |  - name: ingestion_date
      |    type: date
      |    nullable: false
      |""".stripMargin
}
