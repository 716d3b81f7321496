package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.config.PipelineConfig.PipelineConf
import graft.io.Layers
import graft.ops.{Aggregate, Clean, Quality}
import graft.schema.Metadata

/**
 * Config-assembled medallion pipeline: bronze (JSONL capture) → silver
 * (schema-enforced read, clean, partitioned parquet) → gold (declarative
 * roll-ups over one silver scan) → quality (rule report + JSON
 * artifact), chained through
 * [[Runner]] with per-stage retry/metrics — the engine-native analog of
 * the reference's YAML→Airflow DAG factory
 * (`dags/breweries_gold_dag.py:45-185`) and its quality report sink
 * (`breweries_data_quality_gold.py:36-42`, K5 in SURVEY §2.2).
 *
 * Layout under `baseDir` (all layers publish with Spark's `_SUCCESS`
 * commit protocol; downstream stages resolve the newest complete bronze
 * run via [[Layers.latestSuccessfulRun]] instead of an external sensor):
 * {{{
 * <base>/bronze/run_<runId>/   raw JSONL
 * <base>/silver/               parquet, partitioned per metadata config
 * <base>/gold/                 parquet
 * <base>/quality/gold_report.json
 * }}}
 */
object Medallion {

  final case class CleanSpec(
      dedupKeys: Seq[String],
      requiredCols: Seq[String],
      normalizeCols: Seq[String],
      order: Seq[Column])

  /** Build the four Runner stages. `aggStageId`/`qualityStageId` select
    * which config stages carry the roll-up and rule definitions. */
  def stages(
      conf: PipelineConf,
      meta: Metadata.TableSpec,
      source: SparkSession => DataFrame,
      baseDir: String,
      runId: String,
      transformationDate: String,
      clean: CleanSpec,
      aggStageId: String = "aggregate_gold",
      qualityStageId: String = "validate_gold_quality",
      failOnViolation: Boolean = true): Seq[Runner.Stage] = {
    val bronzeDir = s"$baseDir/bronze"
    val silverDir = s"$baseDir/silver"
    val goldDir = s"$baseDir/gold"
    val aggStage = conf.stage(aggStageId)
    val qStage = conf.stage(qualityStageId)
    require(aggStage.aggregations.nonEmpty, s"stage $aggStageId declares no aggregations")
    require(qStage.qualityRules.nonEmpty, s"stage $qualityStageId declares no quality_rules")

    // the table's declared schema (bronze is read with it, silver is
    // written from it) and the roll-up gold is written as: the gold
    // stage runs `rollup` over silver, and the quality stage reads gold
    // with the schema `rollup` gives
    val tableSchema = Metadata.toStruct(meta.fields)
    def rollup(df: DataFrame): DataFrame =
      Aggregate.unionRollups(df, aggStage.aggregations, transformationDate)

    // Stage metrics ride the write pass via Dataset.observe — a count()
    // per metric would re-scan the stage input once per number.
    val bronze = Runner.Stage(
      "fetch_data_bronze",
      run = { spark =>
        val obs = org.apache.spark.sql.Observation()
        val df = source(spark).observe(obs, count(lit(1)).as("rows_captured"))
        Layers.writeJsonl(df, bronzeDir, Some(runId))
        Map("rows_captured" -> obs.get("rows_captured").asInstanceOf[Long])
      })

    val silver = Runner.Stage(
      "transform_silver",
      run = { spark =>
        val latest = Layers.latestSuccessfulRun(spark, bronzeDir).getOrElse(
          sys.error(s"no successful bronze run under $bronzeDir"))
        val obsIn = org.apache.spark.sql.Observation()
        val obsOut = org.apache.spark.sql.Observation()
        val raw = Layers.readJsonl(spark, latest, tableSchema)
          .observe(obsIn, count(lit(1)).as("rows_in"))
        val cleaned = Clean.silverClean(
          raw, clean.dedupKeys, clean.requiredCols, clean.normalizeCols, clean.order)
          .observe(obsOut, count(lit(1)).as("rows_clean"))
        Layers.writeSilver(cleaned, silverDir, meta.partitionBy)
        Map("rows_in" -> obsIn.get("rows_in").asInstanceOf[Long],
          "rows_clean" -> obsOut.get("rows_clean").asInstanceOf[Long])
      },
      retries = aggStage.retries,
      retryDelayMs = aggStage.retryDelayMs)

    val gold = Runner.Stage(
      aggStage.taskId,
      run = { spark =>
        val obs = org.apache.spark.sql.Observation()
        // silver is read with the schema it was written from, so the
        // stage's only jobs are the roll-up's shuffle and its write
        val goldDf = rollup(Layers.readParquet(spark, silverDir, tableSchema))
          .observe(obs, count(lit(1)).as("rollup_rows"))
        Layers.writeGold(goldDf, goldDir)
        Map("rollup_rows" -> obs.get("rollup_rows").asInstanceOf[Long])
      },
      retries = aggStage.retries,
      retryDelayMs = aggStage.retryDelayMs)

    val quality = Runner.Stage(
      qStage.taskId,
      run = { spark =>
        // gold's schema is the roll-up's over silver's declared schema —
        // found by analysis of an empty frame, so the read infers nothing
        val goldSchema =
          rollup(spark.createDataFrame(java.util.List.of[Row](), tableSchema)).schema
        val goldDf = Layers.readParquet(spark, goldDir, goldSchema)
        val report = Quality.report(goldDf, qStage.qualityRules).collect()
        writeReport(s"$baseDir/quality/gold_report.json", report.map(r =>
          (r.getAs[String]("rule"), r.getAs[Boolean]("passed"), r.getAs[Long]("invalid_count"))))
        val bad = report.filter(!_.getAs[Boolean]("passed"))
        if (failOnViolation && bad.nonEmpty)
          sys.error(s"quality rules failed: ${bad.map(_.getAs[String]("rule")).mkString(", ")}")
        Map("rules_checked" -> report.length.toLong,
          "rules_failed" -> bad.length.toLong)
      },
      retries = qStage.retries,
      retryDelayMs = qStage.retryDelayMs)

    Seq(bronze, silver, gold, quality)
  }

  /** K5 — driver-side JSON report sink, reference artifact shape
    * (`data/quality/breweries/2025-10-15/gold_report.json`):
    * `[{"rule": …, "passed": …, "invalid_count": …}]`. */
  def writeReport(path: String, rows: Seq[(String, Boolean, Long)]): Unit = {
    val json = rows.map { case (rule, passed, invalid) =>
      s"""  {"rule": ${Runner.jsonStr(rule)}, "passed": $passed, "invalid_count": $invalid}"""
    }.mkString("[\n", ",\n", "\n]")
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, json)
  }

  /** Assemble and run; returns the report plus the gold path for
    * downstream reads. `onStageFailure` is the pluggable alerting seam
    * (reference `src/libs/alerts.py:30-87` minus egress) — see
    * [[Runner.run]]. Every run (success or failure) is appended to the
    * [[RunLog]] under `baseDir` — the persistent tracking analog of the
    * reference's MLflow store (`src/libs/observability.py`). */
  def run(
      spark: SparkSession,
      conf: PipelineConf,
      meta: Metadata.TableSpec,
      source: SparkSession => DataFrame,
      baseDir: String,
      runId: String,
      transformationDate: String,
      clean: CleanSpec,
      onStageFailure: Runner.StageResult => Unit = _ => ()): (Runner.PipelineReport, String) = {
    val report = Runner.run(spark,
      stages(conf, meta, source, baseDir, runId, transformationDate, clean),
      onStageFailure = onStageFailure)
    RunLog.append(baseDir, conf.dagId, runId, transformationDate, report)
    (report, s"$baseDir/gold")
  }
}
