package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.Clean

/**
 * Streaming bronze→silver ingestion — the Structured Streaming twin of
 * the batch medallion path ([[graft.pipeline.Medallion]]): a
 * schema-enforced JSONL FILE STREAM in, the narrow silver cleanings
 * (normalize + null-drop) applied per micro-batch, and a parquet sink
 * with the file-sink commit log, so output is EXACTLY-ONCE across
 * restarts (the checkpoint records which input files are done; the
 * `_spark_metadata` log records which output files are committed —
 * readers never see partial or duplicated batches).
 *
 * `Trigger.AvailableNow` drains the current backlog and stops — the
 * "batch job expressed as a stream" pattern: the SAME code serves a
 * scheduled nightly drain and a continuously tailing ingester (swap
 * the trigger), and incremental progress is free — rerunning after new
 * files land processes ONLY the new files. That replaces the
 * reference's rerun-everything daily bronze capture
 * (`src/pipelines/breweries_fetch_bronze_notebook.py:71-107`, re-run
 * per Airflow schedule with full overwrite) with incremental ingestion
 * at no code cost.
 *
 * Keyed dedup is deliberately NOT here: it needs state and an
 * event-time watermark ([[EventsStream.dedupWithinWatermark]]); the
 * batch silver compaction ([[Clean.silverClean]]) remains the
 * full-history dedup authority.
 *
 * Scale notes: file listing is incremental (`maxFilesPerTrigger` caps
 * per-batch work); the transforms are stateless and narrow, so
 * micro-batches run at scan speed with zero shuffles.
 */
object IngestStream {

  /** Build the cleaned streaming frame (separated for plan tests). */
  def cleanedStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      requiredCols: Seq[String],
      normalizeCols: Seq[String],
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(schema)
      .option("multiLine", "false")
    val withCap = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    Clean.normalize(
      Clean.dropNullKeys(withCap.json(srcDir), requiredCols),
      normalizeCols)
  }

  /** Drain everything currently in `srcDir` into `outDir` exactly once
    * and return. Safe to call repeatedly: already-processed files are
    * skipped via the checkpoint. */
  def drainOnce(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      requiredCols: Seq[String],
      normalizeCols: Seq[String],
      outDir: String,
      checkpointDir: String,
      partitionBy: Seq[String] = Nil,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val writer = cleanedStream(spark, srcDir, schema, requiredCols, normalizeCols,
      maxFilesPerTrigger)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
    val q = (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .start()
    q.awaitTermination()
  }

  /** [[drainOnce]] (no normalization), then the silver layer read with
    * the ENFORCED `schema`: a first drain with nothing landed commits
    * no batch — the sink dir is missing entirely or holds only
    * `_spark_metadata`, and inference has no files to look at. A
    * missing dir reads as "no rows yet", not an error. Filesystem
    * cost beyond the drain: one `exists`. */
  def drainToSilver(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      requiredCols: Seq[String],
      silverDir: String,
      checkpointDir: String): DataFrame = {
    drainOnce(spark, srcDir, schema, requiredCols, normalizeCols = Nil,
      outDir = silverDir, checkpointDir = checkpointDir)
    val silverPath = new Path(silverDir)
    val fs = silverPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(silverPath)) spark.read.schema(schema).parquet(silverDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** [[drainOnce]] (no normalization), then the silver files not yet
    * folded into the index whose [[graft.io.FoldedFiles]] record is at
    * `recordBase`, read with the ENFORCED `schema` — paired with the
    * callback that commits the advanced record (call it LAST, after
    * the index commit). None when no file is fresh: an empty drain
    * launches no Spark job. Filesystem cost beyond the drain: the
    * [[graft.io.FoldedFiles.fresh]] listing and record read. */
  def drainFresh(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      requiredCols: Seq[String],
      silverDir: String,
      checkpointDir: String,
      recordBase: String): Option[(DataFrame, () => Unit)] = {
    drainOnce(spark, srcDir, schema, requiredCols, normalizeCols = Nil,
      outDir = silverDir, checkpointDir = checkpointDir)
    val (fresh, commitFolded) = graft.io.FoldedFiles.fresh(spark, silverDir, recordBase)
    if (fresh.isEmpty) None
    else Some((spark.read.schema(schema).parquet(fresh: _*), commitFolded))
  }
}
