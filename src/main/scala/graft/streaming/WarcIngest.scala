package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Web-archive landing-zone ingestion — the batch-incremental front
 * door of a crawl pipeline: fetchers land `.warc.gz` archives in a
 * directory, and each scheduled drain reads ONLY the archives that
 * have not been processed yet (cost ∝ the batch, never the corpus —
 * the [[CorpusIngest]] discipline applied to the WARC source).
 *
 * Ledger design: the [[graft.io.FileLedger]] of processed archive
 * paths (set semantics, distributed anti-join diff). Why not
 * Structured Streaming's file source: SS checkpoints key on the FILE
 * format reader, and [[graft.sources.WarcSource]] is a batch
 * DataSourceV2 — a driver-listed diff against a durable ledger gives
 * the same only-new-files contract and keeps archive listing explicit
 * and testable.
 *
 * Crash safety, step by step: silver appends BEFORE the ledger
 * records the files, so
 *  - a crash after the silver append and before the ledger append
 *    re-reads those archives next drain, and the `record_id`
 *    anti-join drops every already-landed record (WARC record ids
 *    are globally unique URNs — ISO 28500 mandates it); the drain
 *    converges forward with zero duplicates;
 *  - a lost/deleted ledger degrades to a full re-read (expensive,
 *    correct): everything anti-joins away and the ledger rebuilds.
 *
 * Returns the records THIS drain appended (empty frame when nothing
 * new landed).
 */
object WarcIngest {

  private val silverSchema = StructType(Seq(
    StructField("record_id", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("payload", org.apache.spark.sql.types.BinaryType, nullable = true),
    StructField("source_file", StringType, nullable = false)))

  def drainWarc(
      spark: SparkSession,
      landingDir: String,
      silverDir: String,
      ledgerDir: String): DataFrame =
    // exclusive drain claim: the drain spans two non-transactional
    // appends (silver records, then the file ledger), and two
    // CONCURRENT drains would both read the pre-append silver and
    // double-append the same records — the claim makes the second
    // drain fail visibly instead ([[graft.io.Commits.withClaim]]);
    // released on any in-process exit, so only a process crash leaves
    // it stale (named in the error; forceReleaseClaim recovers, and
    // the crash-replay path itself stays automatic via the record_id
    // anti-join below)
    graft.io.Commits.withClaim(spark, ledgerDir) {
    val newFiles = graft.io.FileLedger.fresh(spark,
      graft.io.FileLedger.list(spark, landingDir,
        n => n.endsWith(".warc") || n.endsWith(".warc.gz")),
      ledgerDir)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], silverSchema)
    if (newFiles.isEmpty) return empty

    // read ONLY the new archives — one WarcSource scan per file,
    // unioned at the PLAN level (no shuffle); record-boundary-aware
    // splits still apply within each archive
    val batch = newFiles.map { f =>
      spark.read.format("graft.sources.WarcSource").option("path", f).load()
        .select(col("record_id"), col("target_uri"), col("warc_date"),
          col("content_type"), col("payload"), col("path").as("source_file"))
    }.reduce(_ unionByName _)

    val silverPath = new Path(silverDir)
    val fresh =
      (if (graft.io.Commits.fsOf(spark, silverPath).exists(silverPath)) {
        val seen = spark.read.schema(silverSchema).parquet(silverDir)
          .select(col("record_id"))
        batch.join(seen, Seq("record_id"), "left_anti")
      } else batch).localCheckpoint() // pin the batch: it is appended
                                      // below and then returned

    if (!fresh.isEmpty) fresh.write.mode("append").parquet(silverDir)
    // ledger append LAST (see crash-safety note in the header)
    graft.io.FileLedger.record(spark, newFiles, ledgerDir)
    fresh
  }
}
