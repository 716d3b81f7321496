package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental zone-map maintenance — how a lakehouse actually keeps
 * the [[graft.io.ZoneMap]] file-stats index current: data files keep
 * landing in a table directory, and each scheduled drain computes
 * per-file min/max stats FOR THE NEW FILES ONLY and appends them to a
 * durable stats ledger (the Delta/Iceberg txn-log stats pattern,
 * maintained at ingest instead of rebuilt by scans).
 *
 * Mechanics are [[WarcIngest]]'s drain contract, through the same
 * [[graft.io.FileLedger]]:
 *  - the diff of listed data files against the ledger is a DISTRIBUTED
 *    left-anti join (a multi-year zone's ledger never reaches the
 *    driver; only the batch-∝ new-file list is collected);
 *  - stats append BEFORE the ledger records the files, so a crash
 *    between the two re-reads those files next drain and the ledger
 *    diff — keyed on the file path — keeps the replay idempotent at
 *    the consumer (readers MAX-merge duplicate stats rows per file;
 *    min/max are idempotent under re-aggregation, which is why zone
 *    maps tolerate at-least-once maintenance where row counts would
 *    not);
 *  - a lost ledger degrades to a full stats rebuild (expensive,
 *    correct).
 *
 * Stats are computed with `input_file_name()` grouping over a scan
 * RESTRICTED to the new files (one narrow read of the batch, zero
 * shuffle beyond the |new files|-row aggregation).
 *
 * Returns the stats rows THIS drain appended (empty when nothing new).
 */
object LayoutMaintain {

  /**
   * One drain: stat the new files of `tableDir` over `cols`, append to
   * `statsDir`, then record the files in `ledgerDir`.
   * Stats schema: (file, n_rows, `<c>_mn`, `<c>_mx` per tracked col).
   */
  def drainStats(
      spark: SparkSession,
      tableDir: String,
      statsDir: String,
      ledgerDir: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one tracked column")
    // exclusive drain claim (the WarcIngest discipline): two in-flight
    // drains would both read the pre-append ledger and double-append
    // the same stats rows — readers DO max-merge (min/max tolerate
    // at-least-once), but a concurrent drain is an operator error that
    // should fail visibly, not dilute silently into duplicate rows
    graft.io.Commits.withClaim(spark, ledgerDir) {
    val listed = graft.io.FileLedger.list(spark, tableDir, _.endsWith(".parquet"))
    val batch = graft.io.FileLedger.fresh(spark, listed, ledgerDir)
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_mn"), max(col(c)).as(s"${c}_mx")))
    if (batch.isEmpty) {
      // schema-stable empty frame: stat a zero-row slice of the table
      if (listed.isEmpty) spark.emptyDataFrame
      else spark.read.parquet(listed.head).limit(0)
        .select(lit("").as("file") +: cols.map(col): _*)
        .groupBy("file").agg(aggs.head, aggs.tail: _*).limit(0)
    } else {
      val stats = spark.read.parquet(batch: _*)
        .select(input_file_name().as("file") +: cols.map(col): _*)
        .groupBy("file")
        .agg(aggs.head, aggs.tail: _*)
        .localCheckpoint() // stats append + return; never recompute
      stats.write.mode("append").parquet(statsDir)
      graft.io.FileLedger.record(spark, batch, ledgerDir)
      stats
    }
  } }
}
