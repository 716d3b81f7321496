package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The processed-file ledger of a landing-zone drain
 * ([[graft.streaming.WarcIngest.drainWarc]],
 * [[graft.streaming.LayoutMaintain.drainStats]]): an append-only
 * parquet log of `(file)` paths with SET semantics — duplicate appends
 * are harmless, the diff treats the ledger as a set. Each drain lists
 * its landing dir, processes only the files the ledger lacks, and
 * records them LAST: a crash before the record re-reads those files
 * next drain, where the caller's own downstream key keeps the replay
 * idempotent; a lost ledger degrades to a full re-read (expensive,
 * correct). The caller holds the drain claim around the whole drain.
 *
 * The diff is a DISTRIBUTED left-anti join: a multi-year 100 TB
 * landing zone's ledger is millions of rows and never reaches the
 * driver — only the batch-∝ new-file result is collected.
 */
object FileLedger {

  /** Recursive listing of the files under `dir` whose name passes
    * `keep` (sorted for deterministic drain order); empty when the dir
    * does not exist. */
  def list(spark: SparkSession, dir: String, keep: String => Boolean): Seq[String] = {
    val p = new Path(dir)
    val fs = Commits.fsOf(spark, p)
    def walk(d: Path): Seq[String] = fs.listStatus(d).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (keep(st.getPath.getName)) Seq(st.getPath.toString)
      else Nil
    }
    if (fs.exists(p)) walk(p).sorted else Seq.empty
  }

  /** The `listed` files NOT yet in the ledger. The ledger (zone-∝) is
    * processed by executors and never collected; Catalyst picks the
    * strategy (ledger-side broadcast while the ledger is small, shuffle
    * join once it is not — an anti join never broadcasts its preserved
    * side, so no hint is pinned). */
  private[graft] def unseen(
      spark: SparkSession, listed: Seq[String], ledgerDir: String): DataFrame = {
    import spark.implicits._
    val ledger = spark.read.parquet(ledgerDir).select(col("file"))
    listed.toDF("file").join(ledger, Seq("file"), "left_anti")
  }

  /** The `listed` files this drain must process (sorted): the [[unseen]]
    * diff once the ledger holds DATA files — the drain claim marker
    * (hidden `_` name) may have created its directory on a first drain. */
  def fresh(spark: SparkSession, listed: Seq[String], ledgerDir: String): Seq[String] = {
    val p = new Path(ledgerDir)
    val fs = Commits.fsOf(spark, p)
    def hasData = fs.exists(p) &&
      fs.listStatus(p).exists(s => s.isFile && !Commits.hidden(s.getPath.getName))
    if (listed.isEmpty) Seq.empty
    else if (hasData)
      unseen(spark, listed, ledgerDir).collect().map(_.getString(0)).sorted.toSeq
    else listed
  }

  /** Record `files` as processed — one ledger file per drain, written
    * LAST (after the drain's own output). */
  def record(spark: SparkSession, files: Seq[String], ledgerDir: String): Unit = {
    import spark.implicits._
    files.toDF("file").coalesce(1).write.mode("append").parquet(ledgerDir)
  }
}
