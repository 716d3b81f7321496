package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Commits

/**
 * Streaming maintenance of the durable positional search index — the
 * landing-zone twin of [[graft.ops.Search.upsertIndex]], built
 * MERGE-ON-READ so a drain never rewrites the standing postings:
 *
 *  - postings append under `gen=<n>` partitions (one generation per
 *    drain). The generation number is max(on-disk gen)+1 — derived
 *    from the postings DIRECTORIES, not the ledger — so a crashed
 *    writer's orphan generation is never reused: orphans stay
 *    invisible (the ledger never points at them) until compaction
 *    prunes them;
 *  - a doc LEDGER (doc_id, text_hash, gen — ids and hashes only,
 *    never text) names each document's LIVE generation. It is a
 *    VERSIONED store ([[graft.io.Commits.commitVersion]]):
 *    each rewrite stages into a hidden tmp dir and renames into
 *    `ledger/v=<n>` — a crash mid-swap can no longer lose the whole
 *    doc→generation mapping (the previous version is intact until the
 *    new one is complete), and a concurrent drain that raced this one
 *    fails VISIBLY on the version CAS instead of silently clobbering
 *    the winner's ledger. The ledger commits AFTER the postings, so a
 *    crash in between leaves an orphan generation the reader never
 *    sees;
 *  - a FOLDED record (same versioned protocol, `folded/v=<n>`) is the
 *    durable list of silver files already folded into the index. The
 *    drain batch is silver-files MINUS this record — durable, so a
 *    crash between the silver drain and the index fold can no longer
 *    permanently skip those documents (an in-memory before/after
 *    listing would recompute "before" to include them). It commits
 *    LAST: a crash before it re-scans the batch next drain, where the
 *    (id, text_hash) delta check finds nothing new and the record
 *    heals forward;
 *  - [[readIndex]] joins postings against the broadcast ledger on
 *    (doc_id, gen): stale generations and orphans drop map-side — the
 *    standing index is scanned once and NEVER reshuffled (the
 *    SignatureIndex probe discipline);
 *  - delta detection is (id, text_hash) against the ledger, so a
 *    re-crawled page with CHANGED text re-indexes while unchanged
 *    re-deliveries cost nothing.
 *
 * The price of merge-on-read is dead rows accumulating across
 * generations; the compaction companion is a rewrite of live postings
 * into one fresh generation (the q129/q230 planner owns when) —
 * deliberately out of this maintainer, which must stay O(drain).
 */
object SearchIngest {

  private def ledgerDir(indexDir: String) = s"$indexDir/ledger"
  private def foldedDir(indexDir: String) = s"$indexDir/folded"
  private def postingsDir(indexDir: String) = s"$indexDir/postings"

  /** Highest generation present ON DISK (committed or orphaned), or -1
    * on an empty store — the collision-free source of the next gen. */
  private def maxGenOnDisk(spark: SparkSession, indexDir: String): Int = {
    val p = new Path(postingsDir(indexDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("gen="))
      .flatMap(n => scala.util.Try(n.stripPrefix("gen=").toInt).toOption)
      .reduceOption(_ max _).getOrElse(-1)
  }

  /** The live positional index: postings restricted to each doc's
    * ledger generation (broadcast semi-structure — ledger is ids-only).
    * Columns: (token, doc_id, positions, tf) + the layout's `tbucket`. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val ledger = Commits.readVersioned(spark, ledgerDir(indexDir))
      .getOrElse(sys.error(s"no committed ledger under ${ledgerDir(indexDir)}"))
      ._2.select(col("doc_id"), col("gen"))
    spark.read.parquet(postingsDir(indexDir))
      .join(broadcast(ledger), Seq("doc_id", "gen"), "left_semi")
  }

  /**
   * Drain newly landed JSONL docs and fold them into the index.
   * Returns the number of documents (re)indexed this drain.
   *
   * Crash/concurrency contract: every state the index can be observed
   * in is one of {previous committed, new committed}; a crash at any
   * point heals forward on the next drain (orphan generations stay
   * invisible, un-folded silver files re-enter the batch), and a
   * concurrent drain fails visibly on the ledger/folded version CAS
   * ([[graft.io.Commits.ConcurrentWriteException]]) — never a silent
   * lost update.
   */
  def maintainIndex(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      silverDir: String,
      checkpointDir: String,
      indexDir: String,
      buckets: Int = 16): Long = {
    require(buckets >= 1, "buckets must be >= 1")
    // exclusive writer claim: the version CAS below catches a racing
    // ledger commit, but two IN-FLIGHT drains could first both append
    // postings at the same generation number — the claim serializes
    // writers up front (released on any in-process exit)
    Commits.withClaim(spark, indexDir) {
    // the drain's BATCH is the silver files not yet folded into the
    // index, judged against the DURABLE folded record — an append-only
    // silver keeps every superseded version of a re-crawled doc, so
    // "delta vs ledger over ALL of silver" would resurrect stale rows
    // forever (and pay an O(silver) scan per drain); the durable diff
    // keeps the drain O(batch) AND survives a crash between the silver
    // drain and the fold (an in-memory pre/post listing would not)
    IngestStream.drainFresh(spark, landingDir, schema, Seq(idCol, textCol),
        silverDir, checkpointDir, foldedDir(indexDir)).fold(0L) {
      case (batch, commitFolded) =>
      // one version per doc per drain is the landing-zone contract; a
      // violating batch resolves to the max (hash, text) — deterministic
      val docs = batch.select(col(idCol).as("doc_id"),
          col(textCol).as("__text"))
        .withColumn("__h", xxhash64(col("__text")))
        .groupBy("doc_id")
        .agg(max(struct(col("__h"), col("__text"))).as("__m"))
        .select(col("doc_id"), col("__m.__text").as("__text"),
          col("__m.__h").as("__h"))
      val ledgerRead = Commits.readVersioned(spark, ledgerDir(indexDir))
      val ledgerVersion = ledgerRead.map(_._1).getOrElse(-1)
      val ledger = ledgerRead.map(_._2).getOrElse(
        spark.range(0).select(col("id").as("doc_id"),
          col("id").as("text_hash"), col("id").cast("int").as("gen")))
      // (id, hash) delta: new docs AND re-crawled changed text
      val delta = docs
        .join(broadcast(ledger.select(col("doc_id"),
          col("text_hash").as("__lh"))), Seq("doc_id"), "left_outer")
        .filter(col("__lh").isNull || col("__lh") =!= col("__h"))
        .select(col("doc_id"), col("__text"), col("__h"))
        .localCheckpoint() // sized ∝ the drain; feeds postings AND ledger
      val nDelta = delta.count()
      if (nDelta > 0) {
        val gen = maxGenOnDisk(spark, indexDir) + 1
        graft.ops.Search.invertedIndex(
            delta.select(col("doc_id"), col("__text")), "__text", "doc_id")
          .withColumn("tbucket", pmod(xxhash64(col("token")), lit(buckets)))
          .withColumn("gen", lit(gen))
          .write.mode("append")
          .partitionBy("gen", "tbucket")
          .parquet(postingsDir(indexDir))
        // ledger SECOND: a crash before this point leaves gen an
        // invisible orphan; the version CAS makes a racing drain fail
        // visibly instead of silently dropping this drain's mapping
        val newLedger = ledger
          .join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(delta.select(col("doc_id"),
            col("__h").as("text_hash"), lit(gen).as("gen")))
        Commits.commitVersion(newLedger, ledgerDir(indexDir), ledgerVersion)
      }
      // folded record LAST (even on an all-unchanged batch): a crash
      // before this line re-scans the batch next drain, where the hash
      // delta is empty and this commit heals forward
      commitFolded()
      nDelta
    }
  } }

  /**
   * Merge-on-read compaction — fold every LIVE posting into one fresh
   * generation and drop the dead ones (the executor the q230 planner
   * decides WHEN to run). Crash-safe by the same ledger-last protocol
   * as a drain: the consolidated generation is written first under a
   * NEVER-REUSED number (max on-disk gen + 1, so a crashed compaction
   * at gen N can never leave orphan partitions that a later writer at
   * the same N would make live), the versioned-ledger swap makes it
   * live all-or-nothing (readers join on (doc, gen) — they see either
   * all-old or all-new, and the previous ledger version survives until
   * the new one is complete), and only THEN are dead generation
   * directories and stale staging dirs pruned. Cost ∝ live postings —
   * the rewrite merge-on-read defers, paid once, on schedule, instead
   * of on every drain.
   *
   * Returns the number of generation directories pruned.
   */
  def compactIndex(spark: SparkSession, indexDir: String): Int =
    Commits.withClaim(spark, indexDir) {
    val live = readIndex(spark, indexDir)
      .localCheckpoint() // sever lineage from the dirs being replaced
    val gen = maxGenOnDisk(spark, indexDir) + 1
    live.drop("gen")
      .withColumn("gen", lit(gen))
      .write.mode("append")
      .partitionBy("gen", "tbucket")
      .parquet(postingsDir(indexDir))
    val (ledgerVersion, ledger) =
      Commits.readVersioned(spark, ledgerDir(indexDir))
        .getOrElse(sys.error(s"no committed ledger under ${ledgerDir(indexDir)}"))
    Commits.commitVersion(
      ledger.select(col("doc_id"), col("text_hash"), lit(gen).as("gen")),
      ledgerDir(indexDir), ledgerVersion)
    // dead generations are now unreachable — prune their directories
    val pPath = new Path(postingsDir(indexDir))
    val fs = pPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = fs.listStatus(pPath)
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("gen=") && n != s"gen=$gen"
      }
    dead.foreach(fs.delete(_, true))
    dead.length
  }
}
