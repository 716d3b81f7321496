package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Commits

/**
 * Streaming maintenance of the durable positional search index — the
 * landing-zone twin of [[graft.ops.Search.upsertIndex]], built
 * MERGE-ON-READ so a drain never rewrites the standing postings. The
 * postings are a generational store (the protocol, its crash contract
 * and its compaction: [[graft.io.Commits]], "generational store"):
 *
 *  - each drain appends its postings as one generation
 *    (`postings/gen=<n>/tbucket=<b>`), then commits its docs into the
 *    doc LEDGER (doc_id, text_hash, gen — ids and hashes only, never
 *    text), whose version CAS makes a racing drain fail VISIBLY
 *    instead of silently clobbering the winner's ledger;
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

  private def foldedDir(indexDir: String) = s"$indexDir/folded"

  /** Postings partitioned by (gen, tbucket), keyed by doc_id. */
  private def store(indexDir: String) = {
    val postings = s"$indexDir/postings"
    Commits.GenStore(postings, s"$indexDir/ledger", "doc_id",
      _.read.parquet(postings), _.write.partitionBy("gen", "tbucket"))
  }

  /** The live positional index: postings restricted to each doc's
    * ledger generation (broadcast semi-structure — ledger is ids-only).
    * Columns: (token, doc_id, positions, tf) + the layout's `tbucket`. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val s = store(indexDir)
    Commits.liveRows(spark, s, Commits.committedLedger(spark, s)._2)
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
      val s = store(indexDir)
      val read = Commits.readLedger(spark, s) // None on the first drain
      // (id, hash) delta: new docs AND re-crawled changed text
      val delta = read.fold(docs) { case (_, ledger) => docs
          .join(broadcast(ledger.select(col("doc_id"),
            col("text_hash").as("__lh"))), Seq("doc_id"), "left_outer")
          .filter(col("__lh").isNull || col("__lh") =!= col("__h"))
          .select(col("doc_id"), col("__text"), col("__h")) }
        .localCheckpoint() // sized ∝ the drain; feeds postings AND ledger
      val nDelta = delta.count()
      if (nDelta > 0)
        Commits.commitGen(spark, s, read,
          graft.ops.Search.invertedIndex(
              delta.select(col("doc_id"), col("__text")), "__text", "doc_id")
            .withColumn("tbucket", pmod(xxhash64(col("token")), lit(buckets))),
          delta.select(col("doc_id"), col("__h").as("text_hash")),
          delta.select(col("doc_id")))
      // folded record LAST (even on an all-unchanged batch): a crash
      // before this line re-scans the batch next drain, where the hash
      // delta is empty and this commit heals forward
      commitFolded()
      nDelta
    }
  } }

  /**
   * Merge-on-read compaction — fold every LIVE posting into one fresh
   * generation and drop the dead ones and the orphans
   * ([[graft.io.Commits.compactGens]]; the executor the q230 planner
   * decides WHEN to run). Cost ∝ live postings — the rewrite
   * merge-on-read defers, paid once, on schedule, instead of on every
   * drain.
   *
   * Returns the number of generation directories pruned.
   */
  def compactIndex(spark: SparkSession, indexDir: String): Int =
    Commits.withClaim(spark, indexDir)(Commits.compactGens(spark, store(indexDir)))
}
