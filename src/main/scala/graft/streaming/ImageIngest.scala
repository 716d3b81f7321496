package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Commits
import graft.ops.ImageDedup

/**
 * Incremental IMAGE near-dup gating at the crawl front door — the
 * perceptual-hash member of the streaming-maintainer family: fetchers
 * land `.warc.gz` archives, each drain reads only the new archives
 * ([[WarcIngest.drainWarc]] — its file ledger + record_id anti-join
 * give exactly-once silver), and the drain's not-yet-indexed image
 * payloads decode → aHash → probe the standing hash index for
 * Hamming-ball near-dups → append as one committed batch.
 *
 * Ledger discipline ([[SearchIngest.maintainIndex]]'s): the drain's
 * batch is the silver FILES not yet folded into the index, judged
 * against a durable `folded/v=<n>` record — so each drain reads only
 * new files (O(drain), never an O(silver) payload scan), and the
 * folded record commits LAST so a crash anywhere re-scans the same
 * files next drain. Within the batch, the hash index doubles as the
 * processed-images ledger: fresh images anti-join against stored ids,
 * healing the crash window between the index append and the folded
 * commit without double-hashing (the lesson of the SearchIngest
 * in-memory-listing bug, applied from the start). The batch commits
 * marker-last under a deterministic id-derived tag, so a replayed
 * batch overwrites its own orphan. Drains serialize under the index
 * claim ([[graft.io.Commits.withClaim]]); concurrent drains fail
 * visibly on the claim or the folded-version CAS.
 *
 * Scale shape: decode cost ∝ the drain's payload bytes (hashing emits
 * 2 longs per image — the payload never leaves the projection); the
 * probe is [[ImageDedup.hammingProbe]] — batch bands against the
 * store, never store×store; the store accretes id+hash rows only
 * (bucket it by (band, value) at cluster scale so the probe is a
 * partition read). Returns this drain's verified pairs
 * (id_a, id_b, hamming) — batch×corpus and batch-internal.
 */
object ImageIngest {

  private val hashSchema = StructType(Seq(
    StructField("media_id", StringType, nullable = true),
    StructField("ahash", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** The standing hash index (media_id, ahash, dhash) — committed
    * batches only; orphans of crashed appends stay invisible. */
  def readHashes(spark: SparkSession, indexDir: String): DataFrame = {
    val batches = Commits.committedBatches(spark, indexDir)
    if (batches.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hashSchema)
    else spark.read.schema(hashSchema).parquet(batches.map(_.toString): _*)
  }

  /**
   * Drain landed WARC archives and gate their images through the
   * standing perceptual-hash index. Returns this drain's near-dup
   * pairs; an empty drain (or one with no decodable images) returns an
   * empty frame and commits nothing.
   */
  def maintainImages(
      spark: SparkSession,
      landingDir: String,
      silverDir: String,
      warcLedgerDir: String,
      indexDir: String,
      maxHamming: Int = 6,
      bands: Int = 4): DataFrame = Commits.withClaim(spark, indexDir) {
    // advance landing → silver (exactly-once under drainWarc's own
    // claim + ledgers); the DELTA below deliberately re-derives from
    // silver rather than trusting this return — see the ledger note
    WarcIngest.drainWarc(spark, landingDir, silverDir, warcLedgerDir)
    val silverPath = new Path(silverDir)
    val sfs = silverPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id_a", StringType, nullable = true),
        StructField("id_b", StringType, nullable = true),
        StructField("hamming", LongType, nullable = false))))
    if (!sfs.exists(silverPath)) empty
    else {
      // O(drain) batch: silver data files not yet folded into the
      // index, judged against the durable folded record
      // ([[graft.io.FoldedFiles]]) — every drain reads only new files
      // instead of paying an O(silver) payload scan; silver is
      // append-only flat parquet, so the file set IS the fold unit
      val (fresh, commitFolded) =
        graft.io.FoldedFiles.fresh(spark, silverDir, s"$indexDir/folded")
      if (fresh.isEmpty) empty
      else {
        val images = spark.read.parquet(fresh: _*)
          .filter(col("content_type").startsWith("image/"))
          .select(col("record_id").as("media_id"), col("payload"))
        val standing = readHashes(spark, indexDir).localCheckpoint()
        val standingIds = standing.select("media_id").distinct()
        // index-as-ledger backstop: a crash between the index append
        // and the folded commit replays these files — the anti-join
        // keeps the replay from double-hashing/double-appending, and
        // the stored PAIR REPORT of any batch built from still-fresh
        // files re-surfaces (the crashed drain computed its pairs but
        // never returned them to a caller — [[PairReports]]; detection
        // is commit state, so an at-least-once producer re-delivering
        // an id in a NEW file never re-emits a folded batch's report)
        val healed = PairReports.healed(spark, indexDir,
          Commits.committedBatches(spark, indexDir), fresh,
          images.select("media_id").distinct(), empty.schema)
        val delta = images.join(standingIds, Seq("media_id"), "left_anti")
        val hashed = ImageDedup.perceptualHashesStr(delta, "media_id", "payload")
          .localCheckpoint() // feeds the probe AND the append
        if (hashed.isEmpty) { commitFolded(); healed }
        else {
          val pairs = ImageDedup.hammingProbe(
              hashed, standing, "media_id", "ahash", maxHamming, bands)
            .localCheckpoint() // judged against the PRE-append store
          // deterministic tag: a replayed batch overwrites its own orphan
          val tag = Commits.batchTag(hashed, "media_id")
          val dir = new Path(s"$indexDir/batch=$tag")
          hashed.write.mode("overwrite").parquet(dir.toString)
          // pair report + source-file list BEFORE the marker: a
          // marker-committed batch is always re-readable on replay
          // (the meta-last convention)
          PairReports.persist(pairs, indexDir, tag, fresh)
          Commits.commitBatch(Commits.fsOf(spark, dir), dir) // index commit point
          commitFolded() // folded record LAST: crash before re-scans,
                         // the anti-join above heals the replay
          pairs.unionAll(healed)
        }
      }
    }
  }
}
