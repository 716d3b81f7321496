package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Commits
import graft.ops.VideoDedup

/**
 * Incremental VIDEO near-dup gating at the crawl front door — the
 * aligned-frame member of the streaming-maintainer family
 * ([[ImageIngest]] stills, [[AudioIngest]] constellations;
 * `/root/reference` has no streaming or video at all — north-star
 * surface): fetchers land `.warc.gz` archives, each drain reads only
 * the new archives, and the drain's not-yet-indexed video payloads
 * decode → per-sampled-frame aHash words → probe the standing
 * frame-hash index for aligned-frame near-dups → append as one
 * committed batch.
 *
 * Ledger discipline (verbatim [[ImageIngest.maintainImages]]'s): the
 * batch is the silver FILES not yet folded into the index
 * ([[graft.io.FoldedFiles]] — O(drain), never an O(silver) payload
 * scan); the folded record commits LAST so a crash anywhere re-scans
 * the same files next drain; within the batch the frame-hash index
 * doubles as the processed-videos ledger (anti-join on stored ids
 * heals the append/fold crash window without double-decoding); the
 * batch commits marker-last under a deterministic id-derived tag;
 * drains serialize under the index claim.
 *
 * Scale shape: decode is one narrow pass over the drain's payload
 * bytes (~64 bits per sampled frame survive it); the probe is
 * [[VideoDedup.videoProbe]] — batch (frame_idx, band, value) buckets
 * against the store, never store×store; the store accretes
 * (media_id, frame_idx, ahash) rows only (bucket by
 * (frame_idx, band) at cluster scale so the probe is a partition
 * read). Returns this drain's verified pairs (id_a, id_b, n_frames).
 */
object VideoIngest {

  private val hashSchema = StructType(Seq(
    StructField("media_id", StringType, nullable = true),
    StructField("frame_idx", LongType, nullable = false),
    StructField("ahash", LongType, nullable = false)))

  /** The standing frame-hash index (media_id, frame_idx, ahash) —
    * committed batches only; orphans of crashed appends stay
    * invisible. */
  def readFrameHashes(spark: SparkSession, indexDir: String): DataFrame = {
    val batches = Commits.committedBatches(spark, indexDir)
    if (batches.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hashSchema)
    else spark.read.schema(hashSchema).parquet(batches.map(_.toString): _*)
  }

  /**
   * Drain landed WARC archives and gate their videos through the
   * standing frame-hash index. Returns this drain's near-dup pairs;
   * an empty drain (or one with no decodable video) returns an empty
   * frame and commits nothing.
   */
  def maintainVideos(
      spark: SparkSession,
      landingDir: String,
      silverDir: String,
      warcLedgerDir: String,
      indexDir: String,
      maxHamming: Int = 6,
      bands: Int = 4,
      minFrames: Int = 2): DataFrame = Commits.withClaim(spark, indexDir) {
    WarcIngest.drainWarc(spark, landingDir, silverDir, warcLedgerDir)
    val silverPath = new Path(silverDir)
    val sfs = silverPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id_a", StringType, nullable = true),
        StructField("id_b", StringType, nullable = true),
        StructField("n_frames", LongType, nullable = false))))
    if (!sfs.exists(silverPath)) empty
    else {
      val (fresh, commitFolded) =
        graft.io.FoldedFiles.fresh(spark, silverDir, s"$indexDir/folded")
      if (fresh.isEmpty) empty
      else {
        val videos = spark.read.parquet(fresh: _*)
          .filter(col("content_type").startsWith("video/"))
          .select(col("record_id").as("media_id"), col("payload"))
        val standing = readFrameHashes(spark, indexDir).localCheckpoint()
        val standingIds = standing.select("media_id").distinct()
        // index-as-ledger backstop: a crash between the index append
        // and the folded commit replays these files — the anti-join
        // keeps the replay from double-decoding/double-appending, and
        // the stored PAIR REPORT of any touched batch re-surfaces
        // (the crashed drain computed its pairs but never returned
        // them to a caller — [[PairReports]])
        val healed = PairReports.healed(spark, indexDir,
          Commits.committedBatches(spark, indexDir), fresh,
          videos.select("media_id").distinct(), empty.schema)
        val delta = videos.join(standingIds, Seq("media_id"), "left_anti")
        val hashed = VideoDedup.frameHashesStr(delta, "media_id", "payload")
          .localCheckpoint() // one decode: feeds the probe AND the append
        if (hashed.isEmpty) { commitFolded(); healed }
        else {
          val pairs = VideoDedup.videoProbe(
              hashed, standing, "media_id", maxHamming, bands, minFrames)
            .localCheckpoint() // judged against the PRE-append store
          // deterministic tag: a replayed batch overwrites its own orphan
          val tag = Commits.batchTag(hashed.select("media_id").distinct(), "media_id")
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
