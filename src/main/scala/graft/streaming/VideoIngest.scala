package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Commits
import graft.ops.VideoDedup

/**
 * Incremental VIDEO near-dup gating at the crawl front door — the
 * aligned-frame member of the [[MediaIngest]] gate (which owns the
 * drain and its ledger discipline; the reference pipeline has no streaming
 * or video at all — north-star surface): the drain's not-yet-indexed
 * `video/` payloads decode → per-sampled-frame aHash words
 * ([[VideoDedup.frameHashes]]) → probe the standing frame-hash index
 * for aligned-frame near-dups ([[VideoDedup.videoProbe]]).
 *
 * Scale shape: decode is one narrow pass over the drain's payload
 * bytes (~64 bits per sampled frame survive it); the probe joins
 * batch (frame_idx, band, value) buckets against the store, never
 * store×store; the store accretes (media_id, frame_idx, ahash) rows
 * only (bucket by (frame_idx, band) at cluster scale so the probe is
 * a partition read). Returns this drain's verified pairs
 * (id_a, id_b, n_frames).
 */
object VideoIngest {

  private val hashSchema = StructType(Seq(
    StructField("media_id", StringType, nullable = true),
    StructField("frame_idx", LongType, nullable = false),
    StructField("ahash", LongType, nullable = false)))

  /** The standing frame-hash index (media_id, frame_idx, ahash) —
    * committed batches only; orphans of crashed appends stay
    * invisible. */
  def readFrameHashes(spark: SparkSession, indexDir: String): DataFrame =
    MediaIngest.read(spark, indexDir, hashSchema)

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
    MediaIngest.drain(spark, landingDir, silverDir, warcLedgerDir, indexDir,
      MediaIngest.Modality("video/", hashSchema,
        StructType(Seq(
          StructField("id_a", StringType, nullable = true),
          StructField("id_b", StringType, nullable = true),
          StructField("n_frames", LongType, nullable = false))),
        VideoDedup.frameHashes(_, "media_id", "payload"),
        VideoDedup.videoProbe(_, _, "media_id", maxHamming, bands, minFrames)))
  }
}
