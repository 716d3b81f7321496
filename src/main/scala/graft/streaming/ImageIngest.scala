package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Commits
import graft.ops.ImageDedup

/**
 * Incremental IMAGE near-dup gating at the crawl front door — the
 * perceptual-hash member of the [[MediaIngest]] gate (which owns the
 * drain and its ledger discipline): the drain's not-yet-indexed
 * `image/` payloads decode → aHash/dHash
 * ([[ImageDedup.perceptualHashes]]) → probe the standing hash index
 * for Hamming-ball near-dups ([[ImageDedup.hammingProbe]]).
 *
 * Scale shape: decode cost ∝ the drain's payload bytes (hashing emits
 * 2 longs per image — the payload never leaves the projection); the
 * probe joins batch bands against the store, never store×store; the
 * store accretes id+hash rows only (bucket it by (band, value) at
 * cluster scale so the probe is a partition read). Returns this
 * drain's verified pairs (id_a, id_b, hamming) — batch×corpus and
 * batch-internal.
 */
object ImageIngest {

  private val hashSchema = StructType(Seq(
    StructField("media_id", StringType, nullable = true),
    StructField("ahash", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** The standing hash index (media_id, ahash, dhash) — committed
    * batches only; orphans of crashed appends stay invisible. */
  def readHashes(spark: SparkSession, indexDir: String): DataFrame =
    MediaIngest.read(spark, indexDir, hashSchema)

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
    MediaIngest.drain(spark, landingDir, silverDir, warcLedgerDir, indexDir,
      MediaIngest.Modality("image/", hashSchema,
        StructType(Seq(
          StructField("id_a", StringType, nullable = true),
          StructField("id_b", StringType, nullable = true),
          StructField("hamming", LongType, nullable = false))),
        ImageDedup.perceptualHashes(_, "media_id", "payload"),
        ImageDedup.hammingProbe(_, _, "media_id", "ahash", maxHamming, bands)))
  }
}
