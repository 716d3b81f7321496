package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Commits
import graft.ops.AudioDedup

/**
 * Incremental AUDIO near-dup gating at the crawl front door — the
 * constellation-fingerprint member of the [[MediaIngest]] gate (which
 * owns the drain and its ledger discipline; the reference pipeline has no
 * streaming or audio at all — north-star surface): the drain's
 * not-yet-indexed `audio/` payloads decode → landmark fingerprints
 * ([[AudioDedup.fingerprints]]) → probe the standing fingerprint index
 * for shared-landmark near-dups
 * ([[AudioDedup.sharedFingerprintProbe]]). The fingerprint geometry is
 * the store's identity: the first drain pins it, every later drain
 * must match.
 *
 * Scale shape: decode cost ∝ the drain's payload bytes (landmarks are
 * 3 small ints per frame — the payload never leaves the projection);
 * the probe joins batch landmarks against the store, never
 * store×store; the store accretes (media_id, t, fp) rows only
 * (fp-cluster it at cluster scale so the probe is a pruned read).
 * Returns this drain's verified pairs (id_a, id_b, n_shared) —
 * batch×corpus and batch-internal.
 */
object AudioIngest {

  private val fpSchema = StructType(Seq(
    StructField("media_id", StringType, nullable = true),
    StructField("t", LongType, nullable = false),
    StructField("fp", LongType, nullable = false)))

  /** Write-once geometry record for the standing store (claim held by
    * the caller). Later drains fail loudly on drift instead of
    * silently probing nothing against unmatchable landmarks. */
  private def pinGeometry(
      spark: SparkSession, indexDir: String,
      frameLen: Int, bins: Int, fanout: Int): Unit = {
    val p = new Path(indexDir, "_graft_geometry.json")
    val fs = Commits.fsOf(spark, p)
    val want = s"""{"frame_len": $frameLen, "bins": $bins, "fanout": $fanout}"""
    if (!fs.exists(p)) Commits.writeText(fs, p, want, overwrite = false)
    else {
      val got = Commits.readText(fs, p)
      require(got == want,
        s"audio-ingest geometry drift at $indexDir: store pinned $got, " +
          s"this drain passed $want — a drifted drain would probe " +
          "nothing and poison the store; use the pinned parameters")
    }
  }

  /** The standing fingerprint index (media_id, t, fp) — committed
    * batches only; orphans of crashed appends stay invisible. */
  def readFingerprints(spark: SparkSession, indexDir: String): DataFrame =
    MediaIngest.read(spark, indexDir, fpSchema)

  /**
   * Drain landed WARC archives and gate their audio through the
   * standing fingerprint index. Returns this drain's near-dup pairs;
   * an empty drain (or one with no decodable audio) returns an empty
   * frame and commits nothing.
   */
  def maintainAudio(
      spark: SparkSession,
      landingDir: String,
      silverDir: String,
      warcLedgerDir: String,
      indexDir: String,
      minShared: Long = 8L,
      bins: Int = 16,
      frameLen: Int = 32,
      fanout: Int = 3,
      maxDocsPerFp: Long = 0L): DataFrame = Commits.withClaim(spark, indexDir) {
    // geometry pin FIRST, on every drain (empty ones too): a drain
    // hashed with drifted parameters would silently probe nothing AND
    // poison the store with unmatchable landmarks
    pinGeometry(spark, indexDir, frameLen, bins, fanout)
    MediaIngest.drain(spark, landingDir, silverDir, warcLedgerDir, indexDir,
      MediaIngest.Modality("audio/", fpSchema,
        StructType(Seq(
          StructField("id_a", StringType, nullable = true),
          StructField("id_b", StringType, nullable = true),
          StructField("n_shared", LongType, nullable = false))),
        AudioDedup.fingerprints(_, "media_id", "payload", frameLen, bins, fanout),
        AudioDedup.sharedFingerprintProbe(_, _, "media_id", minShared, maxDocsPerFp)))
  }
}
