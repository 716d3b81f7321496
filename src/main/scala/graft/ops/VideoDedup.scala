package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Video near-duplicate detection over REAL frame decode — the video
 * member of the perceptual-hash family ([[ImageDedup]] stills,
 * [[AudioDedup]] constellations): raw Y4M payloads decode through
 * [[Multimodal.y4mFrameGrids]] (pure byte parsing — no codec), every
 * SAMPLED frame pools to a 9×8 luma grid and hashes with the exact
 * [[ImageDedup.hashesOfGrid]] aHash kernel, and two videos are
 * near-dups when enough ALIGNED frames (same sampled frame index)
 * fall within a Hamming ball.
 *
 * Frame alignment is the video-specific part of the trade: re-encodes
 * and noise-level variants of the same cut share frame timing, so
 * matching (frame_idx, hash) beats pooling all frames into one bag —
 * a static-logo channel would otherwise glue unrelated videos. The
 * aligned-frame count `n_frames` is the pair's evidence weight (the
 * [[AudioDedup]] shared-landmark convention).
 *
 * 100 TB shape: decode is one narrow pass over payload bytes (the
 * payload never survives the projection — ~64 bits per sampled frame
 * leave it); candidates come from identical (frame_idx, 16-bit band,
 * value) buckets — pigeonhole-complete for maxHamming ≤ bands−1 per
 * frame, never an all-pairs product; verification is
 * `bit_count(XOR)` on two longs inside the join projection.
 */
object VideoDedup {

  /**
   * Per-sampled-frame perceptual hashes: (idCol, frame_idx, ahash),
   * one row per decodable sampled frame (corrupt/truncated payloads
   * drop whole — the per-row contract of
   * [[Multimodal.y4mFrameGrids]]); the id keeps its input type
   * ([[Multimodal.payloadRows]]).
   */
  def frameHashes(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      gw: Int = 9,
      gh: Int = 8,
      everyN: Int = 2): DataFrame =
    Multimodal.payloadRows(media, idCol, payloadCol, "frame_idx", "ahash")(
      payload => Multimodal.y4mFrameGrids(payload, gw, gh, everyN)
        .getOrElse(Seq.empty)
        .map { case (t, grid) => (t.toLong, ImageDedup.hashesOfGrid(grid, gw)._1) })

  /**
   * Aligned-frame near-dup pairs over [[frameHashes]] output:
   * candidates share an identical (frame_idx, band, value) 16-bit
   * band; a frame alignment verifies at `bit_count(XOR) ≤ maxHamming`;
   * a PAIR reports when ≥ `minFrames` sampled frames align. Output
   * (id_a, id_b, n_frames), id_a < id_b.
   *
   * @param maxHamming banded candidate generation is pigeonhole-
   *        COMPLETE only for maxHamming ≤ bands−1 (=3 at the default
   *        4 bands): per aligned frame, ≤3 flipped bits guarantee an
   *        intact shared band. The default 6 deliberately trades
   *        recall past that bound — a frame pair at Hamming 4–6 whose
   *        flips spread across all four bands is missed for THAT
   *        frame (banded-LSH-approximate recall, recovered at the
   *        PAIR level when other sampled frames of the same cut land
   *        inside the bound) — the exact trade [[ImageDedup]] makes
   *        at maxHamming=10/bands=4. Set maxHamming ≤ bands−1 for
   *        guaranteed per-frame recall.
   * @param maxBucketPairs hot-bucket fence ([[Fences.assertBucketPairs]],
   *        the prefixFilteredPairs convention): a constant
   *        (frame_idx, band, value) bucket — black first frames,
   *        station-logo stills — fails loudly instead of going
   *        quadratic.
   */
  def videoNearDups(
      hashes: DataFrame,
      idCol: String,
      maxHamming: Int = 6,
      bands: Int = 4,
      minFrames: Int = 2,
      maxBucketPairs: Long = 25_000_000L,
      maxBucketPostings: Long = 0L): DataFrame = {
    require(bands >= 1 && bands <= 4, "64-bit hash holds 1..4 16-bit bands")
    require(minFrames >= 1, "minFrames must be >= 1")
    // materialized ONCE: banded frame rows are ~64 bits per sampled
    // frame but derive from the decode-heavy hash stem — the
    // self-join and the fence audit must not re-decode the corpus
    val ex = hashes.select(
        col(idCol), col("frame_idx"), col("ahash").as("__h"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("ahash"), b * 16).bitwiseAND(lit(0xffffL))
              .as("v"))): _*)).as("bb"))
      .select(col(idCol), col("frame_idx"), col("__h"),
        col("bb.band").as("band"), col("bb.v").as("v"))
      .localCheckpoint()
    // stop-bucket continue path (opt-in, [[Fences.stopBuckets]]): drop
    // saturated (frame_idx, band, v) buckets with accounted recall
    // cost instead of tripping the fence — the 100×-scale route
    val exS = Fences.stopBuckets(
      ex, Seq("frame_idx", "band", "v"), maxBucketPostings)
    Fences.assertBucketPairs(
      exS, Seq("frame_idx", "band", "v"), maxBucketPairs,
      "video-frame", "drop static/blank frames, pre-dedup exact payloads")
    val a = exS.select(col("frame_idx"), col("band"), col("v"),
      col(idCol).as("id_a"), col("__h").as("__ha"))
    val b = exS.select(col("frame_idx"), col("band"), col("v"),
      col(idCol).as("id_b"), col("__h").as("__hb"))
    a.join(b, Seq("frame_idx", "band", "v"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= maxHamming)
      .select(col("id_a"), col("id_b"), col("frame_idx"))
      .distinct() // one vote per aligned frame, however many bands hit
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_frames"))
      .filter(col("n_frames") >= minFrames)
  }

  /**
   * [[videoNearDups]]'s batch-vs-corpus PROBE — the incremental-drain
   * shape ([[ImageDedup.hammingProbe]]'s contract with frame
   * alignment): candidates are the BATCH's (frame_idx, band, value)
   * buckets joined against (standing ∪ batch) buckets, so every
   * emitted pair touches the batch (batch×corpus AND batch-internal;
   * never corpus×corpus — the standing store is only read where a
   * batch bucket actually lands, and at cluster scale the store is
   * bucketed by (frame_idx, band, value) so that read is a partition
   * probe). `batch` and `standing` are [[frameHashes]]-shaped frames
   * (idCol, frame_idx, ahash) with DISJOINT ids (the caller's
   * index-as-ledger anti-join guarantees it). Output
   * (id_a, id_b, n_frames), id_a < id_b, n_frames ≥ `minFrames`.
   */
  def videoProbe(
      batch: DataFrame,
      standing: DataFrame,
      idCol: String,
      maxHamming: Int = 6,
      bands: Int = 4,
      minFrames: Int = 2,
      maxBucketPairs: Long = 25_000_000L,
      maxBucketPostings: Long = 0L): DataFrame = {
    require(bands >= 1 && bands <= 4, "64-bit hash holds 1..4 16-bit bands")
    require(minFrames >= 1, "minFrames must be >= 1")
    def banded(df: DataFrame): DataFrame = df.select(
        col(idCol), col("frame_idx"), col("ahash").as("__h"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("ahash"), b * 16).bitwiseAND(lit(0xffffL))
              .as("v"))): _*)).as("bb"))
      .select(col(idCol), col("frame_idx"), col("__h"),
        col("bb.band").as("band"), col("bb.v").as("v"))
    // NOT checkpointed here: the caller hands in materialized hash
    // frames (MediaIngest checkpoints the decode), so the fence pass
    // re-bands cheap checkpoints — checkpointing the standing side
    // HERE would materialize a store-sized frame per drain
    val probeSide = banded(batch)
      .select(col("frame_idx"), col("band"), col("v"),
        col(idCol).as("__pi"), col("__h").as("__ph"))
    // the stop-bucket continue path filters the STANDING side (a
    // dropped bucket yields no candidates regardless of the batch),
    // PROBE-PRUNED so the cap's bucket count stays O(drain), never a
    // per-drain store scan — opt-in, recall-accounted via
    // [[Fences.bucketDropReport]]
    val standSide = Fences.stopProbeBuckets(
      banded(standing.unionByName(batch))
        .select(col("frame_idx"), col("band"), col("v"),
          col(idCol).as("__si"), col("__h").as("__sh")),
      probeSide, Seq("frame_idx", "band", "v"), maxBucketPostings)
    // probe-shaped hot-bucket fence: a saturated standing
    // (frame_idx, band, value) bucket — black first frames, a station
    // logo indexed a million times — would tax EVERY future drain
    // store-proportionally; fail loudly naming it
    Fences.assertProbePairs(probeSide, standSide,
      Seq("frame_idx", "band", "v"), maxBucketPairs, "video-frame",
      "drop static/blank frames, pre-dedup exact payloads")
    probeSide.join(standSide, Seq("frame_idx", "band", "v"))
      .filter(col("__pi") =!= col("__si"))
      .filter(bit_count(col("__ph").bitwiseXOR(col("__sh"))) <= maxHamming)
      .select(
        least(col("__pi"), col("__si")).as("id_a"),
        greatest(col("__pi"), col("__si")).as("id_b"),
        col("frame_idx"))
      .distinct() // one vote per aligned frame; both directions collapse
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_frames"))
      .filter(col("n_frames") >= minFrames)
  }
}
