package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Image perceptual-hash near-duplication — the image-content twin of
 * the SimHash text pipeline (`/root/reference` has no multimodal ops
 * at all; this is north-star surface): decode → 8×8 luma pooling →
 * 64-bit aHash/dHash → banded Hamming-ball pairs. The standard public
 * perceptual-hash construction (average hash / difference hash over a
 * downsampled grayscale grid — the krawetz aHash/dHash family), built
 * so every step after the codec is EXACT integer arithmetic an
 * SQL engine can replay from raw pixels:
 *
 *  - [[graft.ops.Multimodal.lumaGrid]] pools BT.601 integer luma into
 *    a (gw×gh) grid with floor block boundaries (sum, one integer
 *    division — no float resize kernel, which would never replay);
 *  - aHash bit (r,c) = grid(r,c) > floor(mean of the 8×8 subgrid) —
 *    brightness-structure signature, invariant to uniform brightness
 *    shifts by construction;
 *  - dHash bit (r,c) = grid(r,c+1) > grid(r,c) (horizontal gradient
 *    sign over a 9-wide grid) — robust to global level AND contrast
 *    changes;
 *  - bits pack row-major into ONE signed 64-bit word (bit 63 rides the
 *    sign — both engines use two's-complement BIGINT);
 *  - near-dup candidates share any 16-bit band of the hash (the
 *    pigeonhole LSH of the q31 SimHash shape: ≤3 flipped bits
 *    GUARANTEE a shared band at 4 bands; beyond that recall is
 *    banded-LSH-approximate, and the oracle replays the same banding
 *    so parity is exact either way); verification is
 *    `bit_count(a XOR b) <= maxHamming` — codegen'd builtins, no UDF.
 *
 * 100 TB shape: hashing is one narrow map over payloads (64 bits out
 * per image — the payload column never survives the projection); the
 * pair join is keyed on (band, value) buckets, never all-pairs; the
 * verify filter runs INSIDE the join projection on two longs. The
 * decode partition is payload-bound, so
 * `spark.sql.files.maxPartitionBytes` sizes decode tasks, not row
 * count.
 */
object ImageDedup {

  /** aHash/dHash of a pooled luma grid (row-major, `gw`≥9 wide for the
    * dHash gradient column): exact integer replay of the docblock
    * formulas. Returns (ahash, dhash). */
  def hashesOfGrid(grid: Array[Int], gw: Int): (Long, Long) = {
    require(gw >= 9, "dHash needs a 9-wide grid (8 horizontal gradients)")
    var sum = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) { sum += grid(r * gw + c); c += 1 }
      r += 1
    }
    val mean = sum / 64
    var ahash = 0L
    var dhash = 0L
    r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val bit = r * 8 + c
        if (grid(r * gw + c) > mean) ahash |= 1L << bit
        if (grid(r * gw + c + 1) > grid(r * gw + c)) dhash |= 1L << bit
        c += 1
      }
      r += 1
    }
    (ahash, dhash)
  }

  /**
   * Per-image perceptual hashes: (idCol, ahash, dhash), one row per
   * DECODABLE payload (corrupt blobs drop — the per-row contract of
   * [[Multimodal.lumaGrid]]; a corpus decode job must never die on one
   * bad byte stream). One narrow pass: payload bytes enter, two longs
   * leave; the id keeps its input type ([[Multimodal.payloadRows]]).
   */
  def perceptualHashes(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      gw: Int = 9,
      gh: Int = 8): DataFrame =
    Multimodal.payloadRows(media, idCol, payloadCol, "ahash", "dhash")(
      payload => Multimodal.lumaGrid(payload, gw, gh).map(hashesOfGrid(_, gw)))

  /** The hash split into `bands` 16-bit LSH keys (arithmetic shift +
    * mask — sign-safe, engine-portable). */
  private def bandValue(hash: Column, b: Int): Column =
    shiftright(hash, b * 16).bitwiseAND(lit(0xffffL))

  /**
   * Hamming-ball near-dup pairs over a 64-bit hash column: candidates
   * share any 16-bit band (pigeonhole-complete for maxHamming ≤
   * bands−1; banded-LSH recall beyond), verified with
   * `bit_count(XOR) <= maxHamming`. Output (id_a, id_b, hamming),
   * id_a < id_b, distinct. The join is keyed on (band, value) — bucket
   * sizes are hash-uniform small, never a corpus×corpus product.
   */
  def hammingNearDups(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 10,
      bands: Int = 4,
      maxBucketPairs: Long = 25_000_000L,
      maxBucketPostings: Long = 0L): DataFrame = {
    require(bands >= 1 && bands <= 4, "64-bit hash holds 1..4 16-bit bands")
    // materialized ONCE: the banded frame is tiny (id + hash + band/v,
    // ≤4 rows per image) but derives from the decode-heavy hash stem —
    // without the checkpoint the self-join AND the fence audit would
    // each re-decode the corpus (the candidatePairs pattern)
    val ex = hashes.select(
        col(idCol), col(hashCol).as("__h"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), bandValue(col(hashCol), b).as("v"))): _*))
          .as("bb"))
      .select(col(idCol), col("__h"),
        col("bb.band").as("band"), col("bb.v").as("v"))
      .localCheckpoint()
    // stop-bucket continue path (opt-in, [[Fences.stopBuckets]]): drop
    // saturated (band, v) buckets with accounted recall cost instead
    // of tripping the fence — the 100×-scale route
    val exS = Fences.stopBuckets(ex, Seq("band", "v"), maxBucketPostings)
    // hot-bucket fence (the prefixFilteredPairs/Linkage convention): a
    // constant hash band — black frames, letterbox bars, a template
    // thumbnail re-encoded a million times — concentrates one
    // (band, v) bucket that alone makes the join quadratic
    Fences.assertBucketPairs(exS, Seq("band", "v"), maxBucketPairs,
      "image-hamming", "pre-dedup exact payload copies, drop blank media")
    val a = exS.select(col("band"), col("v"),
      col(idCol).as("id_a"), col("__h").as("__ha"))
    val b = exS.select(col("band"), col("v"),
      col(idCol).as("id_b"), col("__h").as("__hb"))
    a.join(b, Seq("band", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * [[hammingNearDups]]'s batch-vs-corpus PROBE — the incremental-drain
   * shape: candidates are the BATCH's bands joined against
   * (corpus ∪ batch) bands, so every emitted pair touches the batch
   * (batch×corpus AND batch-internal; never corpus×corpus — the
   * standing side is only read where a batch band actually lands, and
   * at cluster scale the store is bucketed by (band, value) so that
   * read is a partition probe). Pairs are normalized (id_a < id_b) and
   * distinct; output (id_a, id_b, hamming) with hamming ≤ maxHamming.
   * `batch` and `corpus` ids must be disjoint (the caller's
   * index-as-ledger anti-join guarantees it).
   */
  def hammingProbe(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 10,
      bands: Int = 4,
      maxBucketPairs: Long = 25_000_000L,
      maxBucketPostings: Long = 0L): DataFrame = {
    require(bands >= 1 && bands <= 4, "64-bit hash holds 1..4 16-bit bands")
    def banded(df: DataFrame): DataFrame = df.select(
        col(idCol), col(hashCol).as("__h"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), bandValue(col(hashCol), b).as("v"))): _*))
          .as("bb"))
      .select(col(idCol), col("__h"),
        col("bb.band").as("band"), col("bb.v").as("v"))
    // NOT checkpointed here: both callers (MediaIngest, the q-entry
    // fixtures) hand in already-materialized hash frames, so the fence
    // pass below re-bands a cheap checkpoint — while checkpointing the
    // standing side HERE would materialize a store-sized frame per
    // drain
    val probeSide = banded(batch.select(col(idCol), col(hashCol)))
      .select(col("band"), col("v"), col(idCol).as("__pi"), col("__h").as("__ph"))
    // the stop-bucket continue path filters the STANDING side (a
    // dropped bucket yields no candidates regardless of the batch),
    // PROBE-PRUNED so the cap's bucket count stays O(drain), never a
    // per-drain store scan — opt-in, recall-accounted via
    // [[Fences.bucketDropReport]]
    val standSide = Fences.stopProbeBuckets(
      banded(
        corpus.select(col(idCol), col(hashCol))
          .unionByName(batch.select(col(idCol), col(hashCol))))
      .select(col("band"), col("v"), col(idCol).as("__si"), col("__h").as("__sh")),
      probeSide, Seq("band", "v"), maxBucketPostings)
    // probe-shaped hot-bucket fence (the assertBucketPairs convention
    // in the incremental regime): a saturated standing band — a
    // template thumbnail indexed a million times — would tax EVERY
    // future drain store-proportionally; fail loudly naming it
    Fences.assertProbePairs(probeSide, standSide, Seq("band", "v"),
      maxBucketPairs, "image-hamming",
      "pre-dedup exact payload copies, drop blank media")
    probeSide.join(standSide, Seq("band", "v"))
      .filter(col("__pi") =!= col("__si"))
      .select(
        least(col("__pi"), col("__si")).as("id_a"),
        greatest(col("__pi"), col("__si")).as("id_b"),
        bit_count(col("__ph").bitwiseXOR(col("__sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
