package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Audio constellation fingerprints — the peak-pair combinatorial
 * hashing of Wang 2003 (the public Shazam construction: spectrogram →
 * local peaks → (f1, f2, Δt) landmark hashes → shared-hash counting),
 * re-expressed so every step after the codec is EXACT integer
 * arithmetic an SQL engine can replay from raw samples:
 *
 *  - frames of `frameLen` samples (trailing partial frame dropped);
 *  - per frame, a SQUARE-WAVE filter bank instead of an FFT: bin k's
 *    response = Σ_i s(i)·w_k(i) with w_k(i) = 1 − 2·((i/(k+1)) % 2) —
 *    integer correlation against half-period-(k+1) square waves (the
 *    Walsh-function idea), because a float FFT would never replay
 *    bit-for-bit across engines;
 *  - the frame's signature is its TOP-TWO bins by |response| (ties to
 *    the lowest bin; runner-up = argmax excluding the winner), each
 *    CARRYING ITS RESPONSE SIGN — the pure-integer stand-in for
 *    Wang's peak constellation, and the entropy knob, twice over:
 *    a single peak per frame gives only bins²·fanout distinct
 *    landmarks, so at corpus scale every inverted-index bucket grows
 *    ∝ corpus and the candidate join goes quadratic (measured: the
 *    peak-only first cut was the bench's #2 query at sf0.1); and
 *    bins alone still alias — different sources share dominant
 *    PERIODS while differing in PHASE, which the magnitude argmax
 *    cannot see (measured again at sf1: same-period clusters kept
 *    the pair output ~8× its true-dup floor). The sign bit is the
 *    integer shadow of the phase, lifting the per-frame alphabet to
 *    (2·bins)² states:
 *      sig = ((pA·2 + sA)·bins + pA₂)·2 + sA₂,  s = [corr ≥ 0]
 *  - landmarks pair each frame's signature with the next `fanout`
 *    frames': fp = (sig_t·4·bins² + sig_{t+d})·fanout + (d−1) —
 *    time-translation-invariant, like the original;
 *  - near-dups count SHARED DISTINCT fingerprints per candidate pair,
 *    where candidates come from the inverted fp→doc join (Shazam's
 *    index probe; never an all-pairs product).
 *
 * 100 TB shape: fingerprinting is one narrow map (payload in, small
 * int rows out — the payload never survives the projection); the pair
 * stage shuffles (fp)-keyed buckets whose sizes the fingerprint
 * entropy bounds (the top-two design above is what makes that claim
 * true), then aggregates (id_a, id_b) counts — both decomposable. The
 * codec partition is payload-bound
 * (`spark.sql.files.maxPartitionBytes` sizes decode tasks).
 */
object AudioDedup {

  /** Square-wave filter-bank constellation of one PCM sample array:
    * (frame, signature) — exact integer replay of the docblock
    * formulas (|response| desc, bin asc; runner-up = the second row of
    * that order; sign bit = [response ≥ 0] of the CHOSEN rows). */
  def constellation(
      samples: Array[Int], frameLen: Int, bins: Int): Array[(Int, Int)] = {
    require(frameLen >= 2 * bins, "frameLen must cover the largest half-period twice")
    require(bins >= 2, "the top-two signature needs at least two bins")
    val nFrames = samples.length / frameLen
    val out = new Array[(Int, Int)](nFrames)
    var t = 0
    while (t < nFrames) {
      var bestMag = -1L
      var best = 0
      var bestCorr = 0L
      var secondMag = -1L
      var second = 0
      var secondCorr = 0L
      var k = 0
      while (k < bins) {
        val h = k + 1
        var corr = 0L
        var i = 0
        while (i < frameLen) {
          val w = 1 - 2 * ((i / h) % 2)
          corr += samples(t * frameLen + i).toLong * w
          i += 1
        }
        val mag = math.abs(corr)
        if (mag > bestMag) {
          secondMag = bestMag; second = best; secondCorr = bestCorr
          bestMag = mag; best = k; bestCorr = corr
        } else if (mag > secondMag) {
          secondMag = mag; second = k; secondCorr = corr
        }
        k += 1
      }
      val sA = if (bestCorr >= 0) 1 else 0
      val sA2 = if (secondCorr >= 0) 1 else 0
      out(t) = (t, ((best * 2 + sA) * bins + second) * 2 + sA2)
      t += 1
    }
    out
  }

  /** One payload's landmark rows (t, fp); undecodable payloads yield
    * nothing. */
  private def landmarksOf(
      payload: Array[Byte],
      frameLen: Int,
      bins: Int,
      fanout: Int): Seq[(Long, Long)] =
    Multimodal.pcmSamples(payload).toSeq.flatMap { samples =>
      val sigs = constellation(samples, frameLen, bins)
      val sigSpace = 4L * bins * bins
      for {
        (t, sigA) <- sigs
        d <- 1 to fanout
        if t + d < sigs.length
      } yield (t.toLong,
        (sigA * sigSpace + sigs(t + d)._2) * fanout + (d - 1))
    }

  /**
   * Per-payload landmark fingerprints: (idCol, t, fp) — one row per
   * (anchor frame, fanout offset), undecodable payloads drop (the
   * per-row corrupt-blob contract of [[Multimodal.pcmSamples]]); the
   * id keeps its input type ([[Multimodal.payloadRows]]).
   */
  def fingerprints(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      frameLen: Int = 32,
      bins: Int = 8,
      fanout: Int = 3): DataFrame =
    Multimodal.payloadRows(media, idCol, payloadCol, "t", "fp")(
      landmarksOf(_, frameLen, bins, fanout))

  /**
   * Shared-landmark near-dup pairs: candidates from the inverted
   * fp→doc join over DISTINCT per-doc fingerprints, kept when they
   * share at least `minShared`. Output (id_a, id_b, n_shared),
   * id_a < id_b.
   *
   * @param maxDocsPerFp stop-landmark fence: a fingerprint carried by
   *        more than this many documents (silence, test tones, codec
   *        preambles — the audio analog of stopwords) contributes a
   *        near-quadratic bucket to the join while carrying no
   *        discriminative evidence; such landmarks are DROPPED before
   *        the join — a drop-the-stopword policy, unlike the SimHash/
   *        image/video family's fail-loud [[Fences.assertBucketPairs]]
   *        cap, because a saturated landmark genuinely carries no
   *        signal (a hot simhash block might). 0 disables the fence.
   */
  def sharedFingerprintPairs(
      fps: DataFrame, idCol: String, minShared: Long,
      maxDocsPerFp: Long = 0L): DataFrame = {
    val d0 = fps.select(col(idCol), col("fp")).distinct()
    val d =
      if (maxDocsPerFp <= 0L) d0
      else d0.withColumn("__n",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp"))))
        .filter(col("__n") <= maxDocsPerFp)
        .drop("__n")
    val a = d.select(col(idCol).as("id_a"), col("fp"))
    val b = d.select(col(idCol).as("id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * [[sharedFingerprintPairs]]'s batch-vs-corpus PROBE — the
   * incremental-drain shape ([[ImageDedup.hammingProbe]]'s contract in
   * the landmark domain): candidates are the BATCH's distinct
   * fingerprints joined against (standing ∪ batch) distinct
   * fingerprints, so every emitted pair touches the batch
   * (batch×corpus AND batch-internal; never corpus×corpus — the
   * standing store is only read where a batch landmark actually
   * lands, and at cluster scale the store is fp-clustered so that
   * read is a pruned scan). `batch` and `standing` are (idCol, fp)
   * frames with DISJOINT ids (the caller's index-as-ledger anti-join
   * guarantees it). Output (id_a, id_b, n_shared), id_a < id_b,
   * n_shared = distinct shared fps ≥ `minShared`.
   *
   * @param maxDocsPerFp [[sharedFingerprintPairs]]'s stop-landmark
   *        fence, counted over standing ∪ batch (dropping a saturated
   *        landmark from the standing side kills every pair it would
   *        have generated — same semantics as filtering both sides).
   *        0 disables.
   */
  def sharedFingerprintProbe(
      batch: DataFrame,
      standing: DataFrame,
      idCol: String,
      minShared: Long,
      maxDocsPerFp: Long = 0L): DataFrame = {
    val b = batch.select(col(idCol), col("fp")).distinct()
    val all = standing.select(col(idCol), col("fp")).distinct().unionByName(b)
    val kept =
      if (maxDocsPerFp <= 0L) all
      else {
        // decomposable groupBy, not a window: a saturated landmark is
        // exactly the hot key a window partition could not split
        val hot = all.groupBy("fp").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxDocsPerFp).select("fp")
        all.join(hot, Seq("fp"), "left_anti")
      }
    val p = b.select(col("fp"), col(idCol).as("__pi"))
    val s = kept.select(col("fp"), col(idCol).as("__si"))
    p.join(s, Seq("fp"))
      .filter(col("__pi") =!= col("__si"))
      .select(
        least(col("__pi"), col("__si")).as("id_a"),
        greatest(col("__pi"), col("__si")).as("id_b"),
        col("fp"))
      .distinct() // batch-internal pairs arrive in both directions
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
