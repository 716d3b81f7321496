package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity
import graft.ops.Nsw

class SimilaritySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def vec(xs: Double*) = xs.map(_.toFloat).toArray

  test("dot and cosine on known vectors") {
    val df = Seq(
      (vec(1, 0, 0), vec(1, 0, 0)),
      (vec(1, 0, 0), vec(0, 1, 0)),
      (vec(1, 2, 3), vec(4, 5, 6))
    ).toDF("a", "b")
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("dot"),
      Similarity.cosine(col("a"), col("b")).as("cos")).collect()
    assert(rows(0).getDouble(0) == 1.0 && rows(0).getDouble(1) == 1.0)
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 0.0)
    assert(rows(2).getDouble(0) == 32.0)
    assert(math.abs(rows(2).getDouble(1) - 0.974632) < 1e-6)
  }

  test("planes are deterministic ±1 matrices") {
    val p1 = Similarity.planes(4, 16)
    val p2 = Similarity.planes(4, 16)
    assert(p1 == p2)
    assert(p1.length == 4 && p1.forall(_.length == 16))
    assert(p1.flatten.forall(v => v == 1 || v == -1))
  }

  test("bruteForceTopK: query vector ranks itself first with cosine 1.0") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter(col("vec_id") === 7)
    val top = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .as[(Long, Double)].collect()
    assert(top.length == 5)
    assert(top(0) == ((7L, 1.0)))
    assert(top.map(_._2).sliding(2).forall(p => p(0) >= p(1)), "descending scores")
  }

  test("lshTopK returns a subset of the brute-force ranking restricted to the query bucket") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter(col("vec_id") === 7)
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 10,
      numPlanes = 4, dims = 64).as[(Long, Double)].collect()
    assert(lsh.nonEmpty)
    assert(lsh(0)._1 == 7L, "query is in its own bucket and ranks first")
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 2000)
      .as[(Long, Double)].collect().toMap
    lsh.foreach { case (id, c) => assert(math.abs(brute(id) - c) < 1e-9) }
  }

  test("bucketedNeighbors: ordered pairs above threshold; scores symmetric-consistent") {
    val emb = TestSpark.table("embeddings").limit(300)
    val pairs = Similarity.bucketedNeighbors(emb, "vec_id", "embedding",
      numPlanes = 2, dims = 64, minCosine = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, c) => a < b && c >= 0.1 })
    // spot-check one pair against the cosine expression evaluated directly
    val (a, b, c) = pairs.maxBy(_._3)
    val direct = emb.filter(col("vec_id") === a).select(col("embedding").as("ea"))
      .crossJoin(emb.filter(col("vec_id") === b).select(col("embedding").as("eb")))
      .select(Similarity.cosine(col("ea"), col("eb"))).as[Double].collect()(0)
    assert(c == direct)
  }

  test("bandedNeighbors: OR-amplification supersets a single band; cap bounds buckets") {
    val emb = TestSpark.table("embeddings").limit(400)
    val banded = Similarity.bandedNeighbors(emb, "vec_id", "embedding",
      planesPerBand = 8, bands = 2, dims = 64, minCosine = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(banded.nonEmpty)
    assert(banded.map(p => (p._1, p._2)).distinct.length == banded.length, "pairs deduped across bands")
    // band 0 of the banded variant uses plane indices 0..7 — the same
    // assignment as a single 8-plane bucketing, so its pairs are a subset
    val single = Similarity.bucketedNeighbors(emb, "vec_id", "embedding",
      numPlanes = 8, dims = 64, minCosine = 0.1)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val bandedPairs = banded.map(p => (p._1, p._2)).toSet
    assert(single.subsetOf(bandedPairs))
    // a tiny cap keeps results deterministic and strictly bounds pair count
    val capped = Similarity.bandedNeighbors(emb, "vec_id", "embedding",
      planesPerBand = 2, bands = 1, dims = 64, minCosine = -1.0, maxBucketSize = 5)
      .as[(Long, Long, Double)].collect()
    assert(capped.length <= 4 * 5 * 4 / 2, "≤ buckets × C(cap,2)")
    val capped2 = Similarity.bandedNeighbors(emb, "vec_id", "embedding",
      planesPerBand = 2, bands = 1, dims = 64, minCosine = -1.0, maxBucketSize = 5)
      .as[(Long, Long, Double)].collect()
    assert(capped.sortBy(p => (p._1, p._2)).toSeq == capped2.sortBy(p => (p._1, p._2)).toSeq)
  }

  test("knnGraph: per-vertex top-k of the banded candidate pairs, exactly") {
    val emb = TestSpark.table("embeddings").limit(300)
    val pairs = Similarity.bandedNeighbors(emb, "vec_id", "embedding",
      planesPerBand = 8, bands = 2, dims = 64, minCosine = 0.1)
      .as[(Long, Long, Double)].collect()
    // driver-side reference: symmetrize, sort by (cos_micro desc, nbr),
    // take 3 per vertex
    val sym = pairs.flatMap { case (a, b, c) =>
      val cm = math.round(c * 1e6)
      Seq((a, b, cm), (b, a, cm))
    }
    val expected = sym.groupBy(_._1).toSeq.flatMap { case (id, es) =>
      es.sortBy(e => (-e._3, e._2)).take(3).zipWithIndex.map {
        case ((_, nbr, cm), i) => (id, i + 1L, nbr, cm)
      }.toSeq
    }.toSet
    val got = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 8, bands = 2, dims = 64, k = 3, minCosine = 0.1)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // rank is dense 1..k per vertex
    val byId = got.groupBy(_._1)
    assert(byId.values.forall(es =>
      es.map(_._2).toSeq.sorted == (1L to es.size).toSeq))
  }

  test("ivfAssign: every vector lands in exactly one list; centroids map to themselves") {
    val emb = TestSpark.table("embeddings").limit(500)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding", "cid", "cemb")
    assert(assigned.count() == emb.count())
    assert(assigned.select("vec_id").distinct().count() == emb.count())
    val self = assigned.filter(col("vec_id") < 8)
      .as[(Long, Long)].collect().toMap
    (0L until 8L).foreach(i => assert(self(i) == i, s"centroid $i must be its own nearest"))
    assert(assigned.filter(col("list_id") >= 8 || col("list_id") < 0).count() == 0)
  }

  test("ivfTopK: query ranks itself first; scores agree with brute force; probes a subset") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter(col("vec_id") === 0)
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 10, nlist = 16, nprobe = 4)
      .as[(Long, Double)].collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    assert(ivf(0) == ((0L, 1.0)), "query vector is in a probed list and ranks first")
    assert(ivf.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 2000)
      .as[(Long, Double)].collect().toMap
    ivf.foreach { case (id, c) => assert(brute(id) == c) }
  }

  test("ivfTopKTrained: trained quantizer keeps the probe contract") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter(col("vec_id") === 0)
    def run() = Similarity.ivfTopKTrained(
      emb, q, "vec_id", "embedding", k = 10, nlist = 8, nprobe = 2, iters = 2)
      .as[(Long, Double)].collect()
    val ivf = run()
    assert(ivf.nonEmpty && ivf.length <= 10)
    assert(ivf(0) == ((0L, 1.0)), "query vector is in its own probed list and ranks first")
    assert(ivf.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    // scores come from the same kernel as brute force
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 2000)
      .as[(Long, Double)].collect().toMap
    ivf.foreach { case (id, c) => assert(brute(id) == c) }
    // training is deterministic: identical result on a fresh run
    assert(run().toSeq == ivf.toSeq)
  }

  test("pqCodes: one code per block from the block's own codebook; encoding is join-free") {
    val emb = TestSpark.table("embeddings")
    val codes = Similarity.pqCodes(emb, "vec_id", "embedding",
      dims = 64, blocks = 4, k = 4, iters = 2)
    assert(codes.columns.toSeq == Seq("vec_id", "code_0", "code_1", "code_2", "code_3"))
    val rows = codes.collect()
    assert(rows.length == emb.count())
    // codes are seed ids: always one of the k lowest vec_ids
    val valid = (0L until 4L).toSet
    rows.foreach { r =>
      (1 to 4).foreach(i => assert(valid(r.getLong(i)), s"block ${i - 1} code ${r.getLong(i)}"))
    }
    // blocks quantize independently: some vector must disagree across blocks
    assert(rows.exists(r => (1 to 4).map(r.getLong).distinct.size > 1))
    // identical vectors encode identically; encoding is deterministic
    val again = Similarity.pqCodes(emb, "vec_id", "embedding", 64, 4, 4, 2).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
    // the ENCODE plan (given trained codebooks) is a single narrow
    // projection: no joins, no exchanges
    val plan = codes.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"encoding must be join-free:\n$plan")
  }

  test("pqCodebooks: fused all-blocks training == one Clustering.train per slice") {
    // r21 fusion: one seed job + one means job per iteration for ALL
    // blocks must reproduce the per-slice trainings centroid-for-
    // centroid (same seeds, same argmin expression, same rounded
    // means, same empty-cluster carry-forward)
    val emb = TestSpark.table("embeddings")
    val d = 64 / 4
    val fused = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dims = 64, blocks = 4, k = 4, iters = 2)
    val perSlice = (0 until 4).map { b =>
      graft.ops.Clustering.train(
        emb.select(col("vec_id"),
          slice(col("embedding"), b * d + 1, d).as("embedding")),
        "vec_id", "embedding", k = 4, iters = 2)
    }
    assert(fused == perSlice, "fused codebooks must equal per-slice training")
    // iters = 1 (seeds only) must also agree
    assert(Similarity.pqCodebooks(emb, "vec_id", "embedding", 64, 4, 4, 1) ==
      (0 until 4).map(b => graft.ops.Clustering.train(
        emb.select(col("vec_id"),
          slice(col("embedding"), b * d + 1, d).as("embedding")),
        "vec_id", "embedding", 4, 1)))
  }

  test("pqTopK: ADC scores equal the lookup-table recompute; result deterministic") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter(col("vec_id") === 0)
    def run() = Similarity.pqTopK(emb, q, "vec_id", "embedding",
      topK = 10, dims = 64, blocks = 4, k = 4, iters = 2)
      .as[(Long, Double)].collect()
    val out = run()
    assert(out.length == 10)
    assert(out.map(_._2).sliding(2).forall(p => p(0) >= p(1)), "descending")
    assert(run().toSeq == out.toSeq, "deterministic end-to-end")
    // manual ADC recompute for the top row: codes → codebook → Σ dot
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding", 64, 4, 4, 2)
    val qv = q.select("embedding").head().getSeq[Float](0)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", 64, books)
      .filter(col("vec_id") === out.head._1).head()
    val expect = (0 until 4).map { b =>
      val cent = books(b).toMap.apply(codes.getLong(b + 1))
      (0 until 16).map(i => qv(b * 16 + i).toDouble * cent(i)).sum
    }.sum
    assert(out.head._2 == BigDecimal(expect)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("signBuckets produces one bit per plane") {
    val emb = TestSpark.table("embeddings").limit(50)
    val b = Similarity.signBuckets(emb, "vec_id", "embedding", numPlanes = 6, dims = 64)
      .as[(Long, String)].collect()
    assert(b.length == 50)
    assert(b.forall(_._2.matches("[01]{6}")))
  }

  test("single-query entry points reject a multi-row queryDf instead of interleaving") {
    val emb = TestSpark.table("embeddings")
    val two = emb.filter(col("vec_id") < 2)
    for ((name, run) <- Seq[(String, () => Any)](
        "bruteForceTopK" -> (() =>
          Similarity.bruteForceTopK(emb, two, "vec_id", "embedding", k = 5)),
        "lshTopK" -> (() =>
          Similarity.lshTopK(emb, two, "vec_id", "embedding", 5, 8, 64)),
        "ivfTopK" -> (() =>
          Similarity.ivfTopK(emb, two, "vec_id", "embedding", 5, 8, 2)),
        "ivfTopKTrained" -> (() =>
          Similarity.ivfTopKTrained(emb, two, "vec_id", "embedding", 5, 8, 2, 2)),
        "pqTopKWith" -> (() =>
          Similarity.pqTopKWith(emb, two, "vec_id", "embedding", 5, 64,
            Similarity.pqCodebooks(emb, "vec_id", "embedding", 64, 4, 4, 1))))) {
      val err = intercept[IllegalArgumentException](run())
      assert(err.getMessage.toLowerCase.contains("batch"),
        s"$name must point multi-query callers at the Batch variant: ${err.getMessage}")
    }
  }

  test("bruteForceTopKBatch == one bruteForceTopK per query (salted ranking is invisible)") {
    val emb = TestSpark.table("embeddings")
    val got = Similarity.bruteForceTopKBatch(
        emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id", k = 10)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val expected = (0L until 3L).flatMap { qid =>
      Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === qid), "vec_id", "embedding", k = 10)
        .as[(Long, Double)].collect().zipWithIndex
        .map { case ((id, sim), i) => (qid, (i + 1).toLong, id, sim) }
    }
    assert(got.toSeq == expected)
  }

  test("ivfTopKTrainedBatch == one ivfTopKTrained per query") {
    val emb = TestSpark.table("embeddings")
    val got = Similarity.ivfTopKTrainedBatch(
        emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id",
        k = 10, nlist = 8, nprobe = 2, iters = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val expected = (0L until 3L).flatMap { qid =>
      Similarity.ivfTopKTrained(
          emb, emb.filter(col("vec_id") === qid), "vec_id", "embedding",
          k = 10, nlist = 8, nprobe = 2, iters = 2)
        .as[(Long, Double)].collect().zipWithIndex
        .map { case ((id, sim), i) => (qid, (i + 1).toLong, id, sim) }
    }
    assert(got.toSeq == expected)
  }

  test("ivfTopKTrained and its batch twin score each corpus row once, ids duplicated or not") {
    val emb = TestSpark.table("embeddings").select("vec_id", "embedding")
    // 41 rows, id 30 twice with different vectors (above the 8 seed
    // ids, so the centroid labels stay distinct); every list probed
    val corpus = emb.filter(col("vec_id") < 40)
      .unionByName(emb.filter(col("vec_id") === 40).withColumn("vec_id", lit(30L)))
    val q = emb.filter(col("vec_id") === 0)
    val single = Similarity.ivfTopKTrained(
      corpus, q, "vec_id", "embedding", k = 50, nlist = 8, nprobe = 8, iters = 2)
      .as[(Long, Double)].collect()
    assert(single.length == 41)
    assert(single.count(_._1 == 30L) == 2 &&
      single.filter(_._1 == 30L).map(_._2).distinct.length == 2)
    val batch = Similarity.ivfTopKTrainedBatch(
      corpus, q, "vec_id", "embedding", "vec_id", k = 50, nlist = 8, nprobe = 8, iters = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(batch.map(r => (r._3, r._4)).toSeq == single.toSeq)
  }

  test("pqTopKWithBatch == one pqTopKWith per query; duplicate query ids rejected") {
    val emb = TestSpark.table("embeddings")
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding", 64, 4, 4, 2)
    val got = Similarity.pqTopKWithBatch(
        emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id",
        topK = 10, dims = 64, codebooks = books)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val expected = (0L until 3L).flatMap { qid =>
      Similarity.pqTopKWith(
          emb, emb.filter(col("vec_id") === qid), "vec_id", "embedding",
          topK = 10, dims = 64, codebooks = books)
        .as[(Long, Double)].collect().zipWithIndex
        .map { case ((id, sim), i) => (qid, (i + 1).toLong, id, sim) }
    }
    assert(got.toSeq == expected)
    val dup = emb.filter(col("vec_id") === 0)
      .union(emb.filter(col("vec_id") === 0))
    val err = intercept[IllegalArgumentException] {
      Similarity.pqTopKWithBatch(emb, dup, "vec_id", "embedding", "vec_id",
        topK = 5, dims = 64, codebooks = books)
    }
    assert(err.getMessage.contains("duplicate query ids"))
  }

  test("projectedTopK: self ranks first with exact cosine 1.0; results are true cosines") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter(col("vec_id") === 7)
    val got = Similarity.projectedTopK(emb, q, "vec_id", "embedding",
      k = 10, projDims = 16, dims = 64).as[(Long, Double)].collect()
    assert(got.length == 10)
    assert(got(0) == ((7L, 1.0)), "the query survives its own projection and reranks first")
    assert(got.map(_._2).sliding(2).forall(p => p(0) >= p(1)), "descending exact cosines")
    // every reported cosine is the TRUE cosine (rerank is exact)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 2000)
      .as[(Long, Double)].collect().toMap
    got.foreach { case (id, c) => assert(brute(id) == c) }
    val err = intercept[IllegalArgumentException] {
      Similarity.projectedTopK(emb, emb.filter(col("vec_id") < 2), "vec_id",
        "embedding", k = 5, projDims = 16, dims = 64)
    }
    assert(err.getMessage.contains("exactly one query row"))
  }

  test("ivfPqTopK: candidates come from probed lists only; deterministic; sane scores") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter(col("vec_id") === 0)
    def run() = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      topK = 10, dims = 64, nlist = 8, nprobe = 2, coarseIters = 2,
      blocks = 4, k = 4, pqIters = 2).as[(Long, Double)].collect()
    val got = run()
    assert(got.length == 10)
    assert(got.map(_._2).sliding(2).forall(p => p(0) >= p(1)), "descending scores")
    assert(got.toSeq == run().toSeq, "bit-identical rerun")
    // structural: every candidate sits in one of the 2 probed lists of
    // the SAME deterministic coarse quantizer
    val cents = graft.ops.Clustering.train(emb, "vec_id", "embedding", 8, 2)
    val assigned = graft.ops.Clustering.assign(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cluster"))
      .as[(Long, Long)].collect().toMap
    val qv = q.select(col("embedding")).collect().head.getSeq[Float](0)
    val probed = cents.map { case (cid, c) =>
      val dot = (0 until 64).map(i => qv(i).toDouble * c(i)).sum
      val nq = math.sqrt(qv.map(x => x.toDouble * x).sum)
      val nc = math.sqrt(c.map(x => x * x).sum)
      (cid, dot / (nq * nc))
    }.sortBy { case (cid, s) => (-s, cid) }.take(2).map(_._1).toSet
    got.foreach { case (id, _) =>
      assert(probed.contains(assigned(id)), s"vec $id outside probed lists") }
    // the query survives into its own probed top-10 and its ADC score
    // approximates dot(q,q)=1 from below — 4-entry codebooks on 16-dim
    // near-random subspaces reconstruct coarsely (observed ~0.43), so
    // the bound only pins "positive and not absurd", not tightness
    val self = got.find(_._1 == 0L)
    assert(self.nonEmpty, "query must appear in its own probed lists' top-10")
    self.foreach { case (_, s) => assert(s > 0.0 && s <= 1.5, s"self score $s") }
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 2), "vec_id", "embedding",
        topK = 5, dims = 64, nlist = 8, nprobe = 2, coarseIters = 2,
        blocks = 4, k = 4, pqIters = 2)
    }
    assert(err.getMessage.contains("exactly one query row"))
  }

  test("ivfPqTopKBatch == one ivfPqTopK per query; duplicate query ids rejected") {
    val emb = TestSpark.table("embeddings")
    def single(qid: Long) = Similarity.ivfPqTopK(
        emb, emb.filter(col("vec_id") === qid), "vec_id", "embedding",
        topK = 10, dims = 64, nlist = 8, nprobe = 2, coarseIters = 2,
        blocks = 4, k = 4, pqIters = 2)
      .as[(Long, Double)].collect().zipWithIndex
      .map { case ((id, s), i) => (qid, (i + 1).toLong, id, s) }
    val got = Similarity.ivfPqTopKBatch(
        emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id",
        topK = 10, dims = 64, nlist = 8, nprobe = 2, coarseIters = 2,
        blocks = 4, k = 4, pqIters = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == (0L until 3L).flatMap(single))
    val dup = emb.filter(col("vec_id") === 0)
      .union(emb.filter(col("vec_id") === 0))
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKBatch(emb, dup, "vec_id", "embedding", "vec_id",
        topK = 5, dims = 64, nlist = 8, nprobe = 2, coarseIters = 2,
        blocks = 4, k = 4, pqIters = 2)
    }
    assert(err.getMessage.contains("duplicate query ids"))
  }

  test("semanticDedup: keep-lowest-id per dup set, pruning never crosses clusters") {
    // two tight bundles on orthogonal axes + one outlier per axis
    // region: kmeans (k=2) separates the axes, so cross-axis cosine 0
    // pairs are never even compared
    def unit(axis: Int, eps: Double): Array[Float] = {
      val v = Array.fill(4)(eps.toFloat); v(axis) = 1.0f; v
    }
    val df = Seq(
      (0L, unit(0, 0.0)), (1L, unit(0, 0.001)), (2L, unit(0, 0.002)),
      (10L, unit(1, 0.0)), (11L, unit(1, 0.001)),
      (20L, unit(2, 0.0)) // joins one of the k=2 clusters, far from both
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(
        df, "vec_id", "embedding", k = 2, iters = 2, threshold = 0.9)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._3).toMap
    // axis-0 bundle: 0 survives, 1 and 2 are its near-dups
    assert(got(0L) && !got(1L) && !got(2L))
    // axis-1 bundle: 10 survives, 11 dropped
    assert(got(10L) && !got(11L))
    // the orthogonal outlier has no neighbor above 0.9 anywhere
    assert(got(20L))
    // decision frame is total: one row per input vector
    assert(got.size == 6)
  }

  test("recallAtK: hit counting, perfect self-recall, order-insensitive") {
    val truth = Seq(
      (0L, 1L, 10L), (0L, 2L, 11L), (0L, 3L, 12L),
      (1L, 1L, 20L), (1L, 2L, 21L), (1L, 3L, 22L)
    ).toDF("query_id", "rank", "vec_id")
    // query 0: right set, wrong order → still 3/3.
    // query 1: one of three right → 1/3.
    val approx = Seq(
      (0L, 1L, 12L), (0L, 2L, 10L), (0L, 3L, 11L),
      (1L, 1L, 20L), (1L, 2L, 99L), (1L, 3L, 98L)
    ).toDF("query_id", "rank", "vec_id")
    val got = Similarity.recallAtK(truth, approx, "query_id", "vec_id", k = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L) == ((3L, 1.0)))
    assert(got(1L) == ((1L, 0.333333)))
    // self-compare is always perfect, and the output is one row per query
    val self = Similarity.recallAtK(truth, truth, "query_id", "vec_id", k = 3)
      .as[(Long, Long, Double)].collect()
    assert(self.length == 2 && self.forall(r => r._2 == 3L && r._3 == 1.0))
  }

  test("vectorAudit: counts zero-norm, NaN, wrong-dims; min/max norms over healthy rows only") {
    val rows = Seq(
      (1L, Array(3.0f, 4.0f)),            // healthy, norm 5
      (2L, Array(0.6f, 0.8f)),            // healthy, norm 1
      (3L, Array(0.0f, 0.0f)),            // zero norm
      (4L, Array(Float.NaN, 1.0f)),       // NaN — excluded from norms
      (5L, Array(1.0f)),                  // wrong dims — excluded from norms
      (6L, Array(7.0f, 24.0f)))           // healthy, norm 25
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.vectorAudit(df, "embedding", expectedDims = 2)
      .as[(Long, Long, Long, Long, Double, Double)].collect()(0)
    assert(got == ((6L, 1L, 1L, 1L, 0.0, 25.0)))
    // a clean frame audits clean
    val clean = Similarity.vectorAudit(
        df.filter(col("vec_id") === 1L || col("vec_id") === 6L), "embedding", 2)
      .as[(Long, Long, Long, Long, Double, Double)].collect()(0)
    assert(clean == ((2L, 0L, 0L, 0L, 5.0, 25.0)))
  }

  test("recallAtK: duplicate rows cannot inflate recall past 1.0; truth < k uses truth size") {
    // duplicate (query, id) rows on BOTH sides — a join without dedup
    // would fan out to 4 hit rows for query 0 and report recall 1.33
    val truth = Seq(
      (0L, 1L, 10L), (0L, 2L, 10L), (0L, 3L, 11L), (0L, 4L, 12L),
      (1L, 1L, 20L), (1L, 2L, 21L)
    ).toDF("query_id", "rank", "vec_id")
    val approx = Seq(
      (0L, 1L, 10L), (0L, 2L, 10L), (0L, 3L, 11L), (0L, 4L, 12L),
      (1L, 1L, 20L), (1L, 2L, 99L)
    ).toDF("query_id", "rank", "vec_id")
    val got = Similarity.recallAtK(truth, approx, "query_id", "vec_id", k = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // query 0: distinct truth {10,11,12}, all found → exactly 1.0, never more
    assert(got(0L) == ((3L, 1.0)))
    // query 1: distinct truth {20,21} (< k=3); 1 found → 1/2, not 1/3
    assert(got(1L) == ((1L, 0.5)))
  }

  test("recallAtK enforces k: un-truncated ground truth fails loud, not recall-vs-full-truth") {
    val truth = Seq( // query 0 has 4 distinct truth ids but k=3
      (0L, 10L), (0L, 11L), (0L, 12L), (0L, 13L)
    ).toDF("query_id", "vec_id")
    val approx = Seq((0L, 10L)).toDF("query_id", "vec_id")
    val e = intercept[Exception] {
      Similarity.recallAtK(truth, approx, "query_id", "vec_id", k = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("top-k ground truth")),
      s"expected the recallAtK guard, got: $e")
  }

  test("seedCentroid: hand mean, partitioning invariance, scoring ranks") {
    val seeds = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Similarity.seedCentroid(seeds, "embedding")
    assert(c.toSeq == Seq(0.5f, 0.5f, 0.0f))
    // deterministic under repartitioning (decimal sums are exact)
    val c2 = Similarity.seedCentroid(seeds.repartition(7), "embedding")
    assert(c2.toSeq == c.toSeq)
    // scoring: a vector along the centroid outranks an orthogonal one
    val corpus = Seq(
      (10L, Array(1.0f, 1.0f, 0.0f)),  // cos 1.0 with centroid
      (11L, Array(0.0f, 0.0f, 1.0f)),  // cos 0.0
      (12L, Array(1.0f, 0.0f, 0.0f))). // cos ~0.707
      toDF("vec_id", "embedding")
    val got = Similarity.seedCentroidScores(corpus, "vec_id", "embedding", c)
      .as[(Long, Double)].collect().toMap
    assert(got(10L) == 1.0 && got(11L) == 0.0)
    assert(math.abs(got(12L) - 0.707107) < 1e-6)
  }

  test("sq8: hand ranges, codes, clamp, degenerate dim") {
    val corpus = Seq(
      (1L, vec(0.0, 5.0, 7.0)),
      (2L, vec(10.0, 5.0, 3.0)),
      (3L, vec(5.0, 5.0, 5.0))).toDF("vec_id", "embedding")
    val r = Similarity.sqRanges(corpus, "embedding", 3)
    assert(r == Seq((0.0, 10.0), (5.0, 5.0), (3.0, 7.0)))
    val codes = Similarity.sqEncode(corpus, "vec_id", "embedding", 3, r)
      .collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
    // dim 0: (x-0)/10*255 -> floor 0 / 255 / 127; dim 1 degenerate -> 0;
    // dim 2: (x-3)/4*255 -> 255 / 0 / 127
    assert(codes(1L) == Seq(0L, 0L, 255L))
    assert(codes(2L) == Seq(255L, 0L, 0L))
    assert(codes(3L) == Seq(127L, 0L, 127L))
  }

  test("sq8 topK: midpoint dequantization, ranking, driver reference") {
    val n = 40
    val corpus = (0 until n).map { i =>
      (i.toLong, vec((i % 7).toDouble, (i % 5).toDouble, (i * 3 % 11).toDouble, 1.0))
    }.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0)
    val got = Similarity.sqTopK(corpus, q, "vec_id", "embedding", topK = 5, dims = 4)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    // driver-side reference with the same midpoint reconstruction
    val data = (0 until n).map(i =>
      (i.toLong, Seq((i % 7).toDouble, (i % 5).toDouble, (i * 3 % 11).toDouble, 1.0)))
    val mins = (0 until 4).map(d => data.map(_._2(d)).min)
    val maxs = (0 until 4).map(d => data.map(_._2(d)).max)
    val qv = data.head._2
    def score(v: Seq[Double]): Double = {
      val s = (0 until 4).map { d =>
        val code =
          if (maxs(d) == mins(d)) 0L
          else math.floor((v(d) - mins(d)) / (maxs(d) - mins(d)) * 255)
            .toLong.max(0L).min(255L)
        qv(d) * (mins(d) + (code + 0.5) * ((maxs(d) - mins(d)) / 256.0))
      }.sum
      // Spark round() is decimal HALF_UP, not rint's half-even
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ref = data.map { case (id, v) => (id, score(v)) }
      .sortBy { case (id, sc) => (-sc, id) }.take(5)
    assert(got.toSeq == ref)
  }

  test("sqRefineTopK: final order is the EXACT dot over the approximate candidate cut") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter($"vec_id" === 0)
    val n = emb.count().toInt
    // refine wide enough to admit the whole corpus == brute-force MIPS
    val all = Similarity.sqRefineTopK(emb, q, "vec_id", "embedding",
        topK = 5, refineFactor = n / 5 + 1, dims = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val qv = q.select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val exact = emb.select("vec_id", "embedding").collect().map { r =>
      val v = r.getSeq[Float](1)
      val s = v.indices.foldLeft(0.0)((acc, i) => acc + qv(i) * v(i).toDouble)
      (r.getLong(0),
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(5)
    assert(all.toSeq == exact.toSeq)
    // the tight cut: candidates = sq top-15, re-ranked exactly — the
    // result must be a subset of that candidate set in exact-dot order
    val tight = Similarity.sqRefineTopK(emb, q, "vec_id", "embedding",
      topK = 5, refineFactor = 3, dims = 64).collect()
    val candIds = Similarity.sqTopK(emb, q, "vec_id", "embedding",
      topK = 15, dims = 64).collect().map(_.getLong(0)).toSet
    assert(tight.map(_.getLong(0)).forall(candIds.contains))
    val exactDots = tight.map(_.getDouble(2))
    assert(exactDots.sameElements(exactDots.sorted(Ordering[Double].reverse)))
    // approx score rides along for the quantization-error audit
    assert(tight.forall(r => !r.isNullAt(1)))
    intercept[IllegalArgumentException] {
      Similarity.sqRefineTopK(emb, q, "vec_id", "embedding",
        topK = 5, refineFactor = 0, dims = 64)
    }
  }

  test("multiProbeTopK: candidate set is a strict superset of the single-bucket probe") {
    val emb = TestSpark.table("embeddings")
    val q = emb.filter($"vec_id" === 0)
    val single = Similarity.lshTopK(emb, q, "vec_id", "embedding",
      k = 1000, numPlanes = 8, dims = 64).collect().map(_.getLong(0)).toSet
    val multi = Similarity.multiProbeTopK(emb, q, "vec_id", "embedding",
      k = 1000, numPlanes = 8, dims = 64).collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(multi),
      "the query's own bucket is always in the probe set")
    assert(multi.size > single.size,
      "Hamming-1 flips must widen the candidate pool on this fixture")
    // scores are the same exact cosine — the top of both lists agrees
    // wherever single-bucket recall sufficed
    val s5 = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, 8, 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val m = Similarity.multiProbeTopK(emb, q, "vec_id", "embedding", 1000, 8, 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    s5.foreach { case (id, sc) => assert(m(id) == sc) }
  }

  test("reciprocalNeighbors: only mutual top-k edges survive, one row per pair") {
    import spark.implicits._
    // 1→2 (r1), 2→1 (r2): mutual. 1→3 (r2) but 3's list lacks 1: not.
    // 3→4 / 4→3: mutual.
    val knn = Seq(
      (1L, 1L, 2L, 900000L), (1L, 2L, 3L, 800000L),
      (2L, 2L, 1L, 900000L),
      (3L, 1L, 4L, 700000L), (3L, 2L, 5L, 600000L),
      (4L, 1L, 3L, 700000L))
      .toDF("id", "rank", "nbr", "cos_micro")
    val got = Nsw.reciprocalNeighbors(knn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((1L, 2L, 1L, 2L, 900000L), (3L, 4L, 1L, 1L, 700000L)))
  }

  test("hardNegatives: self and same-group excluded, ranks contiguous per query") {
    val emb = TestSpark.table("embeddings")
    val queries = emb.filter($"vec_id".isin(0L, 1L))
    val got = Similarity.hardNegatives(emb, queries, "vec_id", "embedding",
      "vec_id", "label", k = 5, overFetch = 4).collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { r =>
      val qid = r.getLong(0); val id = r.getLong(2)
      assert(id != qid, "a query is its own positive")
      assert(labels(id) != labels(qid), "same-label candidates are positives")
    }
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length),
        "ranks re-number contiguously after the filter")
      assert(rows.length <= 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, queries, "vec_id", "embedding",
        "vec_id", "label", k = 0)
    }
  }

  test("graphSearch: best-first walk, strict-improvement freeze, visited top-k") {
    import spark.implicits._
    // a 2-d chain toward the query [1,0]: both entries (lowest ids 0,1)
    // must walk 0→1→2→3→4 and freeze at 4 (its only neighbor is worse)
    val corpus = Seq(
      (0L, Array(0.0f, 1.0f)),   // sim 0
      (1L, Array(1.0f, 1.0f)),   // sim 0.707107
      (2L, Array(1.0f, 0.5f)),   // sim 0.894427
      (3L, Array(1.0f, 0.1f)),   // sim 0.995037
      (4L, Array(1.0f, 0.0f)),   // sim 1.0 — the optimum
      (5L, Array(-1.0f, 0.0f)))  // unreachable: no inbound edges
      .toDF("vec_id", "embedding")
    val graph = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("id", "nbr")
    val query = corpus.filter(col("vec_id") === 4L)
    val got = Nsw.graphSearch(
        corpus, "vec_id", "embedding", query, graph, k = 3,
        nEntries = 2, maxSteps = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((4L, 1.0), (3L, 0.995037), (2L, 0.894427)))

    // maxSteps = 0: only the entries themselves are visited
    val frozen = Nsw.graphSearch(
        corpus, "vec_id", "embedding", query, graph, k = 3,
        nEntries = 2, maxSteps = 0)
      .collect().map(_.getLong(0)).toSeq
    assert(frozen == Seq(1L, 0L), "no steps → entry nodes only, ranked")

    // too few steps: the walk stops mid-chain — visited is the fence
    val short = Nsw.graphSearch(
        corpus, "vec_id", "embedding", query, graph, k = 1,
        nEntries = 2, maxSteps = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(short == Seq(2L), "one step from entry 1 reaches node 2 at best")

    // end-to-end over the fixture corpus: the walk on the LSH-built
    // kNN graph must recover most of the exact top-10 (deterministic
    // fixture → a pinned lower bound, not a flaky expectation)
    val emb = TestSpark.table("embeddings")
    val g = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 4, bands = 4, dims = 64, k = 8,
      minCosine = -1.0, maxBucketSize = 1000)
      .select(col("id"), col("nbr"))
    val q0 = emb.filter(col("vec_id") === 0)
    val walk = Nsw.graphSearch(
        emb, "vec_id", "embedding", q0, g, k = 10, beamWidth = 16, maxSteps = 10)
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.bruteForceTopK(
        emb, q0, "vec_id", "embedding", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert((walk & exact).size >= 5,
      s"graph walk recall collapsed: ${(walk & exact).size}/10")
  }

  test("graphSearchBatch: per-query beams ≡ the single-query walk, ranked") {
    val emb = TestSpark.table("embeddings")
    val g = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 4, bands = 4, dims = 64, k = 8,
      minCosine = -1.0, maxBucketSize = 1000)
      .select(col("id"), col("nbr")).localCheckpoint()
    val qids = Seq(0L, 7L, 23L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Nsw.graphSearchBatch(
        emb, "vec_id", "embedding", queries, "query_id", g,
        k = 10, beamWidth = 16, maxSteps = 10)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        val sorted = rs.sortBy(_.getLong(1))
        // ranks are exactly 1..k per query, no gaps or duplicates
        assert(sorted.map(_.getLong(1)).toSeq ==
          (1L to sorted.length.toLong),
          s"ranks for query $q are not contiguous 1..k")
        q -> sorted.map(r => (r.getLong(2), r.getDouble(3))).toSeq
      }
    assert(batch.keySet == qids.toSet)
    qids.foreach { q =>
      val single = Nsw.graphSearch(
          emb, "vec_id", "embedding", emb.filter(col("vec_id") === q), g,
          k = 10, beamWidth = 16, maxSteps = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q) == single,
        s"batch walk for query $q diverged from the single-query walk")
    }
    intercept[IllegalArgumentException] {
      Nsw.graphSearchBatch(emb, "vec_id", "embedding",
        queries.unionAll(queries), "query_id", g, k = 1)
    }
    // null query ids are rejected, not silently keyed as 0
    intercept[IllegalArgumentException] {
      Nsw.graphSearchBatch(emb, "vec_id", "embedding",
        queries.select(lit(null).cast("long").as("query_id"),
          col("embedding")).limit(1),
        "query_id", g, k = 1)
    }
    // a null-id corpus row is unaddressable and must drop, not NPE the
    // driver-side beam state
    val dirty = emb.select("vec_id", "embedding").unionByName(
      emb.limit(1).select(lit(null).cast("long").as("vec_id"),
        col("embedding")))
    val viaDirty = Nsw.graphSearch(
        dirty, "vec_id", "embedding", emb.filter(col("vec_id") === 0), g,
        k = 10, beamWidth = 16, maxSteps = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaClean = Nsw.graphSearch(
        emb, "vec_id", "embedding", emb.filter(col("vec_id") === 0), g,
        k = 10, beamWidth = 16, maxSteps = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaDirty == viaClean)
  }

  test("graphSearchBatch names its query-id output qidCol; qidCol == idCol is rejected") {
    val emb = TestSpark.table("embeddings")
    val g = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 4, bands = 4, dims = 64, k = 8,
      minCosine = -1.0, maxBucketSize = 1000)
      .select(col("id"), col("nbr")).localCheckpoint()
    val queries = emb.filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("qid"), col("embedding"))
    def walk(qs: org.apache.spark.sql.DataFrame, qidCol: String) =
      Nsw.graphSearchBatch(emb, "vec_id", "embedding", qs, qidCol, g,
        k = 5, beamWidth = 8, maxSteps = 6)
    val viaQid = walk(queries, "qid")
    assert(viaQid.columns.toSeq == Seq("qid", "rank", "vec_id", "cosine_sim"))
    val viaQueryId = walk(queries.withColumnRenamed("qid", "query_id"), "query_id")
    assert(viaQid.select("qid", "rank", "vec_id", "cosine_sim").collect().toSeq ==
      viaQueryId.collect().toSeq)
    val err = intercept[IllegalArgumentException] {
      walk(queries.withColumnRenamed("qid", "vec_id"), "vec_id")
    }
    assert(err.getMessage.contains("'vec_id'"))
  }

  test("pointLookup: the id set reaches the parquet scan as a pushed filter") {
    val dir = TestSpark.tmpDir("point_lookup") + "/emb"
    TestSpark.table("embeddings")
      .repartitionByRange(4, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .write.parquet(dir)
    val stored = spark.read.parquet(dir)
    val ids = Seq(3L, 17L, 41L)
    val looked = Nsw.pointLookup(stored, "vec_id", ids)
    assert(looked.collect().map(_.getLong(0)).sorted.toSeq == ids)
    // the beam's per-round probe must PRUNE the scan: the In filter is
    // pushed to the parquet reader (footer min/max skipping), not
    // applied post-scan over a full read
    val scan = looked.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no parquet scan in the pointLookup plan"))
    assert(scan.metadata("PushedFilters").contains("In(vec_id"),
      s"expected In(vec_id…) pushed to the scan, got: ${scan.metadata("PushedFilters")}")

    // past the literal ceiling the same contract holds via a broadcast
    // semi-join (plan-size O(1) in |ids|) — the id RANGE still reaches
    // the scan so footer stats prune a range-clustered layout
    val big = (0L until (Nsw.maxIsinLiterals + 10L)).map(_ * 2 + 1)
    val bigLooked = Nsw.pointLookup(stored, "vec_id", big)
    val want = TestSpark.table("embeddings")
      .filter(col("vec_id") % 2 === 1 && col("vec_id") <= big.max)
      .count()
    assert(bigLooked.count() == want)
    // the scan hides under the AQE wrapper in a join plan — read the
    // formatted explain instead of pattern-matching the plan tree
    val bigPlan = bigLooked.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(bigPlan.contains("GreaterThanOrEqual(vec_id"),
      s"expected the id range pushed to the scan:\n$bigPlan")
    assert(!bigPlan.contains("In(vec_id"),
      "the large id set must NOT ride the plan as an In literal")
    assert(bigPlan.contains("BroadcastHashJoin") &&
      bigPlan.contains("LeftSemi"),
      s"expected a broadcast left-semi membership probe:\n$bigPlan")
  }

  test("nnDescentRound: per-vertex quality never degrades, converges toward exact kNN") {
    val emb = TestSpark.table("embeddings")
    // deliberately weak LSH seed so descent has work to do — but at
    // least TWO bands: with one band every candidate neighborhood is
    // an intra-bucket clique and two-hop provably cannot escape it
    val lsh = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 8, bands = 2, dims = 64, k = 4,
      minCosine = -1.0, maxBucketSize = 1000).localCheckpoint()
    val refined = Nsw.nnDescentRound(lsh, emb, "vec_id", "embedding", k = 4)
    // output contract: knnGraph schema, contiguous ranks, cos desc
    refined.collect().groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.length))
      val cs = byRank.map(_.getLong(3)).toSeq
      assert(cs == cs.sorted.reverse, s"vertex $id not cos-desc")
      assert(byRank.forall(_.getLong(2) != id), "no self edges")
    }
    // candidates ⊇ current neighborhood, so RANK-WISE each vertex can
    // only improve (or stay): the rank-r edge after a round is at
    // least as close as the rank-r edge before (a vertex may also GAIN
    // edges it lacked — more coverage, never a trade)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq
      }
    val (k0, k1) = (ranked(lsh), ranked(refined))
    k0.foreach { case (id, before) =>
      val after = k1.getOrElse(id, Seq.empty)
      assert(after.length >= before.length,
        s"vertex $id lost edges: ${before.length} -> ${after.length}")
      before.indices.foreach { i =>
        assert(after(i) >= before(i),
          s"vertex $id rank ${i + 1} got worse: ${before(i)} -> ${after(i)}")
      }
    }
    // edge recall vs the EXACT kNN graph strictly improves on the
    // weak seed (the Dong et al. convergence claim, one round)
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val exact = Similarity.bruteForceTopKBatch(
        emb, emb.select(col("vec_id").as("query_id"), col("embedding")),
        "vec_id", "embedding", "query_id", k = 5)
      .filter(col("vec_id") =!= col("query_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def edgeRecall(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .count(exact.contains).toDouble / exact.size
    val (r0, r1) = (edgeRecall(lsh), edgeRecall(refined))
    assert(r1 > r0, s"descent did not improve edge recall: $r0 -> $r1")
    // determinism
    val again = Nsw.nnDescentRound(lsh, emb, "vec_id", "embedding", k = 4)
    assert(refined.collect().toSet == again.collect().toSet)
    // rounds=0 is the raw LSH graph verbatim
    val zero = Nsw.knnGraphRefined(emb, "vec_id", "embedding",
      planesPerBand = 8, bands = 2, dims = 64, k = 4,
      minCosine = -1.0, maxBucketSize = 1000, rounds = 0)
    assert(zero.collect().toSet == lsh.collect().toSet)
  }

  test("graphSearchBatch: per-query entry seeds steer each beam independently") {
    val emb = TestSpark.table("embeddings")
    val g = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 4, bands = 4, dims = 64, k = 8,
      minCosine = -1.0, maxBucketSize = 1000)
      .select(col("id"), col("nbr")).localCheckpoint()
    val qids = Seq(0L, 7L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    // each query seeded AT its own node must rank itself first
    val self = Nsw.graphSearchBatch(
        emb, "vec_id", "embedding", queries, "query_id", g,
        k = 5, entriesByQuery = qids.map(q => q -> Seq(q)).toMap)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(self == qids.map(q => q -> q).toMap,
      "a beam seeded at the query's own vector must rank it #1")
    // a query missing from the map falls back to the shared seeds —
    // identical to the same walk with explicit shared entries
    val mixed = Nsw.graphSearchBatch(
        emb, "vec_id", "embedding", queries, "query_id", g,
        k = 5, entries = Seq(1L, 2L), entriesByQuery = Map(0L -> Seq(0L)))
      .collect().groupBy(_.getLong(0))
    val sharedOnly = Nsw.graphSearchBatch(
        emb, "vec_id", "embedding",
        queries.filter(col("query_id") === 7L), "query_id", g,
        k = 5, entries = Seq(1L, 2L))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(mixed(7L).map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(_._1) == sharedOnly.sortBy(_._1),
      "uncovered queries must walk from the shared seeds")
  }

  test("graph walk: planted targets above the noise floor are navigated to rank 1") {
    // the r17 recall audit's decisive control (BASELINE.md): on
    // vanishing-contrast fixtures recall@10 measures tie-breaking, so
    // the NAVIGATION property is pinned on planted structure — each
    // query is a corpus vector plus deterministic hash noise at
    // cos≈0.9, far above the fixture's noise ceiling; the beam must
    // surface the planted target as rank 1
    val emb = TestSpark.table("embeddings")
    val g = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 4, bands = 4, dims = 64, k = 8,
      minCosine = -1.0, maxBucketSize = 1000)
      .select(col("id"), col("nbr")).localCheckpoint()
    val qids = Nsw.strideEntries(emb, "vec_id", 6)
    val planted = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"),
          (x, i) => x + lit(0.08) * sin(col("query_id") * 37 + i * 131))
          .as("__raw"))
      .select(col("query_id"),
        transform(col("__raw"), x =>
          (x / sqrt(aggregate(col("__raw"), lit(0.0d),
            (a, v) => a + v * v))).cast("float")).as("embedding"))
    val hits = Nsw.graphSearchBatch(
        emb, "vec_id", "embedding", planted, "query_id", g,
        k = 10, nEntries = 4, beamWidth = 16, maxSteps = 10,
        entries = Nsw.strideEntries(emb, "vec_id", 8))
      .filter(col("rank") === 1 && col("vec_id") === col("query_id"))
      .count()
    assert(hits == qids.length,
      s"planted-target navigation broke: $hits/${qids.length} at rank 1")
  }

  test("strideEntries: spread seeds exist in the corpus, span the id range") {
    val emb = TestSpark.table("embeddings")
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val seeds = Nsw.strideEntries(emb, "vec_id", 8)
    assert(seeds.nonEmpty && seeds.distinct == seeds)
    assert(seeds.forall(ids.contains), "every seed is a real corpus id")
    // spread: seeds cover the id range at ~span/n stride, so the beam
    // enters the graph from every region, not one corner
    val (lo, hi) = (ids.min, ids.max)
    val span = hi - lo + 1
    val sorted = seeds.sorted
    assert(sorted.length == 8)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => b - a >= span / 16 },
      s"adjacent seeds cluster instead of spreading: $sorted")
    assert(sorted.last - sorted.head >= span * 3 / 4,
      s"seeds cover too little of the id range: $sorted")
    // n=1 degenerates to the minimum id; an empty corpus yields none
    assert(Nsw.strideEntries(emb, "vec_id", 1) == Seq(lo))
    assert(Nsw.strideEntries(
      emb.filter(col("vec_id") < 0), "vec_id", 4) == Nil)
    // caller-supplied seeds thread through the batch walk: seeding the
    // beam from spread entries yields ranked output with the same
    // contract (ranks 1..k, cosine desc)
    val g = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 4, bands = 4, dims = 64, k = 8,
      minCosine = -1.0, maxBucketSize = 1000)
      .select(col("id"), col("nbr")).localCheckpoint()
    val q = emb.filter(col("vec_id") === 5L)
    val walked = Nsw.graphSearch(
        emb, "vec_id", "embedding", q, g,
        k = 10, beamWidth = 16, maxSteps = 10, entries = seeds)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(walked.length == 10)
    assert(walked.map(_._2).toSeq == walked.map(_._2).sorted.reverse.toSeq)
    assert(walked.map(_._1).contains(5L), "the query's own vector must rank")
  }
}
