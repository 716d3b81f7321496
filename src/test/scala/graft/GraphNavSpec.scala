package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{GraphNav, Similarity}
import graft.ops.Nsw

class GraphNavSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def micro(cos: Double): Long =
    BigDecimal(cos * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private def cosOf(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("alphaPrunedGraph: occlusion rule, degree cap, rank order — hand case") {
    // node 0's candidates: a (10°, best), b (20° — occluded by a:
    // 1.2·d(a,b) ≤ d(0,b)), c (orthogonal to both — unoccluded)
    val v0 = Seq(1f, 0f, 0f, 0f)
    val va = Seq(math.cos(0.1745).toFloat, math.sin(0.1745).toFloat, 0f, 0f)
    val vb = Seq(math.cos(0.3491).toFloat, math.sin(0.3491).toFloat, 0f, 0f)
    val vc = Seq(0f, 0f, 1f, 0f)
    val corpus = Seq((0L, v0), (1L, va), (2L, vb), (3L, vc))
      .toDF("vid", "emb")
    val knn = Seq(
      (0L, 1L, 1L, micro(cosOf(v0, va))),
      (0L, 2L, 2L, micro(cosOf(v0, vb))),
      (0L, 3L, 3L, micro(cosOf(v0, vc))))
      .toDF("id", "rank", "nbr", "cos_micro")
    val pruned = GraphNav.alphaPrunedGraph(knn, corpus, "vid", "emb", r = 8)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(pruned.toSeq == Seq((1L, 1L), (2L, 3L)),
      "b is occluded by a (same direction, farther); orthogonal c survives")
    // degree cap: r = 1 keeps only the best candidate
    val capped = GraphNav.alphaPrunedGraph(knn, corpus, "vid", "emb", r = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(capped.toSeq == Seq((1L, 1L)))
    // alpha = 1 (classic RNG): c is exactly equidistant from a and 0
    // (both orthogonal), and the boundary ≤ occludes — only a survives
    assert(GraphNav.alphaPrunedGraph(knn, corpus, "vid", "emb", r = 8,
      alphaNum = 10, alphaDen = 10).count() == 1)
    assert(GraphNav.alphaPrunedGraph(knn, corpus, "vid", "emb", r = 8,
      alphaNum = 100, alphaDen = 10).count() == 3,
      "a loose enough alpha occludes nothing")
  }

  test("alphaPrunedGraph: independent greedy replay on an LSH kNN graph") {
    // deterministic 24-vector / 8-dim corpus with enough directional
    // spread that occlusion decisions actually vary
    val corpus = (0L until 24L).map { i =>
      (i, (0 until 8).map(d =>
        (math.sin(i * 0.7 + d * 1.3) + 0.2 * math.cos(i * 2.1 * (d + 1)))
          .toFloat))
    }.toDF("vid", "emb")
    val knn = Nsw.knnGraph(corpus, "vid", "emb",
      planesPerBand = 2, bands = 2, dims = 8, k = 6, minCosine = -1.0)
      .localCheckpoint()
    val r = 3
    val got = GraphNav.alphaPrunedGraph(knn, corpus, "vid", "emb", r = r)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet

    // replay: collect edges + embeddings, run the published greedy in
    // plain Scala (independent of the HOF implementation)
    val emb = corpus.collect()
      .map(x => x.getLong(0) -> x.getSeq[Float](1)).toMap
    val edges = knn.collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getLong(3)))
      .groupBy(_._1)
    val expected = edges.flatMap { case (id, es) =>
      val cands = es.map { case (_, nbr, cm) => (nbr, cm) }
        .sortBy { case (nbr, cm) => (-cm, nbr) }
      val kept = collection.mutable.ArrayBuffer.empty[(Long, Long)]
      cands.foreach { case (c, cm) =>
        val occluded = kept.exists { case (p, _) =>
          val pcm = micro(cosOf(emb(p), emb(c)))
          12L * (1000000L - pcm) <= 10L * (1000000L - cm)
        }
        if (kept.size < r && !occluded) kept += ((c, cm))
      }
      kept.zipWithIndex.map { case ((c, _), i) => (id, (i + 1).toLong, c) }
    }.toSet
    assert(got == expected)
    assert(got.groupBy(_._1).values.forall(_.size <= r))
  }

  test("clustered corpus: raw kNN cliques trap the beam; α-RNG at the same degree navigates") {
    // 40 tight clusters of 12 over a pseudo-random 32-dim base (the
    // ClusterNav construction at miniature scale): a raw kNN graph
    // with k=6 < cluster size is disconnected cliques (Malkov &
    // Yashunin 2018 §4); α-RNG pruning of a wider pool keeps
    // cross-cluster links at the SAME degree budget
    // j = 0 is the pure cluster seed: the occlusion rule needs the
    // center (closer to every clone than they are to each other) to
    // prune the periphery — a center-free simplex of equidistant
    // clones occludes nothing at α = 1.2
    val corpus = (0L until 480L).map { i =>
      val c = (i / 12).toInt
      val j = (i % 12).toInt
      (i, (0 until 32).map(d =>
        (math.sin(c * 7.13 + d * 3.77 + c * d * 0.91) +
          (if (j == 0) 0.0
           else 0.15 * math.sin(j * 3.1 + d * 1.3 + j * d * 0.7)))
          .toFloat))
    }.toDF("vid", "emb").localCheckpoint()
    // query: a fresh clone near cluster 13 (ids 156-167) — chosen OFF
    // the stride-16 seed grid (multiples of 30), so no walk seed lands
    // in the target cluster
    val queries = corpus.filter(col("vid") === 156L)
      .select(col("vid").as("qid"),
        transform(col("emb"), (x, i) =>
          (x + lit(0.05f) * cos(i.cast("double") * 2.3).cast("float")))
          .as("emb"))
      .localCheckpoint()
    val exact = Similarity.bruteForceTopKBatch(
        corpus, queries, "vid", "emb", "qid", k = 10)
      .select(col("query_id"), col("vid")).localCheckpoint()
    // the contrast is real: the exact top-10 IS the cluster
    assert(exact.filter(col("vid") >= 156 && col("vid") < 168).count() == 10)
    def recall(g: org.apache.spark.sql.DataFrame): Long =
      Nsw.graphSearchBatch(corpus, "vid", "emb",
          queries, "qid", g, k = 10, nEntries = 4, beamWidth = 16,
          maxSteps = 12,
          entries = Nsw.strideEntries(corpus, "vid", 16))
        .select(col("qid").as("query_id"), col("vid"))
        .join(exact, Seq("query_id", "vid")).count()
    val raw = Nsw.knnGraph(corpus, "vid", "emb",
      planesPerBand = 4, bands = 2, dims = 32, k = 6, minCosine = -1.0)
      .localCheckpoint()
    val div = GraphNav.alphaPrunedGraph(
      Nsw.knnGraph(corpus, "vid", "emb",
        planesPerBand = 4, bands = 2, dims = 32, k = 24, minCosine = -1.0),
      corpus, "vid", "emb", r = 6).localCheckpoint()
    val (rawHits, divHits) = (recall(raw), recall(div))
    assert(rawHits == 0, s"raw kNN cliques must trap the beam (got $rawHits)")
    assert(divHits >= 8,
      s"α-RNG at the same degree budget must navigate in (got $divHits/10)")
    // same degree budget really holds
    assert(div.groupBy("id").count().agg(max("count")).head().getLong(0) <= 6)
  }

  test("filteredSearch: escalates to k matches; thin_result surfaces budget exhaustion") {
    // SMOOTH corpus (the 24-vector replay fixture extended to 40): the
    // kNN graph is navigable, so a wider beam genuinely visits more of
    // the corpus — the regime escalation exists for (a clique-trapped
    // graph is q304's problem, solved by α-RNG, not by widening)
    val corpus = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (math.sin(i * 0.7 + d * 1.3) + 0.2 * math.cos(i * 2.1 * (d + 1)))
          .toFloat))
    }.toDF("vid", "emb").localCheckpoint()
    val graph = Nsw.knnGraph(corpus, "vid", "emb",
      planesPerBand = 2, bands = 2, dims = 8, k = 4, minCosine = -1.0)
      .localCheckpoint()
    val q = corpus.filter(col("vid") === 0L)
    val pred = col("vid") % 10 === 7 // 4 of 40 ids — selective
    val got = GraphNav.filteredSearch(corpus, "vid", "emb", q, graph,
        pred, k = 2, nEntries = 4, beamWidth = 8, maxSteps = 10,
        overFetch = 2, escalations = 1, growth = 4)
      .collect()
    // replay the escalation through the public walk: rung scale s =
    // beam 8s, cut 4s; rung 0 wins iff it already holds k matches
    def rung(s: Int) = Nsw.graphSearch(corpus, "vid", "emb", q,
        graph, k = 4 * s, nEntries = 4, beamWidth = 8 * s, maxSteps = 10)
      .filter(pred)
    val n0 = rung(1).count()
    assert(n0 < 2,
      "fixture must be thin at rung 0 so the escalation path is under test")
    val sel = rung(4)
    val expect = sel.orderBy(col("cosine_sim").desc, col("vid").asc)
      .limit(2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(r => (r.getLong(1), r.getDouble(2))).toSeq == expect)
    assert(got.length == 2 && got.forall(!_.getBoolean(3)),
      "the widened rung reaches k matches — full answer, thin flag off")
    // budget exhaustion is SURFACED, never silent: the default entries
    // (4 lowest ids) are always visited, so `vid < 3` yields exactly 3
    // of k = 5 even with no escalation budget — 3 rows, all flagged
    val thin = GraphNav.filteredSearch(corpus, "vid", "emb", q, graph,
      col("vid") < 3, k = 5, escalations = 0).collect()
    assert(thin.length == 3 && thin.forall(_.getBoolean(3)),
      "a capped-out thin answer must carry thin_result = true")
  }

  test("hierarchicalSearchBatch: per-query upper-layer seeds, planted target walks home") {
    // clustered corpus: 4 tight clusters of 10 vectors; the upper layer
    // is every 4th id. A planted query near id 37 must walk to it even
    // though the global corner seeds sit in cluster 0.
    val corpus = (0L until 40L).map { i =>
      val c = (i / 10).toInt
      (i, (0 until 8).map(d =>
        (math.cos(c * 1.5 + d) + 0.05 * math.sin(i * 3.7 + d * 1.9))
          .toFloat))
    }.toDF("vid", "emb").localCheckpoint()
    val graph = Nsw.knnGraph(corpus, "vid", "emb",
      planesPerBand = 2, bands = 2, dims = 8, k = 4, minCosine = -1.0)
      .localCheckpoint()
    val upperCorpus = corpus.filter(col("vid") % 4 === 0).localCheckpoint()
    val upperGraph = Nsw.knnGraph(upperCorpus, "vid", "emb",
      planesPerBand = 1, bands = 2, dims = 8, k = 4, minCosine = -1.0)
      .localCheckpoint()
    val queries = corpus.filter(col("vid") === 37L)
      .select(col("vid").as("qid"),
        transform(col("emb"), (x, i) =>
          (x + lit(0.01f) * cos(i.cast("double")).cast("float")))
          .as("emb"))
    val got = GraphNav.hierarchicalSearchBatch(
      corpus, "vid", "emb", queries, "qid", graph,
      upperCorpus, upperGraph, k = 5)
    val top = got.filter(col("rank") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 37L,
      "the upper-layer walk must seed the base beam inside the target cluster")
    // wrapper ≡ inline construction through the entriesByQuery hook
    val upper = Nsw.graphSearchBatch(
        upperCorpus, "vid", "emb", queries, "qid", upperGraph,
        k = 8, nEntries = 4, beamWidth = 16, maxSteps = 10,
        entries = Nsw.strideEntries(upperCorpus, "vid", 4))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSeq }
    val inline = Nsw.graphSearchBatch(corpus, "vid", "emb",
      queries, "qid", graph, k = 5, nEntries = 4, beamWidth = 8,
      maxSteps = 8, entriesByQuery = upper)
    assert(got.collect().toSeq == inline.collect().toSeq)
  }

  test("filteredSearchBatch: per-query ladders — queries escalate independently, batch == per-query") {
    // the filteredSearch fixture (smooth 40-vector corpus, navigable
    // kNN graph); queries chosen so the LADDERS DIVERGE (calibrated
    // below): vid 7 finds its k=1 match in the rung-0 cut (its own id
    // satisfies the predicate and tops its beam) and must finalize
    // there, while vid 1's rung-0 cut holds none — only vid 1 re-walks
    val corpus = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (math.sin(i * 0.7 + d * 1.3) + 0.2 * math.cos(i * 2.1 * (d + 1)))
          .toFloat))
    }.toDF("vid", "emb").localCheckpoint()
    val graph = Nsw.knnGraph(corpus, "vid", "emb",
      planesPerBand = 2, bands = 2, dims = 8, k = 4, minCosine = -1.0)
      .localCheckpoint()
    val pred = col("vid") % 10 === 7
    val qids = Seq(1L, 7L)
    val queries = corpus.filter(col("vid").isin(qids: _*))
      .select(col("vid").as("qid"), col("emb"))
    def rungCount(q: Long, s: Int): Long =
      Nsw.graphSearch(corpus, "vid", "emb",
          corpus.filter(col("vid") === q), graph,
          k = 4 * s, nEntries = 4, beamWidth = 8 * s, maxSteps = 10)
        .filter(pred).count()
    // calibration: the fixture really makes the ladders diverge, and
    // the escalated query ends FULL (both queries carry rows)
    assert(rungCount(1L, 1) == 0, "vid 1 must be thin at rung 0")
    assert(rungCount(7L, 1) >= 1, "vid 7 must settle at rung 0")
    assert(rungCount(1L, 4) >= 1, "vid 1's widened rung must fill")
    val got = GraphNav.filteredSearchBatch(corpus, "vid", "emb",
        queries, "qid", graph, pred, k = 1,
        nEntries = 4, beamWidth = 8, maxSteps = 10,
        overFetch = 4, escalations = 1, growth = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    // batch ≡ each query's own single-query ladder (the per-query
    // semantics contract the oracle replays)
    val solo = qids.flatMap { q =>
      GraphNav.filteredSearch(corpus, "vid", "emb",
          corpus.filter(col("vid") === q), graph, pred, k = 1,
          nEntries = 4, beamWidth = 8, maxSteps = 10,
          overFetch = 4, escalations = 1, growth = 4)
        .collect()
        .map(r => (q, r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3)))
    }.toSet
    assert(got.map(_._1) == Set(1L, 7L),
      "both the settled and the escalated query must carry rows")
    assert(got == solo, "batch ladder must equal the per-query ladders")
    // the escalation-geometry overflow guard fails loud, not wrapped
    val err = intercept[IllegalArgumentException] {
      GraphNav.filteredSearchBatch(corpus, "vid", "emb", queries, "qid",
        graph, pred, k = 1000, overFetch = 64, escalations = 16,
        growth = 4)
    }
    assert(err.getMessage.contains("overflows Int"))
  }

  test("BeamState reuse: a memo pre-warmed by a narrower walk cannot move the wider walk") {
    // the cross-rung amortization contract (r20 escalation-ladder
    // optimization): rung 1 walks with rung 0's memo in hand; cached
    // cosines and adjacency are deterministic for a fixed (corpus,
    // graph), so the warm walk must be row-identical to a cold one
    val corpus = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (math.sin(i * 0.7 + d * 1.3) + 0.2 * math.cos(i * 2.1 * (d + 1)))
          .toFloat))
    }.toDF("vid", "emb").localCheckpoint()
    val graph = Nsw.knnGraph(corpus, "vid", "emb",
      planesPerBand = 2, bands = 2, dims = 8, k = 4, minCosine = -1.0)
      .localCheckpoint()
    val queries = corpus.filter(col("vid").isin(1L, 7L))
      .select(col("vid").as("qid"), col("emb"))
    val shared = new Nsw.BeamState
    val narrow = Nsw.graphSearchBatch(corpus, "vid", "emb", queries, "qid",
      graph, k = 4, nEntries = 4, beamWidth = 8, maxSteps = 10,
      state = shared)
    narrow.count() // rung 0 populates the memo
    val warm = Nsw.graphSearchBatch(corpus, "vid", "emb", queries, "qid",
      graph, k = 16, nEntries = 4, beamWidth = 32, maxSteps = 10,
      state = shared)
    val cold = Nsw.graphSearchBatch(corpus, "vid", "emb", queries, "qid",
      graph, k = 16, nEntries = 4, beamWidth = 32, maxSteps = 10)
    assert(warm.collect().toSeq == cold.collect().toSeq,
      "a pre-warmed shared memo must not change any walk's result")
  }
}
