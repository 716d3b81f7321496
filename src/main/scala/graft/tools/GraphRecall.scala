package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.ops.Nsw

/** Recall-vs-scale audit for the graph-ANN beam (the BASELINE.md
  * recall rows): builds the q283 navigation graph on an sfDir's
  * embeddings, then measures recall@10 against brute force for a
  * deterministic query panel under BOTH entry-seeding policies —
  * `corner` (the nEntries lowest ids, q283's default) and `stride`
  * ([[Nsw.strideEntries]] spread seeds). As the corpus (and
  * the NSW diameter) grows, a fixed-step beam from a static corner
  * loses recall; the spread seeds are the public recall-preserving
  * fix short of full HNSW layers.
  *
  * Usage: `runMain graft.tools.GraphRecall <sfDir> [nQueries] [beamWidth] [maxSteps]`
  */
object GraphRecall {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GraphRecall <sfDir> [nQueries] [beamWidth] [maxSteps]")
    val dir = args(0)
    val nQueries = if (args.length > 1) args(1).toInt else 8
    val beam = if (args.length > 2) args(2).toInt else 16
    val steps = if (args.length > 3) args(3).toInt else 10
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the q283 fixture geometry, verbatim (EntryContext.annGraph)
    val graph = Nsw.knnGraph(emb, "vec_id", "embedding",
        planesPerBand = 6, bands = 4, dims = 64, k = 8,
        minCosine = -1.0, maxBucketSize = 400)
      .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()

    // deterministic panel spread over the corpus: query i = the
    // smallest id >= i*span/n (works at any sf)
    val qids = Nsw.strideEntries(emb, "vec_id", nQueries)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))

    def recallOf(entries: Seq[Long], label: String,
        g: org.apache.spark.sql.DataFrame = graph): Unit = {
      val walk = Nsw.graphSearchBatch(
          emb, "vec_id", "embedding", queries, "query_id", g,
          k = 10, nEntries = 4, beamWidth = beam, maxSteps = steps,
          entries = entries)
        .select(col("query_id"), col("vec_id"))
      val exact = Similarity.bruteForceTopKBatch(
          emb, queries, "vec_id", "embedding", "query_id", k = 10)
        .select(col("query_id"), col("vec_id"))
      val hits = walk.join(exact, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      val per = qids.map { q =>
        hits.filter(col("query_id") === q).collect()
          .headOption.map(_.getLong(1)).getOrElse(0L)
      }
      val mean = per.sum.toDouble / per.length / 10.0
      println(s"[recall] $dir $label per-query=${per.mkString(",")} " +
        f"mean_recall@10=$mean%.3f")
    }

    recallOf(Nil, "corner")
    recallOf(Nsw.strideEntries(emb, "vec_id", 4), "stride4")
    recallOf(Nsw.strideEntries(emb, "vec_id", 16), "stride16")
    // the NN-descent-refined graph, same geometry
    val refined = Nsw.nnDescentRound(
        graph, emb, "vec_id", "embedding", k = 8)
      .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
    recallOf(Nil, "refined_corner", refined)

    // n-scaled LSH geometry: buckets sized to ~n/2^planes members —
    // the fixture's 6 planes = 64 buckets/band overflows the 400 cap
    // past ~25k vectors and the capped tail loses its candidates
    val n = emb.count()
    val planes = math.max(6,
      (math.log(n / 100.0) / math.log(2.0)).ceil.toInt)
    val scaled = Nsw.knnGraph(emb, "vec_id", "embedding",
        planesPerBand = planes, bands = 8, dims = 64, k = 8,
        minCosine = -1.0, maxBucketSize = 400)
      .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
    recallOf(Nil, s"scaledlsh_p${planes}_corner", scaled)
    recallOf(Nsw.strideEntries(emb, "vec_id", 16),
      s"scaledlsh_p${planes}_stride16", scaled)
    val scaledRef = Nsw.nnDescentRound(
        scaled, emb, "vec_id", "embedding", k = 8)
      .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
    recallOf(Nsw.strideEntries(emb, "vec_id", 16),
      s"scaledlsh_p${planes}_refined_stride16", scaledRef)

    // HIERARCHICAL: an upper layer of every 32nd vector walks first
    // (corner seeds — the layer is small), its per-query top hands the
    // base beam its own near-the-target seeds (the HNSW construction)
    for (mod <- Seq(16L, 32L)) {
      val upperCorpus = emb.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
        .localCheckpoint()
      val upperGraph = Nsw.knnGraph(upperCorpus, "vec_id", "embedding",
          planesPerBand = 6, bands = 4, dims = 64, k = 8,
          minCosine = -1.0, maxBucketSize = 400)
        .select(col("id"), col("nbr")).localCheckpoint()
      val upper = Nsw.graphSearchBatch(
          upperCorpus, "vec_id", "embedding", queries, "query_id",
          upperGraph, k = 8, nEntries = 4, beamWidth = 16, maxSteps = 10,
          entries = Nsw.strideEntries(upperCorpus, "vec_id", 4))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSeq }
      val walk = Nsw.graphSearchBatch(
          emb, "vec_id", "embedding", queries, "query_id", graph,
          k = 10, nEntries = 4, beamWidth = beam, maxSteps = steps,
          entriesByQuery = upper)
        .select(col("query_id"), col("vec_id"))
      val exact = Similarity.bruteForceTopKBatch(
          emb, queries, "vec_id", "embedding", "query_id", k = 10)
        .select(col("query_id"), col("vec_id"))
      val hits = walk.join(exact, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      val per = qids.map { q =>
        hits.filter(col("query_id") === q).collect()
          .headOption.map(_.getLong(1)).getOrElse(0L)
      }
      println(s"[recall] $dir hier_mod$mod per-query=${per.mkString(",")} " +
        f"mean_recall@10=${per.sum.toDouble / per.length / 10.0}%.3f")
    }
    // DIVERSIFIED PRUNING (DiskANN α-RNG RobustPrune / HNSW heuristic,
    // GraphNav.alphaPrunedGraph): candidates widened to k=16, pruned
    // to degree ≤ 8 — the fixture graph's edge budget spent across
    // DIRECTIONS instead of one tight cluster; "divsym" additionally
    // inserts the reverse edges and re-prunes (the full DiskANN
    // two-pass build)
    val wide = Nsw.knnGraph(emb, "vec_id", "embedding",
        planesPerBand = 6, bands = 4, dims = 64, k = 16,
        minCosine = -1.0, maxBucketSize = 400).localCheckpoint()
    val divGraphs = Seq((11, "a11"), (12, "a12"), (14, "a14")).map {
      case (an, lbl) =>
        val div = graft.ops.GraphNav.alphaPrunedGraph(
            wide, emb, "vec_id", "embedding", r = 8,
            alphaNum = an, alphaDen = 10)
          .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
        recallOf(Nsw.strideEntries(emb, "vec_id", 16),
          s"div_${lbl}_stride16", div)
        (lbl, div)
    }.toMap
    recallOf(Nil, "div_a12_corner", divGraphs("a12"))
    val divsym = {
      val d = divGraphs("a12")
      val union = d.unionByName(d.select(col("nbr").as("id"),
          col("id").as("nbr"), col("cos_micro")))
        .dropDuplicates("id", "nbr")
      graft.ops.GraphNav.alphaPrunedGraph(
          union, emb, "vec_id", "embedding", r = 8,
          alphaNum = 12, alphaDen = 10)
        .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
    }
    recallOf(Nsw.strideEntries(emb, "vec_id", 16),
      "divsym_a12_stride16", divsym)

    // PLANTED-structure probe — the readout that separates "the index
    // fails" from "the fixture has nothing to find" (the unit-Gaussian
    // corpus's top-10 cosines bunch at 0.40–0.50 with ~0.003 margins at
    // 10×, the Beyer et al. vanishing-contrast regime): each planted
    // query is a corpus vector + deterministic hash noise scaled so
    // cos(query, target) ≈ 0.9 — far above the noise ceiling. The walk
    // must surface the TARGET; hit@1 measures pure navigation.
    val planted = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"),
          (x, i) => x + lit(0.08) * sin(col("query_id") * 37 + i * 131))
          .as("__raw"))
      .select(col("query_id"),
        transform(col("__raw"), x =>
          (x / sqrt(aggregate(col("__raw"), lit(0.0d),
            (a, v) => a + v * v))).cast("float")).as("embedding"))
      .localCheckpoint()
    for ((g, label) <- Seq((graph, "fixture"), (scaled, "scaledlsh"),
        (divGraphs("a12"), "div_a12"), (divsym, "divsym_a12"))) {
      val hits = Nsw.graphSearchBatch(
          emb, "vec_id", "embedding", planted, "query_id", g,
          k = 10, nEntries = 4, beamWidth = beam, maxSteps = steps,
          entries = Nsw.strideEntries(emb, "vec_id", 16))
        .filter(col("rank") === 1 && col("vec_id") === col("query_id"))
        .count()
      // the planted contrast really is above the noise floor
      val cs = Similarity.bruteForceTopKBatch(
          emb, planted, "vec_id", "embedding", "query_id", k = 1)
        .filter(col("vec_id") === col("query_id")).count()
      println(s"[recall] $dir planted_$label hit@1=$hits/${qids.length} " +
        s"(target is the true NN for $cs/${qids.length})")
    }
    spark.stop()
  }
}
