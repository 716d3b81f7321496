package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{GraphNav, Similarity}
import graft.ops.Nsw

/**
 * Planted-CLUSTER navigation readout — the regime where diversified
 * pruning (DiskANN α-RNG / HNSW heuristic, [[GraphNav.alphaPrunedGraph]])
 * earns its keep and a raw kNN graph measurably fails. The ScaleGen
 * noise fixture has no recoverable structure (BASELINE r17 recall
 * audit: rank-10/11 margins ~0.003 — recall@10 there measures
 * tie-breaking), so this probe OVERLAYS structure: around each of 8
 * spread targets it plants 9 clones at cos≈0.9 (deterministic integer
 * noise, the q301 convention). A near-cluster query's exact top-10 is
 * then its cluster — real contrast, recoverable by navigation.
 *
 * The published failure this measures (Malkov & Yashunin 2018 §4): in
 * clustered data a raw kNN graph spends the whole degree budget
 * INSIDE the cluster (every clone's top-k is the other clones), so
 * clusters disconnect from the long-range fabric and a beam from
 * outside can't enter; the occlusion rule prunes intra-cluster
 * redundancy and refills the budget with outward links.
 *
 * Usage: runMain graft.tools.ClusterNav <sfDir> [beam] [steps]
 */
object ClusterNav {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val beam = if (args.length > 1) args(1).toInt else 16
    val steps = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = if (args.length > 3) args(3) else "overlay"
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // "clustered" mode: REPLACE the corpus with tight clusters of 20
    // (every 20th vector seeds 20 integer-noise clones at cos≈0.9;
    // clone ids are seed + j, collision-free ONLY because the seeds
    // are the dense %-20 grid — re-derive the packing for sparse-id
    // fixtures) — the regime where a raw kNN graph with
    // k < cluster size degenerates into disconnected cliques (Malkov &
    // Yashunin 2018 §4's clustered-data failure) while α-RNG pruning
    // of a wider pool keeps the cross-cluster links
    val emb = if (mode != "clustered") emb0 else
      emb0.filter(col("vec_id") % 20 === 0)
        .crossJoin(spark.range(0, 20).select(col("id").cast("int").as("__j")))
        .select((col("vec_id") + col("__j")).as("vec_id"),
          when(col("__j") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x.cast("double") +
                ((i * 131 + col("__j") * 37 + 17) % 201 - 100)
                  .cast("double") / lit(1000.0)))
              .cast("array<float>")).as("embedding"))
        .localCheckpoint()
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    // targets: in overlay mode the 8 stride positions; in clustered
    // mode 8 HASH-spread cluster seeds — deliberately uncorrelated
    // with the walk's stride16 entry positions (stride8 cuts are a
    // subset of stride16 cuts, so stride targets would hand the walk
    // a seed INSIDE every target cluster and defeat the probe)
    val targets: Seq[Long] =
      if (mode != "clustered") Nsw.strideEntries(emb, "vec_id", 8)
      else emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id")).orderBy(xxhash64(col("vec_id")))
        .limit(8).collect().map(_.getLong(0)).toSeq

    // deterministic clones at cos≈0.9: pure-integer noise (exact
    // decimals, float-cast — the q301 portability convention); overlay
    // clone ids are disjoint from the corpus range
    def clones(of: DataFrame, j0: Int, n: Int): DataFrame =
      of.crossJoin(
          spark.range(j0, j0 + n).select(col("id").cast("int").as("__j")))
        .select(
          (lit(maxId + 1) + col("vec_id") * 16 + col("__j")).as("vec_id"),
          col("vec_id").as("__seed"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") +
              ((i * 131 + col("__j") * 37 + 17) % 201 - 100)
                .cast("double") / lit(1000.0)))
            .cast("array<float>").as("embedding"))
    val tdf = emb.filter(col("vec_id").isin(targets: _*)).localCheckpoint()
    val corpus =
      if (mode != "clustered")
        emb.unionByName(clones(tdf, 1, 9).drop("__seed")).localCheckpoint()
      else emb
    // queries: a fresh clone of each target (overlay j = 10; clustered
    // j = 20, outside the corpus's j = 0..19) — its exact top-10 is
    // the planted cluster; query_id = the target seed id
    val queries = clones(tdf, if (mode != "clustered") 10 else 20, 1)
      .select(col("__seed").as("query_id"), col("embedding"))
      .localCheckpoint()

    val exact = Similarity.bruteForceTopKBatch(
        corpus, queries, "vec_id", "embedding", "query_id", k = 10)
      .select(col("query_id"), col("vec_id")).localCheckpoint()
    // the contrast really exists: the exact top-10 is cluster-dominated
    val inCluster =
      if (mode != "clustered")
        exact.filter(col("vec_id") > maxId ||
          col("vec_id").isin(targets: _*)).count()
      else exact.filter(col("vec_id") >= col("query_id") &&
        col("vec_id") < col("query_id") + 20).count()
    println(s"[clusternav] $dir $mode exact-top10 cluster share: " +
      s"$inCluster/${targets.length * 10}")

    def recallOf(g: DataFrame, label: String): Unit = {
      val walk = Nsw.graphSearchBatch(
          corpus, "vec_id", "embedding", queries, "query_id", g,
          k = 10, nEntries = 4, beamWidth = beam, maxSteps = steps,
          entries = Nsw.strideEntries(corpus, "vec_id", 16))
        .select(col("query_id"), col("vec_id"))
      val hits = walk.join(exact, Seq("query_id", "vec_id")).count()
      println(f"[clusternav] $dir $label recall@10=" +
        f"${hits.toDouble / (targets.length * 10)}%.3f ($hits hits)")
    }

    // raw kNN graph at the fixture geometry (degree 8)
    val base = Nsw.knnGraph(corpus, "vec_id", "embedding",
        planesPerBand = 6, bands = 4, dims = 64, k = 8,
        minCosine = -1.0, maxBucketSize = 400)
      .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
    recallOf(base, "knn_k8")
    // diversified: candidates widened to 16, α-RNG-pruned to degree ≤ 8
    val wide = Nsw.knnGraph(corpus, "vec_id", "embedding",
        planesPerBand = 6, bands = 4, dims = 64, k = 16,
        minCosine = -1.0, maxBucketSize = 400).localCheckpoint()
    val div = GraphNav.alphaPrunedGraph(wide, corpus, "vec_id", "embedding",
        r = 8, alphaNum = 12, alphaDen = 10)
      .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
    recallOf(div, "alpha12_r8")
    if (mode == "clustered") {
      // the wider pool is what lets the occlusion rule FIND diverse
      // edges — cluster size 20 > 16 would leave a k=16 pool all
      // intra-cluster; k=24 carries cross-cluster candidates
      val wide24 = Nsw.knnGraph(corpus, "vec_id", "embedding",
          planesPerBand = 6, bands = 4, dims = 64, k = 24,
          minCosine = -1.0, maxBucketSize = 400).localCheckpoint()
      recallOf(GraphNav.alphaPrunedGraph(wide24, corpus, "vec_id",
          "embedding", r = 8, alphaNum = 12, alphaDen = 10)
        .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint(),
        "alpha12_r8_k24")
    }
    // the full DiskANN two-pass: reverse edges inserted, re-pruned
    val divsym = GraphNav.alphaPrunedGraph(
        div.unionByName(div.select(col("nbr").as("id"), col("id").as("nbr"),
          col("cos_micro"))).dropDuplicates("id", "nbr"),
        corpus, "vec_id", "embedding", r = 8, alphaNum = 12, alphaDen = 10)
      .select(col("id"), col("nbr"), col("cos_micro")).localCheckpoint()
    recallOf(divsym, "alpha12_sym_r8")
    spark.stop()
  }
}
