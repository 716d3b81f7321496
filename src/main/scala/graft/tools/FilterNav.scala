package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{GraphNav, Similarity}
import graft.ops.Nsw

/**
 * Filtered graph-ANN audit: `runMain graft.tools.FilterNav <sfDir>`.
 *
 * Measures [[GraphNav.filteredSearch]] (the q307 geometry: annGraph's
 * 6×4-band degree-8 graph, stride-4 seeds, keep-rate-1/10 predicate,
 * overFetch 4 / one ×4 escalation) against FILTERED brute force:
 *
 *  - per-query: rows returned (the selectivity-safety claim is that a
 *    1/10-selective predicate still yields k rows), the thin flag,
 *    the rung-0 match count (did the escalation engage?), and
 *    recall@10 vs the exact filtered top-10 — on the near-noise
 *    ScaleGen fixture this reads the documented tie-breaking floor
 *    (BASELINE r17 recall audit), so the decisive row is:
 *  - planted-filtered hit@1: the query is a PREDICATE-SATISFYING
 *    corpus vector plus the q301 integer noise (cos≈0.9 to its
 *    target) — the filtered walk must surface the target at rank 1.
 */
object FilterNav {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: FilterNav <sfDir>"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val graph = Nsw.knnGraph(emb, "vec_id", "embedding",
        planesPerBand = 6, bands = 4, dims = 64, k = 8,
        minCosine = -1.0, maxBucketSize = 400)
      .select(col("id"), col("nbr")).localCheckpoint()
    val entries = Nsw.strideEntries(emb, "vec_id", 4)
    val pred = col("vec_id") % 10 === 7
    val filteredCorpus = emb.filter(pred).localCheckpoint()
    val K = 10          // one k for the search, the thin test, the
    val overFetch = 4   // recall divisor, and the rung-0 cut below

    def search(qdf: org.apache.spark.sql.DataFrame) =
      GraphNav.filteredSearch(emb, "vec_id", "embedding", qdf, graph,
        pred, k = K, nEntries = 4, beamWidth = 16, maxSteps = 10,
        entries = entries, overFetch = overFetch, escalations = 1,
        growth = 4)

    // recall vs filtered brute force (corpus queries)
    Seq(0L, 7L, 23L).foreach { q =>
      val qdf = emb.filter(col("vec_id") === q)
      val res = search(qdf).collect()
      val exact = Similarity.bruteForceTopK(
          filteredCorpus, qdf, "vec_id", "embedding", k = K)
        .collect().map(_.getLong(0)).toSet
      val n0 = Nsw.graphSearch(emb, "vec_id", "embedding", qdf,
          graph, k = K * overFetch, nEntries = 4, beamWidth = 16,
          maxSteps = 10, entries = entries)
        .filter(pred).count()
      val hits = res.count(r => exact.contains(r.getLong(1)))
      // thin ⟺ fewer than k rows came back (rows = min(matches, k) by
      // construction, so the row-carried flag adds nothing here — and
      // an EMPTY result has no row to carry it)
      val thin = res.length < K
      println(f"[filternav] q=$q rows=${res.length} thin=$thin " +
        f"rung0_matches=$n0 recall@$K=${hits.toDouble / K}%.3f")
    }

    // planted-filtered hit@1 (targets satisfy the predicate)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val targets = Seq(7L, 107L, 207L, 307L, 1007L, 2007L, 3007L, 4007L)
      .filter(_ <= maxId)
    var hit = 0
    targets.foreach { t =>
      val planted = emb.filter(col("vec_id") === t)
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") +
              ((i * 131 + 17) % 201 - 100).cast("double") / lit(1000.0))
            .cast("array<float>").as("embedding"))
      val top = search(planted).filter(col("rank") === 1).collect()
      val ok = top.headOption.exists(_.getLong(1) == t)
      // control: the UNFILTERED q301-shape walk on the same planted
      // query — separates "the filtered path lost the target" from
      // "the beam never reached it" (the navigation ceiling)
      val walkHit = Nsw.graphSearch(emb, "vec_id", "embedding",
          planted, graph, k = 1, nEntries = 4, beamWidth = 16,
          maxSteps = 10, entries = entries)
        .collect().headOption.exists(_.getLong(0) == t)
      if (ok) hit += 1
      println(s"[filternav] planted target=$t hit@1=$ok unfiltered_walk_hit@1=$walkHit")
    }
    println(s"[filternav] planted_hit@1 $hit/${targets.size}")

    // ---- durable-store ladders (r20): the same probes through
    // PUBLISHED indexes — the α-pruned graph store (q305/q310
    // geometry) and the IVF store (q97/q311 geometry) — instead of
    // the session graph. The IVF rung-1 covers all nlist lists, so
    // its escalated answers are EXACT (recall 1.0 is the invariant,
    // not an aspiration); rung-0-settled queries read candidate-
    // limited recall, which this audit surfaces per query.
    val idxBase = s"${sys.props("java.io.tmpdir")}/graft_filternav_idx"
    val fs = new org.apache.hadoop.fs.Path(idxBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idxBase), true)
    val (gDir, vDir) = (s"$idxBase/graph", s"$idxBase/vec")
    graft.io.GraphIndex.build(emb, "vec_id", "embedding", gDir,
      dims = 64, k = 8, planesPerBand = 6, bands = 4,
      maxBucketSize = 400, nEntries = 4, beamWidth = 16, maxSteps = 10,
      candidateK = 12, alphaNum = 12, alphaDen = 10)
    graft.io.VectorIndex.build(emb, "vec_id", "embedding", vDir,
      nlist = 8, iters = 2)
    val qids = Seq(0L, 7L, 23L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
      .localCheckpoint()
    def exactOf(q: Long): Set[Long] = Similarity.bruteForceTopK(
        filteredCorpus, emb.filter(col("vec_id") === q),
        "vec_id", "embedding", k = K)
      .collect().map(_.getLong(0)).toSet
    def audit(tag: String, rows: Array[org.apache.spark.sql.Row],
        ms: Long): Unit =
      qids.foreach { q =>
        val mine = rows.filter(_.getLong(0) == q)
        val hits = mine.count(r => exactOf(q).contains(r.getLong(2)))
        val thin = mine.headOption.exists(_.getBoolean(4)) || mine.isEmpty
        println(f"[filternav-durable] $tag q=$q rows=${mine.length} " +
          f"thin=$thin recall@$K=${hits.toDouble / K}%.3f batch_ms=$ms")
      }
    var t0 = System.nanoTime()
    val gRes = graft.io.GraphIndex.filteredSearchBatch(
      spark, gDir, emb, queries, "query_id", pred, k = K,
      entries = entries, overFetch = overFetch, escalations = 1,
      growth = 4).collect()
    audit("graph-store", gRes, (System.nanoTime() - t0) / 1000000)
    // rung-0 IVF match counts: did the nprobe escalation engage?
    qids.foreach { q =>
      val n0 = graft.io.VectorIndex.probeBatch(
          queries.filter(col("query_id") === q), "query_id", vDir,
          k = 1000000, nprobe = 2)
        .filter(pred).count()
      println(s"[filternav-durable] ivf q=$q rung0_matches=$n0")
    }
    t0 = System.nanoTime()
    val vRes = graft.io.VectorIndex.probeFilteredBatch(
      queries, "query_id", vDir, pred, k = K, nprobe = 2,
      escalations = 1, growth = 4).collect()
    audit("ivf-store", vRes, (System.nanoTime() - t0) / 1000000)
    spark.stop()
  }
}
