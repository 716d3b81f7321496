package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ops.Similarity
import graft.ops.Nsw

/**
 * Durable navigation-graph ANN index — the graph-regime member of the
 * published index family ([[SignatureIndex]] doc granularity,
 * [[VectorIndex]] IVF lists, [[WindowIndex]] token windows). NSW's
 * whole point in production is INCREMENTAL insert (Malkov & Yashunin
 * 2018: new points are connected by searching the standing graph), so
 * this store is built once and then maintained by daily
 * search-then-link drains instead of rebuilt per batch.
 *
 * Layout — a [[Commits]] generational store (the protocol, its crash
 * contract and its compaction live there, shared with
 * [[graft.streaming.SearchIngest]]'s postings):
 *
 *  - `adj/gen=<n>/` — adjacency rows (id, nbr, cos_micro), id-sorted
 *    within files so point lookups prune on footer min/max. A node's
 *    FULL adjacency list lives in exactly one generation;
 *  - `ledger/v=<m>/` — (id, gen): which generation holds each node's
 *    live adjacency, so every drain's edge flips go live
 *    all-or-nothing and a racing writer fails visibly on the CAS;
 *  - the [[Commits]] index meta — identity + search geometry
 *    (committed LAST at build: a crashed build leaves no readable
 *    index).
 *
 * A drain ([[ingestBatch]]) is O(batch), never O(graph): each new
 * vector runs one beam search over the standing graph
 * ([[Nsw.graphSearchBatch]] — all searches share each round's
 * pruned point lookups), links forward to its top-`k` candidates and
 * backward from them, and only the TOUCHED nodes' adjacency lists are
 * rewritten into the new generation (degree re-pruned to `k` by
 * (cos_micro desc, nbr asc) — the NSW neighbor-selection bound that
 * keeps search cost flat as the graph grows). Untouched nodes' rows
 * are never rewritten. Batch-internal candidates are exact
 * (batch×batch cosine) and FENCED: a drain above `maxBatchLink` fails
 * loudly asking to be split, because batch² past that is the honest
 * quadratic this family refuses to pay silently.
 *
 * Crash/concurrency contract (the maintainer family's): every writer
 * runs under the store's exclusive claim; a generation commit is
 * [[Commits.commitGen]] (orphans invisible, numbers never reused); a
 * replayed batch anti-joins the ledger (already-indexed ids skip) and
 * heals to the same state. Dead generations are pruned by [[compact]],
 * never by drains.
 */
object GraphIndex {

  /** Index identity + search geometry, fixed at build time.
    * `alphaNum/alphaDen` > 0 selects the DIVERSIFIED (α-RNG /
    * DiskANN RobustPrune) adjacency policy — every prune (build,
    * insert-merge) goes through [[graft.ops.GraphNav.alphaPrunedGraph]]
    * with a `candidateK`-wide pool instead of plain top-k; 0 = the
    * classic top-k store (and the value absent metas read as, so
    * pre-α stores keep their committed behavior). */
  final case class Meta(
      idCol: String, embCol: String, dims: Int, k: Int,
      planesPerBand: Int, bands: Int, maxBucketSize: Int,
      nEntries: Int, beamWidth: Int, maxSteps: Int,
      candidateK: Int, alphaNum: Int, alphaDen: Int)

  private def adjPath(dir: String) = s"$dir/adj"

  private val adjSchema = StructType(
    Seq("id", "nbr", "cos_micro").map(StructField(_, LongType)) :+
      StructField("gen", IntegerType))

  /** Adjacency partitioned by gen and id-sorted, keyed by node id. The
    * explicit schema reads an EDGE-FREE graph (single-vector
    * bootstrap, a delete-all followed by compact: the dynamic-partition
    * writer leaves no parquet file) as an empty frame. */
  private def store(dir: String) = Commits.GenStore(adjPath(dir), s"$dir/ledger",
    "id", _.read.schema(adjSchema).parquet(adjPath(dir)),
    _.sortWithinPartitions("id").write.partitionBy("gen"))

  /** Per-id top-`k` adjacency from symmetric candidate edges — the
    * shared pruning rule of build and drain: dedup (id, nbr) to max
    * cos_micro, then keep k by (cos_micro desc, nbr asc) via the
    * bounded array_sort aggregation (never a corpus window). */
  private def pruneDegree(edges: DataFrame, k: Int): DataFrame =
    edges
      .groupBy(col("id"), col("nbr"))
      .agg(max(col("cos_micro")).as("cos_micro"))
      .select(col("id"),
        struct((-col("cos_micro")).as("nc"), col("nbr").as("nbr")).as("e"))
      .groupBy("id")
      .agg(slice(array_sort(collect_list(col("e"))), 1, k).as("top"))
      .select(col("id"), explode(col("top")).as("e"))
      .select(col("id"), col("e.nbr").as("nbr"), (-col("e.nc")).as("cos_micro"))

  /**
   * Build the index from scratch: [[Nsw.knnGraph]] over the
   * corpus → adjacency generation 0 → ledger v0 → meta LAST.
   * Overwrites any previous index at `dir`.
   */
  def build(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dir: String,
      dims: Int,
      k: Int = 8,
      planesPerBand: Int = 6,
      bands: Int = 4,
      maxBucketSize: Int = 400,
      nEntries: Int = 4,
      beamWidth: Int = 16,
      maxSteps: Int = 10,
      candidateK: Int = 0,
      alphaNum: Int = 0,
      alphaDen: Int = 10): Unit = {
    require(Seq(idCol, embCol).forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      "id/emb columns must be plain identifiers (stored in index meta)")
    val spark = corpus.sparkSession
    val fs = Commits.fsOf(spark, new Path(dir))
    // targeted reset: only the index's own parts — a maintainer's held
    // drain claim (and its durable folded-files record) must survive a
    // bootstrap build running UNDER that claim
    fs.delete(Commits.metaPath(dir), false)
    fs.delete(new Path(adjPath(dir)), true)
    fs.delete(new Path(store(dir).ledger), true)
    val poolK = if (alphaNum > 0) math.max(candidateK, k) else k
    val g0 = Nsw.knnGraph(corpus, idCol, embCol,
      planesPerBand, bands, dims, poolK, minCosine = -1.0, maxBucketSize)
    val g = (if (alphaNum <= 0) g0
      else graft.ops.GraphNav.alphaPrunedGraph(
        g0, corpus, idCol, embCol, r = k, alphaNum, alphaDen))
      .select(col("id").cast("long").as("id"), col("nbr").cast("long").as("nbr"),
        col("cos_micro").cast("long").as("cos_micro"))
    // ledger = EVERY corpus id (isolated vectors hold an empty list):
    // the indexed-set record the maintainer's replay anti-join needs,
    // and the hook back-links attach to when neighbors arrive later
    val ids = corpus.select(col(idCol).cast("long").as("id")).distinct()
    Commits.commitGen(spark, store(dir), None, g, ids, ids)
    Commits.writeMeta(spark, dir, "id_col" -> idCol, "emb_col" -> embCol,
      "dims" -> dims, "k" -> k, "planes_per_band" -> planesPerBand,
      "bands" -> bands, "max_bucket_size" -> maxBucketSize,
      "n_entries" -> nEntries, "beam_width" -> beamWidth,
      "max_steps" -> maxSteps, "candidate_k" -> math.max(candidateK, k),
      "alpha_num" -> alphaNum, "alpha_den" -> alphaDen)
  }

  /** Read the index identity. Fails if `dir` holds no committed index. */
  def meta(spark: SparkSession, dir: String): Meta = {
    val j = Commits.readMeta(spark, dir, "graph")
    // absent in pre-α metas → the classic top-k policy, unchanged
    Meta(j.str("id_col"), j.str("emb_col"), j.num("dims"), j.num("k"),
      j.num("planes_per_band"), j.num("bands"), j.num("max_bucket_size"),
      j.num("n_entries"), j.num("beam_width"), j.num("max_steps"),
      j.numOr("candidate_k", j.num("k")), j.numOr("alpha_num", 0),
      j.numOr("alpha_den", 10))
  }

  /** The live adjacency (id, nbr, cos_micro): generation rows
    * restricted to each node's ledger generation (broadcast semi-join
    * — the ledger is ids-only, the MoR resolve of
    * [[graft.streaming.SearchIngest.readIndex]]). */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val s = store(dir)
    Commits.liveRows(spark, s, Commits.committedLedger(spark, s)._2)
      .select(col("id"), col("nbr"), col("cos_micro"))
  }

  /** Ids currently in the graph (the ledger — adjacency-holding nodes). */
  def storedIds(spark: SparkSession, dir: String): DataFrame =
    Commits.committedLedger(spark, store(dir))._2.select(col("id"))

  /** Beam search over the stored graph with the geometry committed at
    * build time — [[Nsw.graphSearchBatch]] against the MoR
    * adjacency; per-round point lookups prune on the id-sorted files.
    * `corpus` supplies the vectors (the graph stores topology only). */
  def searchBatch(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      queries: DataFrame,
      qidCol: String,
      k: Int,
      entries: Seq[Long] = Nil): DataFrame = {
    val m = meta(spark, dir)
    Nsw.graphSearchBatch(corpus, m.idCol, m.embCol,
      queries, qidCol, edges(spark, dir), k,
      m.nEntries, m.beamWidth, m.maxSteps, entries)
  }

  /** Attribute-FILTERED batch search over the stored graph — the
    * production "top-k WHERE <predicate>" against a PUBLISHED index:
    * [[graft.ops.GraphNav.filteredSearchBatch]]'s per-query
    * over-retrieve escalation (Filtered-DiskANN's baseline, Gollapudi
    * et al. WWW 2023) wired to the MoR adjacency, walking with the
    * geometry committed at build time. Each rung's merged point
    * lookups prune on the id-sorted generation files exactly as
    * [[searchBatch]]'s do; `predicate` sees (query_id, idCol,
    * cosine_sim). Output: (qidCol, rank, idCol, cosine_sim,
    * thin_result), rank 1..≤k per query. */
  def filteredSearchBatch(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      queries: DataFrame,
      qidCol: String,
      predicate: org.apache.spark.sql.Column,
      k: Int,
      entries: Seq[Long] = Nil,
      overFetch: Int = 4,
      escalations: Int = 1,
      growth: Int = 4): DataFrame = {
    val m = meta(spark, dir)
    graft.ops.GraphNav.filteredSearchBatch(corpus, m.idCol, m.embCol,
      queries, qidCol, edges(spark, dir), predicate, k,
      m.nEntries, m.beamWidth, m.maxSteps, entries,
      overFetch, escalations, growth)
  }

  /** Single-query [[searchBatch]]: (idCol, cosine_sim), top-k.
    * `entries` overrides the corner seeds (the stride policy the r17
    * recall audit recommends — replayable spread seeds). */
  def search(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      queryDf: DataFrame,
      k: Int,
      entries: Seq[Long] = Nil): DataFrame = {
    val m = meta(spark, dir)
    searchBatch(spark, dir, corpus,
        queryDf.select(lit(0L).as("__qid"), col(m.embCol)), "__qid", k,
        entries)
      .select(col(m.idCol), col("cosine_sim"))
  }

  /**
   * Search-then-link drain: insert `newVecs` into the standing graph.
   * `corpus` must hold the standing vectors AND the batch (the vector
   * store this index navigates). Already-indexed ids are skipped (the
   * ledger anti-join — a replayed batch heals to the committed state).
   * Returns the number of vectors actually inserted.
   */
  def ingestBatch(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      newVecs: DataFrame,
      maxBatchLink: Int = 4096): Long = Commits.withClaim(spark, dir) {
    val m = meta(spark, dir)
    val read = Commits.committedLedger(spark, store(dir))
    // one vector per id per drain is the landing-zone contract; an
    // at-least-once producer can still violate it, and a duplicate id
    // would otherwise throw inside the batch search and WEDGE a
    // replaying maintainer (the fresh files never fold) — resolve to
    // the max embedding (array ordering), deterministically
    val batch = newVecs
      .select(col(m.idCol).cast("long").as("id"), col(m.embCol).as("__e"))
      .filter(col("id").isNotNull)
      .groupBy("id").agg(max(col("__e")).as("__e"))
      .join(broadcast(read._2.select(col("id"))), Seq("id"), "left_anti")
      .localCheckpoint() // feeds searches, internal pairs, and the link
    val nDelta = batch.count()
    if (nDelta == 0) 0L
    else {
      require(nDelta <= maxBatchLink,
        s"graph drain of $nDelta vectors exceeds maxBatchLink=$maxBatchLink " +
          "— batch-internal linking is exact (batch²); split the drain")
      require(batch.filter(size(col("__e")) =!= m.dims).limit(1).count() == 0,
        s"batch contains vectors whose width != index dims (${m.dims})")
      // standing = corpus minus the batch (broadcast anti-join on the
      // BATCH ids — batch-sized, never ledger-sized)
      val standing = corpus.join(
        broadcast(batch.select(col("id").as(m.idCol))), Seq(m.idCol), "left_anti")
      val standingEdges = edges(spark, dir).localCheckpoint()
      // per-store prune policy: plain top-k, or the α-RNG RobustPrune
      // (the DiskANN insert rule). The candidate list is PRE-CUT to
      // the meta's candidateK pool through the bounded top-k kernel
      // BEFORE the occlusion greedy: alphaPrunedGraph's pairwise pass
      // is O(candidates²) per node, and a near-maxBatchLink drain
      // feeds each new id ~batch internal candidates (a hot standing
      // node collects ~batch back-links) — uncapped, that is a
      // batch²-per-node join; capped, it is the documented n·O(k²)
      // contract with the same greedy semantics on the sorted prefix.
      def prune(edges: DataFrame): DataFrame =
        if (m.alphaNum <= 0) pruneDegree(edges, m.k)
        else graft.ops.GraphNav.alphaPrunedGraph(
            pruneDegree(edges, m.candidateK),
            corpus, m.idCol, m.embCol, r = m.k, m.alphaNum, m.alphaDen)
          .select(col("id"), col("nbr"), col("cos_micro"))
      // one shared-rounds search per new vector over the standing
      // graph; an α store walks a candidateK-wide pool so RobustPrune
      // has diverse candidates to keep (the DiskANN visited-set role;
      // the meta normalizes candidate_k >= k at build time)
      val poolK = if (m.alphaNum > 0) m.candidateK else m.k
      val walks = Nsw.graphSearchBatch(
        standing, m.idCol, m.embCol,
        batch.select(col("id").as("__bq"), col("__e").as(m.embCol)), "__bq",
        standingEdges, poolK, m.nEntries, m.beamWidth, m.maxSteps)
      // exact batch-internal candidates (fenced above)
      val b2 = batch.select(col("id").as("__ib"), col("__e").as("__e2"))
      val internal = broadcast(batch).join(b2, col("id") =!= col("__ib"))
        .withColumn("__sim",
          Similarity.cosineFast(spark, col("__e"), col("__e2")))
        .filter(col("__sim").isNotNull)
        .select(col("id").as("query_id"), col("__ib").as("nbr"),
          col("__sim").as("cosine_sim"))
      // forward links: per new id, top-k of (walk ∪ internal) by
      // (cos_micro desc, nbr asc) — the stored graph's micro-integer
      // rank order, applied through the same pruning kernel
      val fwd = prune(
        walks.select(col("__bq").as("id"),
            col(m.idCol).cast("long").as("nbr"),
            round(col("cosine_sim") * 1e6, 0).cast("long").as("cos_micro"))
          .unionByName(internal.select(col("query_id").as("id"),
            col("nbr").cast("long").as("nbr"),
            round(col("cosine_sim") * 1e6, 0).cast("long").as("cos_micro"))))
      val sym = fwd.unionByName(fwd.select(col("nbr").as("id"),
        col("id").as("nbr"), col("cos_micro")))
      // touched = linked nodes ∪ the WHOLE batch: a batch vector that
      // found no links still enters the ledger (indexed, empty list)
      val touched = sym.select(col("id"))
        .unionByName(batch.select(col("id")))
        .distinct().localCheckpoint()
      val merged = prune(
        standingEdges.join(broadcast(touched), Seq("id"), "left_semi")
          .unionByName(sym))
        .localCheckpoint() // sized ∝ touched·k; feeds adj AND ledger
      Commits.commitGen(spark, store(dir), Some(read), merged, touched, touched)
      nDelta
    }
  }

  /**
   * Remove vectors from the graph — the takedown /
   * right-to-be-forgotten pass of the index family
   * ([[SignatureIndex.delete]], [[VectorIndex.delete]], graph form):
   * deleted ids leave the ledger (their adjacency lists become
   * unreachable — physically reclaimed by [[compact]]), and every
   * surviving node that POINTED at a deleted id rewrites its list
   * minus those edges into a fresh generation. Cost ∝ the deleted
   * ids' in/out neighborhoods — untouched nodes' rows never rewrite.
   *
   * Equivalent to dropping every edge incident to a deleted id
   * (spec-pinned). Survivor navigability can degrade vs a full
   * rebuild — the honest NSW deletion trade; the public practice is
   * periodic re-link (a [[ingestBatch]] of the affected region) or
   * rebuild on schedule. Callers must also forget the vectors in the
   * corpus store they search with. Returns ids actually removed.
   */
  def delete(spark: SparkSession, dir: String, deletedIds: DataFrame): Long =
    Commits.withClaim(spark, dir) {
      val read = Commits.committedLedger(spark, store(dir))
      val del = deletedIds
        .select(col(deletedIds.columns.head).cast("long").as("id"))
        .distinct()
        .join(read._2.select("id"), Seq("id"), "left_semi") // unknown ids no-op
        .localCheckpoint()
      val nDel = del.count()
      if (nDel == 0) 0L
      else {
        val live = edges(spark, dir).localCheckpoint()
        // survivors whose lists reference a deleted id rewrite, minus
        // those edges; a list can legitimately empty out (the node
        // stays in the ledger with no out-edges)
        val owners = live
          .join(broadcast(del.select(col("id").as("nbr"))), Seq("nbr"), "left_semi")
          .select(col("id")).distinct()
          .join(broadcast(del), Seq("id"), "left_anti")
          .localCheckpoint()
        val rewritten = live
          .join(broadcast(owners), Seq("id"), "left_semi")
          .join(broadcast(del.select(col("id").as("nbr"))), Seq("nbr"), "left_anti")
          .select(col("id"), col("nbr"), col("cos_micro"))
        Commits.commitGen(spark, store(dir), Some(read), rewritten, owners,
          del.unionByName(owners))
        nDel
      }
    }

  /**
   * Merge-on-read compaction: rewrite every LIVE adjacency list into
   * one fresh generation and prune the dead ones
   * ([[Commits.compactGens]]). Cost ∝ live edges, paid on schedule
   * instead of per drain. Returns directories pruned.
   */
  def compact(spark: SparkSession, dir: String): Int =
    Commits.withClaim(spark, dir)(Commits.compactGens(spark, store(dir)))
}
