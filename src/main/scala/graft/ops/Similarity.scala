package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor / similarity search over an embedding
 * column (`array<float>`) — north-star extension.
 *
 * Scale design (100 TB):
 *  - [[bruteForceTopK]] is the exactness baseline: a broadcast of the
 *    (tiny) query vector against a full scan — one narrow pass, a
 *    partial top-k per partition, and a final k-row reduce
 *    (`orderBy.limit(k)` is planned by Spark as TakeOrderedAndProject —
 *    NO global sort/shuffle of the corpus).
 *  - [[signBuckets]]/[[lshTopK]] is the scale path: random-hyperplane
 *    LSH where the "hyperplanes" are deterministic ±1 vectors derived
 *    from md5(plane, dim) — seedless, engine-portable, and broadcastable
 *    as pure expressions. Probing cost drops from O(corpus) to
 *    O(bucket), with the usual recall/bucket-size trade governed by the
 *    number of planes.
 *  - cosine scoring runs through the custom Catalyst expression
 *    [[graft.functions.CosineSimilarity]] (primitive fused loop with
 *    doGenCode, inside whole-stage codegen) — Spark's own higher-order
 *    functions are CodegenFallback, so the composable
 *    `zip_with`+`aggregate` formulation ([[dot]]/[[cosine]], kept as
 *    the reference implementation and parity check) pays interpreted
 *    lambda dispatch per row. Candidate scoring, the centroid rankings
 *    of the IVF and IVF-PQ probes (float query against `array<double>`
 *    centroids) and every nearest-centroid assignment
 *    ([[Clustering.nearestCentroid]]'s fused argmax) run on kernels;
 *    HOF arithmetic remains where a row needs per-element products
 *    other than one cosine: the sign-LSH and [[projectedTopK]]
 *    projections, the IVF-PQ residuals, [[vectorAudit]] and the
 *    scalar-quantizer dot products.
 *
 * All similarity outputs are rounded to 6 decimals: the only
 * cross-engine nondeterminism is float-sum association order, which is
 * ~1e-13 relative — rounding removes it (SURVEY §7.4 risk 5).
 */
object Similarity {

  /** Elementwise dot product of two float-array columns (as double). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, 6-decimal-rounded for determinism. Composable
    * HOF formulation — correct everywhere, but Spark's higher-order
    * functions are CodegenFallback (interpreted per row). The operator
    * paths below use [[cosineFast]] instead. `try_divide` makes a
    * zero-norm (degenerate) vector yield NULL under ANSI mode rather
    * than throwing — matching [[cosineFast]], and keeping a handful of
    * empty embeddings from killing a corpus-wide job. */
  def cosine(a: Column, b: Column): Column =
    round(try_divide(dot(a, b), norm(a) * norm(b)), 6)

  /** Codegen'd cosine: the custom Catalyst expression
    * [[graft.functions.CosineSimilarity]] (fused primitive loop inside
    * whole-stage codegen, no intermediate arrays), rounded to 6 decimals.
    * Accumulation order matches [[cosine]] exactly, so results are
    * bit-identical — swapping kernels cannot move an oracle hash. */
  def cosineFast(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column =
    round(graft.functions.GraftFunctions.cosine(spark, a, b), 6)

  /** The single-query entry points take EXACTLY one query row: their
    * global `orderBy…limit` would silently interleave several queries'
    * candidates into one meaningless ranking (wrong answer, no error).
    * Enforced cheaply (`limit(2)` short-circuits the scan); query SETS
    * go through the `…Batch` variants, which carry a query id. */
  private[ops] def requireSingleQuery(queryDf: DataFrame, op: String): Unit = {
    val n = queryDf.limit(2).count()
    require(n == 1,
      s"$op expects exactly one query row, got ${if (n == 0) "none" else "2+"} — " +
        "use the Batch variant for query sets")
  }

  /**
   * Distributed per-query top-k over a scored (query_id, id, score)
   * frame — the shared tail of every batch retrieval path. A plain
   * `Window.partitionBy(query_id)` puts each query's ENTIRE candidate
   * set in one task (corpus-sized for brute force — the unsplittable
   * partition that kills a 1000-executor run), so rank in two stages:
   *
   *  1. within (query, salt) where salt = hash(id) mod `salts`: each
   *     query's ranking spreads over `salts` bounded partitions. Any
   *     global top-k row is necessarily in its salt group's top-k
   *     under the same total order, so survivors (≤ salts·k per
   *     query) lose nothing;
   *  2. final rank over survivors only.
   *
   * The salt cannot move the result — stage 2 re-ranks under the
   * global total order (score desc, id asc) — so oracles replay this
   * as ONE plain window. Output: input columns + `rank` (1-based,
   * long), filtered to rank ≤ k.
   */
  def perQueryTopK(
      scored: DataFrame,
      qidCol: String,
      idCol: String,
      scoreCol: String,
      k: Int,
      salts: Int = 64): DataFrame = {
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    val w1 = Window
      .partitionBy(col(qidCol), pmod(hash(col(idCol)), lit(salts)))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col(qidCol)).orderBy(order: _*)
    scored
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= k)
      .drop("__rn")
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
  }

  /**
   * Exact top-k by cosine against the single row of `queryDf`
   * (columns: `embedding`). Ties broken by id ascending — total order,
   * oracle-reproducible. The query side is broadcast; the corpus is
   * never shuffled.
   */
  def bruteForceTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    requireSingleQuery(queryDf, "bruteForceTopK")
    val scored = corpus
      .crossJoin(broadcast(queryDf.select(col(embCol).as("__q"))))
      .select(
        col(idCol),
        cosineFast(corpus.sparkSession, col(embCol), col("__q")).as("cosine_sim"))
    scored
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Exact top-k per query for a query SET — retrieval for seed-set
   * dedup, eval batches, RAG batches: ONE job for N queries instead of
   * N driver-synchronized single-query jobs. The (tiny) query table is
   * broadcast against one corpus scan; ranking is the salted two-stage
   * [[perQueryTopK]] (no corpus-sized partition per query). Output:
   * (query_id, rank, idCol, cosine_sim).
   */
  def bruteForceTopKBatch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      qidCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(qidCol).as("query_id"), col(embCol).as("__q")))
    val scored = corpus
      .crossJoin(q)
      .select(
        col("query_id"),
        col(idCol),
        cosineFast(corpus.sparkSession, col(embCol), col("__q")).as("cosine_sim"))
    perQueryTopK(scored, "query_id", idCol, "cosine_sim", k)
      .select(col("query_id"), col("rank"), col(idCol), col("cosine_sim"))
  }

  /**
   * Recall@k of an approximate retrieval run against exact ground
   * truth — the evaluation harness that closes the ANN tuning loop
   * (pick nlist/nprobe/planes by measured recall, not guesswork).
   *
   * Both inputs are per-query top-k frames (k·|queries| rows — index
   * output, never corpus-sized), so the join is trivially
   * broadcastable; per-query recall = |approx ∩ truth| / |truth∩topk|,
   * i.e. hits over the query's own (distinct, ≤ k) truth-set size — NOT
   * over the literal k, which would deflate recall when the ground
   * truth has fewer than k candidates (small corpus, filtered truth).
   * Both sides are DEDUPED on (query, id) first, so duplicate result
   * rows can neither inflate hits past 1.0 nor double-count truth.
   * Ids are compared, not ranks: an approximate index that returns the
   * right set in a different order has perfect recall.
   *
   * `k` is ENFORCED, not advisory: a query with more than k distinct
   * truth rows means the caller passed un-truncated ground truth — the
   * metric computed would be recall-vs-full-truth while the name
   * promises recall@k — so the plan fails loud at execution (a lazy
   * `raise_error` riding the denominator, zero cost on valid input)
   * instead of silently reporting the wrong metric.
   */
  def recallAtK(
      truth: DataFrame,
      approx: DataFrame,
      qidCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"recallAtK needs k > 0, got $k")
    val t = truth
      .select(col(qidCol).as("query_id"), col(idCol).as("__id")).distinct()
    val a = approx
      .select(col(qidCol).as("query_id"), col(idCol).as("__id")).distinct()
      .withColumn("__hit", lit(1))
    // the guard rides the denominator so column pruning can never
    // drop it: valid rows pass truth_n through unchanged
    val guardedTruthN = when(col("truth_n") > k,
        raise_error(concat(
          lit("recallAtK: query "), col("query_id").cast("string"),
          lit(" has "), col("truth_n").cast("string"),
          lit(s" distinct truth rows > k=$k — pass per-query top-k ground truth"))))
      .otherwise(col("truth_n"))
    t.join(a, Seq("query_id", "__id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("hits"), count(lit(1)).as("truth_n"))
      .withColumn("recall_at_k",
        round(col("hits").cast("double") / guardedTruthN.cast("double"), 6))
      .drop("truth_n")
  }

  /** Deterministic pseudo-random ±1 hyperplane component for
    * (plane, dim): parity of the first md5 hex nibble. */
  private def planeSign(plane: Int, dim: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane:$dim".getBytes("UTF-8"))
    if ((hex(0) & 1) == 0) 1 else -1
  }

  /** Precomputed ±1 hyperplanes (driver-side, tiny: planes × dims ints),
    * embedded into the plan as literals — the distributed-friendly
    * version of broadcasting a random projection matrix. */
  def planes(numPlanes: Int, dims: Int): Seq[Seq[Int]] =
    (0 until numPlanes).map(p => (0 until dims).map(d => planeSign(p, d)))

  /** Sign-random-projection bucket id: one bit per hyperplane (sign of
    * the ±1-projection), packed into a bit-string column. The projection
    * is rounded to 6 decimals BEFORE the sign test (mirrored in the
    * oracle twin): float-sum association order differs between engines
    * by ~1e-13, which could otherwise flip the bit of a projection that
    * lands within an ulp of zero and turn into a discrete bucket
    * mismatch. */
  def signBucket(emb: Column, hyperplanes: Seq[Seq[Int]]): Column = {
    val bits = hyperplanes.map { hp =>
      val proj = aggregate(
        zip_with(emb, lit(hp.toArray), (x, s) => x.cast("double") * s.cast("double")),
        lit(0.0),
        (acc, x) => acc + x)
      when(round(proj, 6) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Corpus → (id, bucket) assignment; the ANN index build. Narrow. */
  def signBuckets(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      numPlanes: Int,
      dims: Int): DataFrame =
    corpus.select(col(idCol), signBucket(col(embCol), planes(numPlanes, dims)).as("bucket"))

  /**
   * ANN top-k: score only the query's own LSH bucket (plus the query
   * broadcast). Recall < 1 by design; the oracle twin replays the same
   * bucket-restricted search so correctness is still hash-checkable.
   */
  def lshTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      numPlanes: Int,
      dims: Int): DataFrame = {
    requireSingleQuery(queryDf, "lshTopK")
    val hp = planes(numPlanes, dims)
    val bucketed = corpus.withColumn("__bucket", signBucket(col(embCol), hp))
    val q = broadcast(
      queryDf.select(
        col(embCol).as("__q"),
        signBucket(col(embCol), hp).as("__qbucket")))
    bucketed
      .join(q, col("__bucket") === col("__qbucket"))
      .select(col(idCol), cosineFast(corpus.sparkSession, col(embCol), col("__q")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Banded all-pairs neighbor search — the 100 TB shape. A single
   * sign-bucket join (see [[bucketedNeighbors]]) has two scale failures:
   * with few planes the within-bucket pair count is O(n²/2^planes), and
   * with many planes recall collapses. Banding fixes both: `bands`
   * independent bucket assignments of `planesPerBand` planes each
   * (plane indices `b·planesPerBand until (b+1)·planesPerBand`), a pair
   * is a candidate if it collides in ANY band (OR-amplification), and a
   * deterministic per-bucket cap (`maxBucketSize`, ordered by id) bounds
   * the worst-case bucket join even under adversarial skew. Scale the
   * bucket count with the corpus: `planesPerBand ≳ log2(n / targetBucket)`.
   *
   * Measured at sf0.1 (2 000 vectors, 8 planes/band × 2 bands): 256
   * buckets per band, mean bucket ≈ 7.8, p99 = 19, max = 23 — the pair
   * join touches well under 1 % of the n² pair space.
   */
  def bandedNeighbors(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      planesPerBand: Int,
      bands: Int,
      dims: Int,
      minCosine: Double,
      maxBucketSize: Int = 1000): DataFrame = {
    val all = planes(planesPerBand * bands, dims)
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        signBucket(col(embCol), all.slice(b * planesPerBand, (b + 1) * planesPerBand))
          .as("bucket"))
    }
    // materialize the CAPPED (id, emb, band, bucket) index before the
    // self-join: both join sides read it, and the checkpoint sits
    // ABOVE the skew-cap window (r21 — checkpointing below it, as r15
    // did, left the exchange + window subtree duplicated per side:
    // the q84 plan showed two full Exchange→WindowGroupLimit→Window
    // chains over one checkpoint). One materialization still guards
    // the expression-heavy bucket projection (the original note).
    val w = Window.partitionBy("band", "bucket").orderBy("id")
    val capped = corpus
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("emb"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucketSize)
      .drop("__rn")
      .localCheckpoint()
    val a = capped.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("emb").as("emb_a"))
    val c = capped.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("emb").as("emb_b"))
    a.join(c, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFast(corpus.sparkSession, col("emb_a"), col("emb_b")).as("cosine_sim"))
      .distinct() // a pair may collide in several bands
      .filter(col("cosine_sim") >= minCosine)
  }

  /**
   * IVF (inverted-file) coarse quantizer: assign every vector to its
   * nearest of `nlist` centroid vectors (cosine, ties → lowest centroid
   * id). The index build is one narrow pass over the corpus against a
   * BROADCAST centroid table — no corpus shuffle except the per-vector
   * rank (keyed on the vector id). Output: (idCol, list_id).
   *
   * `centroids` here are deterministic seeds (callers typically pass the
   * first `nlist` corpus vectors) so the whole path is oracle-checkable;
   * a production build would train them with k-means|| and keep THIS
   * assignment/probe path unchanged — the quantizer quality changes, the
   * plan shape does not.
   */
  def ivfAssign(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      embCol: String,
      centIdCol: String,
      centEmbCol: String): DataFrame = {
    val scored = corpus.select(col(idCol), col(embCol))
      .crossJoin(broadcast(centroids.select(
        col(centIdCol).as("__cid"), col(centEmbCol).as("__cemb"))))
      .select(col(idCol),
        col("__cid"),
        cosineFast(corpus.sparkSession, col(embCol), col("__cemb")).as("__csim"))
    val w = Window.partitionBy(idCol).orderBy(col("__csim").desc, col("__cid").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__cid").as("list_id"))
  }

  /**
   * IVF ANN top-k: rank the query's `nprobe` nearest inverted lists,
   * then score ONLY vectors assigned to those lists — probe cost drops
   * from O(corpus) to O(corpus·nprobe/nlist). Recall < 1 by design (the
   * standard IVF trade); the oracle twin replays the same probe.
   */
  def ivfTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int): DataFrame = {
    requireSingleQuery(queryDf, "ivfTopK")
    val centroids = corpus.filter(col(idCol) < nlist)
      .select(col(idCol).as("cid"), col(embCol).as("cemb"))
    val assigned = ivfAssign(corpus, centroids, idCol, embCol, "cid", "cemb")
    val q = queryDf.select(col(embCol).as("__q"))
    val probeLists = broadcast(
      q.crossJoin(broadcast(centroids))
        .select(col("cid"), col("__q"), cosineFast(corpus.sparkSession, col("cemb"), col("__q")).as("__csim"))
        .orderBy(col("__csim").desc, col("cid").asc)
        .limit(nprobe)
        .select(col("cid").as("list_id"), col("__q")))
    corpus.join(assigned, idCol)
      .join(probeLists, "list_id")
      .select(col(idCol), cosineFast(corpus.sparkSession, col(embCol), col("__q")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * IVF with a TRAINED coarse quantizer: centroids come from Lloyd's
   * k-means ([[Clustering.train]]) instead of the first `nlist` corpus
   * vectors, then the probe path is IDENTICAL in shape to [[ivfTopK]]
   * — rank the query's `nprobe` nearest lists, score only vectors
   * assigned there. Training cost is `iters` corpus passes paid ONCE
   * at index build; the quantizer quality changes (balanced lists →
   * better recall at the same nprobe), the probe plan does not.
   *
   * List assignment ([[Clustering.assign]]'s fused argmax) and list
   * ranking ([[cosineFast]]) use the rounded cosine (6 decimals, ties →
   * lowest centroid id), bit-identical to the HOF arithmetic, so the
   * whole path — training included — stays oracle-replayable; the
   * final candidate scoring uses the same [[cosineFast]] kernel as
   * every other ANN path.
   */
  def ivfTopKTrained(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      iters: Int): DataFrame = {
    requireSingleQuery(queryDf, "ivfTopKTrained")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Clustering.train(corpus, idCol, embCol, nlist, iters)
    // list_id from the assignment's own projection: a join back on the
    // id would multiply a duplicated id into every list its rows land in
    val assigned = Clustering.assign(corpus, idCol, embCol, cents)
      .select(col(idCol), col(embCol), col("cluster").as("list_id"))
    val centDf = cents.toDF("cid", "cemb") // nlist rows — broadcast literal
    val q = queryDf.select(col(embCol).as("__q"))
    val probeLists = broadcast(
      q.crossJoin(broadcast(centDf))
        .select(col("cid"), col("__q"), cosineFast(spark, col("cemb"), col("__q")).as("__csim"))
        .orderBy(col("__csim").desc, col("cid").asc)
        .limit(nprobe)
        .select(col("cid").as("list_id"), col("__q")))
    assigned
      .join(probeLists, "list_id")
      .select(col(idCol), cosineFast(spark, col(embCol), col("__q")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * [[ivfTopKTrained]] for a query SET: ONE training run, ONE corpus
   * assignment, then every query ranks its own `nprobe` lists inside
   * the same broadcast (a per-query window over the queries×nlist
   * centroid frame — tiny) and all candidate scoring rides one join.
   * A vector assigned to a list probed by several queries is scored
   * once per probing query — exactly the per-query candidate sets of
   * N single-query runs, in one job. Final ranking is the salted
   * two-stage [[perQueryTopK]]. Output: (query_id, rank, idCol,
   * cosine_sim).
   */
  def ivfTopKTrainedBatch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      qidCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Clustering.train(corpus, idCol, embCol, nlist, iters)
    // list_id from the assignment's own projection, as in ivfTopKTrained
    val assigned = Clustering.assign(corpus, idCol, embCol, cents)
      .select(col(idCol), col(embCol), col("cluster").as("list_id"))
    val centDf = cents.toDF("cid", "cemb") // nlist rows — broadcast literal
    val q = queries.select(col(qidCol).as("query_id"), col(embCol).as("__q"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("__csim").desc, col("cid").asc)
    val probeLists = broadcast(
      q.crossJoin(broadcast(centDf))
        .select(col("query_id"), col("cid"), col("__q"),
          cosineFast(spark, col("cemb"), col("__q")).as("__csim"))
        .withColumn("__rn", row_number().over(wq))
        .filter(col("__rn") <= nprobe)
        .select(col("query_id"), col("cid").as("list_id"), col("__q")))
    val scored = assigned
      .join(probeLists, "list_id")
      .select(col("query_id"), col(idCol),
        cosineFast(spark, col(embCol), col("__q")).as("cosine_sim"))
    perQueryTopK(scored, "query_id", idCol, "cosine_sim", k)
      .select(col("query_id"), col("rank"), col(idCol), col("cosine_sim"))
  }

  /** Train the per-block PQ codebooks — one FUSED Lloyd's run for all
    * blocks (r21): the naive form runs [[Clustering.train]] once per
    * slice, paying `blocks` seed-collect jobs plus `blocks × (iters−1)`
    * means jobs on a corpus scanned `blocks` times per iteration. All
    * blocks share the same seed rule (the k lowest-id vectors — slicing
    * never touches the id), every block's assignment is an independent
    * projection expression, and the per-(block, cluster, dim) means are
    * ONE decomposable aggregation keyed on (block, cluster, dim-in-
    * block) — so training melts into 1 seed job + (iters−1) mean jobs
    * total, scanning the corpus once per iteration (guide §2.4: remove
    * work — identical argmins, identical rounded means, spec-pinned
    * against the per-slice form in SimilaritySpec). */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dims: Int,
      blocks: Int,
      k: Int,
      iters: Int): Seq[Seq[(Long, Seq[Double])]] = {
    require(blocks >= 1 && dims % blocks == 0, "blocks must divide dims")
    require(k >= 2 && iters >= 1)
    val spark = corpus.sparkSession
    val d = dims / blocks
    // ONE seeds job for every block (Clustering.train's seed rule on
    // each sliced frame picks the same k lowest ids; the slice happens
    // driver-side on the collected rows)
    val seeds = corpus.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).cast("long"), col(embCol)).collect()
    var books: Seq[Seq[(Long, Seq[Double])]] = (0 until blocks).map { b =>
      seeds.map { r =>
        r.getLong(0) ->
          r.getSeq[Float](1).slice(b * d, b * d + d).map(_.toDouble).toSeq
      }.toSeq
    }
    var iter = 1
    while (iter < iters) {
      // all blocks' argmins in ONE projection, means in ONE aggregation:
      // posexplode the full embedding, derive (block, dim-in-block) from
      // the position, look the row's cluster up in the per-block
      // assignment array — blocks × k × d rows back to the driver
      val assignCols = books.zipWithIndex.map { case (cs, b) =>
        Clustering.nearestCentroid(spark, slice(col(embCol), b * d + 1, d), cs)
      }
      val means = corpus
        .select(array(assignCols: _*).as("__cl"), col(embCol))
        .select(col("__cl"), posexplode(col(embCol)).as(Seq("__d", "__v")))
        .select(expr(s"__d DIV $d").cast("int").as("__b"),
          element_at(col("__cl"), expr(s"__d DIV $d").cast("int") + 1)
            .as("cluster"),
          expr(s"__d % $d").cast("int").as("__bd"), col("__v"))
        .groupBy(col("__b"), col("cluster"), col("__bd"))
        .agg(round(avg(col("__v").cast("double")), 6).as("__m"))
        .collect()
      val byBlock = means.groupBy(_.getInt(0))
      books = books.zipWithIndex.map { case (cs, b) =>
        val byCluster = byBlock.getOrElse(b, Array.empty).toSeq
          .groupBy(_.getLong(1)).map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
          }
        // a cluster that loses all members keeps its previous centroid
        // (Clustering.train's degenerate-case rule)
        cs.map { case (cid, old) => cid -> byCluster.getOrElse(cid, old) }
      }
      iter += 1
    }
    books
  }

  /** Encode against trained codebooks: ONE narrow projection. */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dims: Int,
      codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    val spark = corpus.sparkSession
    val d = dims / codebooks.size
    val codeCols = codebooks.zipWithIndex.map { case (cents, b) =>
      Clustering.nearestCentroid(spark, slice(col(embCol), b * d + 1, d), cents).as(s"code_$b")
    }
    corpus.select(col(idCol) +: codeCols: _*)
  }

  /**
   * Product-quantization codes (the FAISS IVF-PQ compression block):
   * each embedding splits into `blocks` contiguous sub-vectors; each
   * block gets its OWN k-means codebook ([[Clustering.train]] on the
   * slice) and every vector's block is replaced by its nearest code id.
   * `dims/blocks · blocks` floats compress to `blocks` small ints —
   * the memory move that lets a 100 TB embedding corpus fit an ANN
   * index in RAM.
   *
   * Training is `blocks × iters` bounded passes paid once at index
   * build ([[pqCodebooks]]). ENCODING is the part that must scale, and
   * it is ONE narrow projection ([[pqEncode]]): all `blocks` argmaxes
   * (one fused [[Clustering.nearestCentroid]] kernel each, over
   * constant centroids) evaluate in the same whole-stage-codegen pass
   * — no joins, no shuffles, no per-block scans.
   *
   * Output: (idCol, code_0 … code_{blocks−1}); code ids are seed ids
   * within the block's codebook (deterministic, oracle-replayable).
   */
  def pqCodes(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dims: Int,
      blocks: Int,
      k: Int,
      iters: Int): DataFrame =
    pqEncode(corpus, idCol, embCol, dims,
      pqCodebooks(corpus, idCol, embCol, dims, blocks, k, iters))

  /**
   * PQ asymmetric-distance top-k (MIPS form): approximate inner
   * product `dot(q, x) ≈ Σ_b dot(q_b, codebook_b[code_b])`. The query
   * side is EXACT (never quantized — that is the "asymmetric"); the
   * corpus side is looked up from `blocks` tiny code→value maps
   * computed once per query on the driver (blocks × k doubles). Search
   * therefore touches ONLY the integer code table — the compressed
   * representation is the working set, which is the entire point of PQ
   * at 100 TB — in one narrow projection + `TakeOrderedAndProject`.
   *
   * Inner product, not cosine: dot decomposes additively across blocks
   * (cosine's norm does not). Output: (idCol, approx_dot) top `topK`
   * by (score desc, id asc).
   */
  def pqTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      topK: Int,
      dims: Int,
      blocks: Int,
      k: Int,
      iters: Int): DataFrame =
    pqTopKWith(corpus, queryDf, idCol, embCol, topK, dims,
      pqCodebooks(corpus, idCol, embCol, dims, blocks, k, iters))

  /** [[pqTopK]] against ALREADY-TRAINED codebooks — the steady-state
    * query path (training is an index-build cost, paid once). */
  def pqTopKWith(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      topK: Int,
      dims: Int,
      codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    val blocks = codebooks.size
    val d = dims / blocks
    val qRows = queryDf.select(col(embCol)).limit(2).collect()
    require(qRows.length == 1,
      s"pqTopKWith expects exactly one query row, got " +
        s"${if (qRows.isEmpty) "none" else "2+"} — use pqTopKWithBatch for query sets")
    val q = qRows.head.getSeq[Float](0)
    require(q.size == dims, s"query has ${q.size} dims, expected $dims")
    val codes = pqEncode(corpus, idCol, embCol, dims, codebooks)
    val score = codebooks.zipWithIndex.map { case (cents, b) =>
      val table = cents.map { case (cid, cent) =>
        cid -> (0 until d).map(i => q(b * d + i).toDouble * cent(i)).sum
      }.toMap
      element_at(typedlit(table), col(s"code_$b"))
    }.reduce(_ + _)
    codes
      .select(col(idCol), round(score, 6).as("approx_dot"))
      .orderBy(col("approx_dot").desc, col(idCol).asc)
      .limit(topK)
  }

  /**
   * [[pqTopKWith]] for a query SET: the per-block code→partial-dot
   * lookup becomes a NESTED map (query → code → partial, still
   * driver-computed constants: queries × blocks × k doubles — the
   * query table is small by contract, it rides the plan as a literal
   * just like the single-query tables), so scoring all N queries stays
   * one narrow projection over the integer code table. Final ranking
   * is the salted two-stage [[perQueryTopK]]. Output: (query_id, rank,
   * idCol, approx_dot). Query ids must be distinct and are read as
   * long.
   */
  def pqTopKWithBatch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      qidCol: String,
      topK: Int,
      dims: Int,
      codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    val blocks = codebooks.size
    val d = dims / blocks
    val qs = queries.select(col(qidCol).cast("long"), col(embCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    require(qs.nonEmpty, "pqTopKWithBatch: empty query set")
    require(qs.map(_._1).distinct.length == qs.length,
      "pqTopKWithBatch: duplicate query ids")
    qs.foreach { case (qid, q) =>
      require(q.size == dims, s"query $qid has ${q.size} dims, expected $dims") }
    val codes = pqEncode(corpus, idCol, embCol, dims, codebooks)
    val qids = broadcast(
      queries.select(col(qidCol).cast("long").as("query_id")))
    val score = codebooks.zipWithIndex.map { case (cents, b) =>
      val table: Map[Long, Map[Long, Double]] = qs.map { case (qid, q) =>
        qid -> cents.map { case (cid, cent) =>
          cid -> (0 until d).map(i => q(b * d + i).toDouble * cent(i)).sum
        }.toMap
      }.toMap
      element_at(element_at(typedlit(table), col("query_id")), col(s"code_$b"))
    }.reduce(_ + _)
    val scored = codes
      .crossJoin(qids)
      .select(col("query_id"), col(idCol), round(score, 6).as("approx_dot"))
    perQueryTopK(scored, "query_id", idCol, "approx_dot", topK)
      .select(col("query_id"), col("rank"), col(idCol), col("approx_dot"))
  }

  /**
   * IVF-PQ with residual encoding — the FAISS composite index: the
   * coarse quantizer ([[Clustering.train]], [[ivfTopKTrained]]'s
   * trainer) routes every vector to a list, the vector's RESIDUAL
   * against its list centroid is product-quantized ([[pqCodebooks]] on
   * residuals — residuals cluster far tighter than raw vectors, the
   * whole point of the composite), and search scores only the probed
   * lists' integer codes: `dot(q, x) ≈ dot(q, c_list) + Σ_b
   * dot(q_b, codebook_b[code_b])` — the first term a per-list constant
   * lookup, the second the standard ADC table.
   *
   * Scale shape: training is bounded passes paid at index build;
   * encode is one narrow projection (+ one broadcast map lookup for
   * the centroid); search touches only `nprobe/nlist` of the code
   * table, never a float vector — compressed working set AND pruned
   * scan in the same index, exactly the 100 TB serving layout. The
   * residual frame is `localCheckpoint`ed: it feeds `blocks × iters`
   * training passes plus the encode.
   *
   * Output: (idCol, approx_dot) — top `topK` by (score desc, id asc).
   */
  def ivfPqTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      topK: Int,
      dims: Int,
      nlist: Int,
      nprobe: Int,
      coarseIters: Int,
      blocks: Int,
      k: Int,
      pqIters: Int): DataFrame = {
    requireSingleQuery(queryDf, "ivfPqTopK")
    val spark = corpus.sparkSession
    import spark.implicits._
    require(blocks >= 1 && dims % blocks == 0, "blocks must divide dims")
    val d = dims / blocks
    val cents = Clustering.train(corpus, idCol, embCol, nlist, coarseIters)
    val centMap = typedlit(cents.toMap)
    val res = Clustering.assign(corpus, idCol, embCol, cents)
      .select(col(idCol), col("cluster").as("list_id"),
        zip_with(col(embCol), element_at(centMap, col("cluster")),
          (x, c) => (x.cast("double") - c).cast("float")).as("__res"))
      .localCheckpoint()
    val books = pqCodebooks(res, idCol, "__res", dims, blocks, k, pqIters)
    val codeCols = books.zipWithIndex.map { case (cs, b) =>
      Clustering.nearestCentroid(spark, slice(col("__res"), b * d + 1, d), cs).as(s"code_$b")
    }
    val codes = res.select(col(idCol) +: col("list_id") +: codeCols: _*)
    val centDf = cents.toDF("cid", "cemb")
    val q = queryDf.select(col(embCol).as("__q"))
    val probeLists = broadcast(
      q.crossJoin(broadcast(centDf))
        .select(col("cid"), cosineFast(spark, col("cemb"), col("__q")).as("__csim"))
        .orderBy(col("__csim").desc, col("cid").asc)
        .limit(nprobe)
        .select(col("cid").as("list_id")))
    val qv = queryDf.select(col(embCol)).collect().head.getSeq[Float](0)
    require(qv.size == dims, s"query has ${qv.size} dims, expected $dims")
    val adc = books.zipWithIndex.map { case (cs, b) =>
      val table = cs.map { case (cid, cent) =>
        cid -> (0 until d).map(i => qv(b * d + i).toDouble * cent(i)).sum
      }.toMap
      element_at(typedlit(table), col(s"code_$b"))
    }.reduce(_ + _)
    val corr = cents.map { case (cid, c) =>
      cid -> (0 until dims).map(i => qv(i).toDouble * c(i)).sum
    }.toMap
    codes.join(broadcast(probeLists), "list_id")
      .select(col(idCol),
        round(element_at(typedlit(corr), col("list_id")) + adc, 6).as("approx_dot"))
      .orderBy(col("approx_dot").desc, col(idCol).asc)
      .limit(topK)
  }

  /**
   * [[ivfPqTopK]] for a query SET — one training run, one residual
   * encode, one scan of the probed lists' codes serves every query:
   * the ADC tables become nested (query → code) literal maps and the
   * per-list corrections a nested (query → list) map (queries × nlist
   * doubles — driver constants like the single-query tables); each
   * query ranks its own `nprobe` lists in the broadcast centroid
   * frame, and candidates score only against the queries that probed
   * their list. Final ranking is the salted two-stage
   * [[perQueryTopK]]. Output: (query_id, rank, idCol, approx_dot);
   * query ids must be distinct.
   */
  def ivfPqTopKBatch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      qidCol: String,
      topK: Int,
      dims: Int,
      nlist: Int,
      nprobe: Int,
      coarseIters: Int,
      blocks: Int,
      k: Int,
      pqIters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(blocks >= 1 && dims % blocks == 0, "blocks must divide dims")
    val d = dims / blocks
    val qs = queries.select(col(qidCol).cast("long"), col(embCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    require(qs.nonEmpty, "ivfPqTopKBatch: empty query set")
    require(qs.map(_._1).distinct.length == qs.length,
      "ivfPqTopKBatch: duplicate query ids")
    qs.foreach { case (qid, q) =>
      require(q.size == dims, s"query $qid has ${q.size} dims, expected $dims") }
    val cents = Clustering.train(corpus, idCol, embCol, nlist, coarseIters)
    val centMap = typedlit(cents.toMap)
    val res = Clustering.assign(corpus, idCol, embCol, cents)
      .select(col(idCol), col("cluster").as("list_id"),
        zip_with(col(embCol), element_at(centMap, col("cluster")),
          (x, c) => (x.cast("double") - c).cast("float")).as("__res"))
      .localCheckpoint()
    val books = pqCodebooks(res, idCol, "__res", dims, blocks, k, pqIters)
    val codeCols = books.zipWithIndex.map { case (cs, b) =>
      Clustering.nearestCentroid(spark, slice(col("__res"), b * d + 1, d), cs).as(s"code_$b")
    }
    val codes = res.select(col(idCol) +: col("list_id") +: codeCols: _*)
    val centDf = cents.toDF("cid", "cemb")
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      col(embCol).as("__q"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("__csim").desc, col("cid").asc)
    val probePairs = broadcast(
      q.crossJoin(broadcast(centDf))
        .select(col("query_id"), col("cid"),
          cosineFast(spark, col("cemb"), col("__q")).as("__csim"))
        .withColumn("__rn", row_number().over(wq))
        .filter(col("__rn") <= nprobe)
        .select(col("query_id"), col("cid").as("list_id")))
    val adc = books.zipWithIndex.map { case (cs, b) =>
      val table: Map[Long, Map[Long, Double]] = qs.map { case (qid, qv) =>
        qid -> cs.map { case (cid, cent) =>
          cid -> (0 until d).map(i => qv(b * d + i).toDouble * cent(i)).sum
        }.toMap
      }.toMap
      element_at(element_at(typedlit(table), col("query_id")), col(s"code_$b"))
    }.reduce(_ + _)
    val corr: Map[Long, Map[Long, Double]] = qs.map { case (qid, qv) =>
      qid -> cents.map { case (cid, c) =>
        cid -> (0 until dims).map(i => qv(i).toDouble * c(i)).sum
      }.toMap
    }.toMap
    val scored = codes.join(probePairs, "list_id")
      .select(col("query_id"), col(idCol),
        round(element_at(element_at(typedlit(corr), col("query_id")), col("list_id"))
          + adc, 6).as("approx_dot"))
    perQueryTopK(scored, "query_id", idCol, "approx_dot", topK)
      .select(col("query_id"), col("rank"), col(idCol), col("approx_dot"))
  }

  /** All-pairs top-k neighbors per vector within LSH buckets (the
    * batch "kNN graph" builder): join within buckets, rank per source
    * id. Used for embedding-cosine near-dup detection. Single-band —
    * prefer [[bandedNeighbors]] beyond toy corpus sizes. */
  def bucketedNeighbors(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      numPlanes: Int,
      dims: Int,
      minCosine: Double): DataFrame = {
    val hp = planes(numPlanes, dims)
    // Materialize the bucketed projection before the self-join —
    // otherwise the join re-evaluates the numPlanes dot-product
    // expressions per candidate row instead of once per vector.
    // localCheckpoint, not persist: persist's cache build bypasses
    // codegen and re-evaluates expression-heavy projections ~8× slower
    // (same pathology as the MinHash index in Dedup.candidatePairs).
    val b = corpus.select(
      col(idCol).as("id"),
      col(embCol).as("emb"),
      signBucket(col(embCol), hp).as("bucket"))
      .localCheckpoint()
    val a = b.select(col("id").as("id_a"), col("emb").as("emb_a"), col("bucket"))
    val c = b.select(col("id").as("id_b"), col("emb").as("emb_b"), col("bucket"))
    a.join(c, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        cosineFast(corpus.sparkSession, col("emb_a"), col("emb_b")).as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
  }

  /**
   * Random-projection (Johnson–Lindenstrauss) compressed retrieval:
   * project every vector onto `projDims` deterministic ±1 hyperplanes
   * (the [[planes]] matrix — the same public-seed construction the
   * sign-LSH path uses, kept UNQUANTIZED here), rank by cosine in the
   * compressed space, then exact-rerank the top `k·rerankFactor`
   * candidates on the full vectors. The classic two-stage shape:
   * stage 1 touches `projDims`-sized arrays (4× fewer multiplies at
   * 64→16), stage 2 pays full cost on a candidate set ∝ k, not ∝
   * corpus.
   *
   * Scale shape: the projection is a narrow per-row expression over a
   * broadcast literal matrix (no shuffle); stage-1 ranking is
   * `TakeOrderedAndProject`-bounded; stage 2 joins only the candidate
   * ids back to the corpus. Exactness caveat (the JL trade): recall
   * is probabilistic in `projDims` — candidates are whatever the
   * compressed cosine ranks highest, deterministically replayable.
   *
   * Output: (idCol, cosine_sim) — exact cosines, top-k of the
   * candidate set, ties → lowest id.
   */
  def projectedTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      projDims: Int,
      dims: Int,
      rerankFactor: Int = 4): DataFrame = {
    requireSingleQuery(queryDf, "projectedTopK")
    val mat = planes(projDims, dims)
    def proj(c: Column): Column = array(
      mat.map(p => dot(c, typedlit(p.map(_.toDouble)))): _*)
    val cp = corpus.select(col(idCol).as("id"), col(embCol).as("emb"),
      proj(col(embCol)).as("p"))
    val qp = broadcast(queryDf.select(proj(col(embCol)).as("qp"),
      col(embCol).as("qemb")))
    val cand = cp.crossJoin(qp)
      .select(col("id"), col("emb"), col("qemb"), cosine(col("p"), col("qp")).as("__pc"))
      .orderBy(col("__pc").desc, col("id").asc)
      .limit(k * rerankFactor)
    cand
      .select(col("id").as(idCol),
        cosineFast(corpus.sparkSession, col("emb"), col("qemb")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Incremental semantic dedup — the daily-batch shape of
   * [[semanticDedup]]: new vectors are screened against the DURABLE
   * vector index ([[graft.io.VectorIndex.probeThreshold]] — all
   * corpus matches ≥ threshold in the probed lists, arrival order:
   * the corpus copy always wins) and then against each other
   * (keep-first by id within the batch). The corpus is never
   * re-scored; probe IO is `nprobe/nlist` of the stored lists, and
   * the batch-internal pass is batch × batch (the batch is small by
   * contract — a day's arrivals, not a corpus).
   *
   * Output: (idCol, reason, keep) — one row per batch vector; reason
   * = 'corpus' | 'batch' | NULL, keep ⇔ reason IS NULL (non-nullable).
   *
   * Both flags come from ONE grouped pass ([[dedupDecisions]]) — no
   * `distinct` per flag and no join back. Building the frame runs the
   * probe's centroid ranking (2 jobs); evaluating it runs 4: the
   * broadcasts of the two hit sides, the grouping's shuffle and the
   * caller's action.
   */
  def incrementalSemanticDedup(
      batch: DataFrame,
      idCol: String,
      embCol: String,
      indexDir: String,
      threshold: Double,
      nprobe: Int): DataFrame = {
    // The index probe reads the column named by the index's stored
    // vecCol; align the caller's embCol to it explicitly so a batch
    // whose embedding column is named differently (or that happens to
    // carry an unrelated column under that name) can't feed the two
    // passes different vectors.
    val vecCol = graft.io.VectorIndex.meta(batch.sparkSession, indexDir).vecCol
    val probeFrame =
      if (embCol == vecCol) batch
      else batch.select(col(idCol), col(embCol).as(vecCol))
    dedupDecisions(batch, idCol, embCol, threshold, graft.io.VectorIndex
      .probeThreshold(probeFrame, idCol, indexDir, threshold, nprobe)
      .select(col("query_id")))
  }

  /** The (idCol, reason, keep) decision of [[incrementalSemanticDedup]]
    * from `corpusHits` — one query id per corpus match (an empty frame
    * on a BOOTSTRAP wave, when no index exists yet) — and the
    * batch-internal keep-first hits (ids with a lower-id batch mate at
    * cosine ≥ threshold; pairwise, the batch is small by contract).
    * ONE `groupBy(idCol)` over the union of a self row per batch row
    * and both hit kinds counts each kind; each group re-expands to its
    * self-row count, so a duplicated id keeps one row per batch row. A
    * NULL id is never a hit (a null query id probes nothing, and `<`
    * never pairs it), so its rows keep. */
  private[graft] def dedupDecisions(
      batch: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      corpusHits: DataFrame): DataFrame = {
    val lo = batch.select(col(idCol).as("__lo"), col(embCol).as("__elo"))
    val hi = batch.select(col(idCol).as("__hi"), col(embCol).as("__ehi"))
    val batchHits = lo.crossJoin(hi)
      .filter(col("__lo") < col("__hi"))
      .filter(cosineFast(batch.sparkSession, col("__elo"), col("__ehi")) >= threshold)
      .select(col("__hi"))
    // __kind 0: a batch row, 1: a corpus hit, 2: a batch-internal hit
    def kind(ids: DataFrame, k: Int) =
      ids.select(col(ids.columns.head).as(idCol), lit(k).as("__kind"))
    def rows(k: Int) = count(when(col("__kind") === k, 1)) // non-nullable
    kind(batch.select(col(idCol)), 0)
      .union(kind(corpusHits, 1))
      .union(kind(batchHits, 2))
      .groupBy(col(idCol))
      .agg(rows(0).cast("int").as("__n"), rows(1).as("__c"), rows(2).as("__b"))
      .select(col(idCol),
        when(col("__c") > 0, lit("corpus"))
          .when(col("__b") > 0, lit("batch"))
          .otherwise(lit(null).cast("string")).as("reason"),
        (col("__c") === 0 && col("__b") === 0).as("keep"),
        explode(array_repeat(lit(0), col("__n"))).as("__row"))
      .drop("__row")
  }

  /**
   * SemDeDup-style semantic dedup: k-means partitions the embedding
   * space, then near-dup pruning runs ONLY within each cluster — the
   * corpus-wide O(N²) pairwise cosine collapses to Σ|cluster|², and
   * the cluster id is the join/shuffle key. At 100 TB the production
   * knob is `k` itself (SemDeDup's regime is k ≈ N/10³, keeping every
   * cluster's pair block bounded); the pair join never shuffles the
   * corpus on anything but the cluster id, so AQE's skew split is the
   * guardrail for an unbalanced quantizer, exactly as in
   * [[bandedNeighbors]]'s bucket join.
   *
   * Keep policy (deterministic, oracle-replayable): a vector survives
   * iff its cluster holds NO lower-id vector with cosine ≥
   * `threshold` — "keep lowest id per semantic dup set", the same
   * convention as every destructive dedup in [[graft.ops.Dedup]].
   *
   * Output: (idCol, cluster, keep) — one row per input vector.
   */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int,
      threshold: Double): DataFrame = {
    val centroids = Clustering.train(corpus, idCol, embCol, k, iters)
    // materialize the assignment once — it feeds both sides of the
    // pair join and the final decision frame, and the k·dims argmax
    // projection is expression-heavy (same reasoning as
    // bucketedNeighbors' index materialization)
    val assigned = Clustering.assign(corpus, idCol, embCol, centroids)
      .select(col(idCol).as("id"), col(embCol).as("emb"), col("cluster"))
      .localCheckpoint()
    val lo = assigned.select(
      col("cluster"), col("id").as("__lo"), col("emb").as("__elo"))
    val hi = assigned.select(
      col("cluster"), col("id").as("__hi"), col("emb").as("__ehi"))
    val dropped = lo.join(hi, Seq("cluster"))
      .filter(col("__lo") < col("__hi"))
      .filter(
        cosineFast(corpus.sparkSession, col("__elo"), col("__ehi")) >= threshold)
      .select(col("__hi").as("id"))
      .distinct()
    assigned
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("cluster"),
        col("__drop").isNull.as("keep"))
  }

  /**
   * Embedding-column quality audit — the pre-index health check:
   * corrupt vectors (NaN components, zero norms, wrong dimensionality)
   * poison an ANN index SILENTLY — a NaN propagates through every
   * dot product it touches, a zero vector has undefined cosine, a
   * truncated vector skews any centroid it lands in — and none of them
   * crash the build. One narrow scan, one 1-row decomposable
   * aggregate: n_vectors, the three corruption counts, and min/max
   * norm over the healthy rows (rounded 6, the engine-parity
   * convention).
   */
  def vectorAudit(
      df: DataFrame,
      embCol: String,
      expectedDims: Int): DataFrame = {
    require(expectedDims >= 1, "expectedDims must be positive")
    val e = col(embCol)
    val norm = sqrt(aggregate(e, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val dimsOk = size(e) === expectedDims
    val hasNan = exists(e, x => isnan(x))
    val healthy = dimsOk && !hasNan
    df.select(
        dimsOk.as("__dims_ok"), hasNan.as("__nan"),
        norm.as("__norm"), healthy.as("__healthy"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(!col("__dims_ok"), 1L).otherwise(0L)).as("n_wrong_dims"),
        sum(when(col("__nan"), 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("__healthy") && col("__norm") < 1e-6, 1L)
          .otherwise(0L)).as("n_zero_norm"),
        round(min(when(col("__healthy"), col("__norm"))), 6).as("min_norm"),
        round(max(when(col("__healthy"), col("__norm"))), 6).as("max_norm"))
  }

  /**
   * Seed-centroid quality scoring — the classifier-free embedding
   * quality signal from the data-selection literature: a small curated
   * SEED set defines "good" as its centroid, and every corpus vector
   * scores by cosine to it (domain routing, quality fencing, "more
   * like these" selection — the lightweight sibling of a trained
   * classifier).
   *
   * Determinism contract (cross-engine/partitioning): components are
   * rounded to 6 dp and summed as exact DECIMALs (order-independent —
   * a plain float mean varies with partition merge order), the per-dim
   * mean re-rounds at 6, and the centroid is cast to FLOAT (both
   * engines' nearest-float of the same decimal). Scoring then rides
   * the codegen cosine kernel with the centroid as ONE literal array.
   *
   * Scale shape: the centroid is a dims-bounded aggregation over the
   * SEEDS (seed-∝, collected as `dims` driver rows — same class as a
   * query vector); scoring is one narrow codegen scan of the corpus,
   * no shuffle, no join.
   */
  def seedCentroid(seeds: DataFrame, embCol: String): Array[Float] =
    seeds.select(posexplode(col(embCol)).as(Seq("i", "x")))
      .groupBy("i")
      .agg(round(
        sum(round(col("x").cast("double"), 6).cast("decimal(18,6)"))
          .cast("double") / count(lit(1)), 6).as("c"))
      .orderBy("i")
      .collect().map(_.getDouble(1).toFloat)

  /** Corpus scored against a seed centroid: (idCol, cos) — see
    * [[seedCentroid]]. */
  def seedCentroidScores(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      centroid: Array[Float]): DataFrame = {
    val spark = corpus.sparkSession
    corpus.select(col(idCol),
      cosineFast(spark, col(embCol), typedlit(centroid)).as("cos"))
  }

  /**
   * Train SQ8 scalar-quantization ranges: the per-dimension (min, max)
   * over the corpus — ONE aggregation, output dims-bounded
   * (driver-sized by design, like a PQ codebook). Exact: min/max
   * involve no float summation, so both engines compute identical
   * doubles.
   */
  def sqRanges(
      corpus: DataFrame, embCol: String, dims: Int): Seq[(Double, Double)] = {
    require(dims >= 1, "sqRanges needs dims >= 1")
    val aggs = (0 until dims).flatMap { d =>
      val x = element_at(col(embCol), d + 1).cast("double")
      Seq(min(x).as(s"mn_$d"), max(x).as(s"mx_$d"))
    }
    val row = corpus.agg(aggs.head, aggs.tail: _*).head()
    (0 until dims).map(d => (row.getDouble(2 * d), row.getDouble(2 * d + 1)))
  }

  /**
   * SQ8 encode (the FAISS `SQ8` / scalar-quantizer compression block,
   * public): each float dimension maps to an integer code in [0, 255]
   * via `floor((x − min) / (max − min) · 255)` (clamped; a degenerate
   * constant dimension codes 0). 64 floats → 64 bytes conceptually —
   * the simpler sibling of PQ: no training iterations, no codebook
   * search, reconstruction error bounded per-dimension instead of
   * per-block.
   *
   * Ranges are driver literals, so encoding is ONE narrow codegen
   * projection — no joins, no shuffles; identical floor/clamp
   * arithmetic replays in the oracle.
   */
  def sqEncode(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dims: Int,
      ranges: Seq[(Double, Double)]): DataFrame = {
    require(ranges.length == dims, s"ranges must have $dims entries")
    val codes = (0 until dims).map { d =>
      val (mn, mx) = ranges(d)
      val x = element_at(col(embCol), d + 1).cast("double")
      if (mx == mn) lit(0L)
      else least(greatest(
        floor((x - lit(mn)) / lit(mx - mn) * lit(255.0)).cast("long"),
        lit(0L)), lit(255L))
    }
    corpus.select(col(idCol), array(codes: _*).as("codes"))
  }

  /**
   * SQ8 asymmetric-distance top-k (MIPS form): approximate inner
   * product against the DEQUANTIZED corpus codes — the query side
   * stays exact (the "asymmetric" of the ADC family), the corpus side
   * reconstructs each dimension at its bucket midpoint
   * `min + (code + 0.5) · (max − min)/256`. Search touches only the
   * integer code table + the dims-bounded range literals: one narrow
   * projection + `TakeOrderedAndProject`, never the float embeddings —
   * the working-set shrink that makes a 100 TB vector corpus
   * RAM-resident. Scores fold left-to-right over dimensions and round
   * to 6 decimals (the [[dot]] determinism contract).
   */
  def sqTopKWith(
      codes: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      topK: Int,
      dims: Int,
      ranges: Seq[(Double, Double)]): DataFrame = {
    require(ranges.length == dims, s"ranges must have $dims entries")
    requireSingleQuery(queryDf, "sqTopKWith")
    val q = queryDf.select(col(embCol)).head().getSeq[Float](0)
    require(q.length == dims, s"query must have $dims dims, got ${q.length}")
    val qArr = array(q.map(v => lit(v.toDouble)): _*)
    val recon = array((0 until dims).map { d =>
      val (mn, mx) = ranges(d)
      lit(mn) + (element_at(col("codes"), d + 1) + lit(0.5)) * lit((mx - mn) / 256.0)
    }: _*)
    codes
      .select(col(idCol), round(dot(qArr, recon), 6).as("approx_dot"))
      .orderBy(col("approx_dot").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Train + encode + search in one call (the q70/q71 convenience
    * shape; production persists [[sqEncode]]'s codes and calls
    * [[sqTopKWith]] per query). */
  def sqTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      topK: Int,
      dims: Int): DataFrame = {
    val ranges = sqRanges(corpus, embCol, dims)
    sqTopKWith(sqEncode(corpus, idCol, embCol, dims, ranges),
      queryDf, idCol, embCol, topK, dims, ranges)
  }

  /**
   * Multi-probe LSH (Lv et al., VLDB 2007, public): probe the query's
   * own sign-bucket PLUS every bucket at Hamming distance 1 (one
   * flipped hyperplane sign) — the recall repair for single-bucket LSH,
   * whose misses are exactly the near-neighbors that landed a
   * hairline's width across one hyperplane. numPlanes+1 buckets probed
   * instead of 2^numPlanes scanned: recall strictly ⊇ [[lshTopK]]'s at
   * ~(numPlanes+1)/2^numPlanes of the corpus touched (expected).
   *
   * The probe set is a driver literal (the query row is one vector, so
   * its bucket string and the flips are computed once) — the corpus
   * side stays ONE narrow bucketed scan with an `isin` filter, no
   * shuffle, top-k via `TakeOrderedAndProject`. With a bucket-
   * partitioned durable index the isin becomes partition pruning.
   */
  def multiProbeTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      numPlanes: Int,
      dims: Int): DataFrame = {
    requireSingleQuery(queryDf, "multiProbeTopK")
    val hp = planes(numPlanes, dims)
    val qBucket = queryDf.select(signBucket(col(embCol), hp).as("b"))
      .head().getString(0)
    val probeSet = qBucket +: (0 until numPlanes).map { i =>
      qBucket.updated(i, if (qBucket.charAt(i) == '1') '0' else '1')
    }
    val q = broadcast(queryDf.select(col(embCol).as("__q")))
    corpus
      .withColumn("__bucket", signBucket(col(embCol), hp))
      .filter(col("__bucket").isin(probeSet: _*))
      .crossJoin(q)
      .select(col(idCol),
        cosineFast(corpus.sparkSession, col(embCol), col("__q"))
          .as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Hard-negative mining (the dense-retrieval training-data staple —
   * Karpukhin et al. 2020 DPR, public): for each query, the most
   * SIMILAR candidates that are NOT positives (here: not the query
   * itself and not sharing its `groupCol` — cluster label, source,
   * whatever defines "same thing"). Random negatives are too easy;
   * the gradient signal lives in the near-misses.
   *
   * Mining runs the standard two-stage shape: an over-fetched
   * retrieval cut (`k · overFetch` per query — the ANN stage of a
   * production miner; brute-force here so the cut itself is exact and
   * oracle-replayable), then the group filter, then a per-query
   * re-rank to k. The FILTER-AFTER-CUT contract is deliberate and
   * documented: a query whose top-R is flooded by its own positives
   * yields fewer than k negatives — raise `overFetch`, don't scan the
   * corpus. All joins after the cut are (queries·R)-row frames.
   *
   * Output: (query_id, rank, idCol, cosine_sim), rank ≤ k per query.
   */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      qidCol: String,
      groupCol: String,
      k: Int,
      overFetch: Int = 4): DataFrame = {
    require(k >= 1 && overFetch >= 1, "k and overFetch must be positive")
    val cut = bruteForceTopKBatch(corpus, queries, idCol, embCol, qidCol,
      k * overFetch)
    val qGroups = broadcast(queries.select(col(qidCol).as("query_id"),
      col(groupCol).as("__qg")))
    val cGroups = broadcast(corpus.select(col(idCol), col(groupCol).as("__cg")))
    val negatives = cut
      .join(qGroups, "query_id")
      .join(cGroups, idCol)
      .filter(col(idCol) =!= col("query_id") &&
        (col("__cg").isNull || col("__qg").isNull || col("__cg") =!= col("__qg")))
      .select(col("query_id"), col(idCol), col("cosine_sim"))
    perQueryTopK(negatives, "query_id", idCol, "cosine_sim", k)
      .select(col("query_id"), col("rank"), col(idCol), col("cosine_sim"))
  }

  /**
   * Two-stage refine re-rank (the FAISS `IndexRefineFlat` pattern,
   * public): the compressed stage ([[sqTopKWith]] over the integer
   * code table) over-fetches `topK × refineFactor` candidates, then
   * ONLY those candidate rows are re-scored against the exact float
   * embeddings and re-ranked. The standard accuracy/cost dial of every
   * production vector index: quantization error decides RECALL INTO
   * the candidate set (cheap to widen — scan cost is code-table-sized
   * either way), while the final ORDER is exact, so the approximate
   * stage only has to be good enough to not drop a true neighbor past
   * rank R.
   *
   * Scale shape: stage 1 never touches the float embeddings (the
   * working-set shrink that makes the 100 TB corpus scannable); stage
   * 2 attaches R = topK·refineFactor ids — an R-row broadcast
   * semi-join against the embedding table, so exact-scoring cost is
   * R·dims, not corpus·dims. Both stages end in
   * `TakeOrderedAndProject` (no global sort). Ties break on id
   * ascending at both stages, so the candidate CUT at rank R is
   * deterministic and the oracle replays it exactly.
   *
   * Output: (idCol, approx_dot, exact_dot) — keeping the stage-1 score
   * beside the exact one is what makes the quantization error
   * observable (the audit column a recall regression starts from).
   */
  def sqRefineTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      idCol: String,
      embCol: String,
      topK: Int,
      refineFactor: Int,
      dims: Int): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be >= 1")
    requireSingleQuery(queryDf, "sqRefineTopK")
    val ranges = sqRanges(corpus, embCol, dims)
    val codes = sqEncode(corpus, idCol, embCol, dims, ranges)
    val cands = sqTopKWith(codes, queryDf, idCol, embCol,
      topK * refineFactor, dims, ranges)
    val q = queryDf.select(col(embCol)).head().getSeq[Float](0)
    val qArr = array(q.map(v => lit(v.toDouble)): _*)
    corpus
      .join(broadcast(cands), idCol)
      .select(col(idCol), col("approx_dot"),
        round(dot(qArr, col(embCol)), 6).as("exact_dot"))
      .orderBy(col("exact_dot").desc, col(idCol).asc)
      .limit(topK)
  }
}
