package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.ops.{Clustering, Similarity}

/**
 * Durable IVF ANN index — the embedding-space member of the published
 * index family ([[SignatureIndex]] doc granularity, [[WindowIndex]]
 * token-window granularity, this one vector granularity). A 100 TB
 * corpus trains its coarse quantizer ONCE and serves every subsequent
 * similarity query from the stored inverted lists:
 *
 *  - `build` trains k-means centroids ([[Clustering.train]] — the
 *    oracle-replayable trainer) and writes the corpus PARTITIONED BY
 *    `list_id`, so each inverted list is its own parquet directory;
 *  - `probe` ranks the stored centroids against the query and reads
 *    ONLY the `nprobe` winning list directories — the partition filter
 *    is static (literal list ids), so pruning happens at PLANNING
 *    time: file listing, IO, and scan all shrink by ~nprobe/nlist.
 *    This is the storage-level realization of what q29/q61 do with an
 *    in-memory assignment join. [[probeBatch]] is the query-SET form:
 *    one id-only collect ranks every query's own nprobe lists (and
 *    carries the dims check), then ONE scan of the UNION of probed
 *    lists (still a static partition filter) scores and ranks every
 *    query — the fixed per-call cost is that collect, read with the
 *    stored schemas (no footer inference);
 *  - `append` assigns a new batch against the STORED centroids (the
 *    quantizer is frozen at build time — the standard IVF contract;
 *    retrain = rebuild) and lands it as a COMMITTED BATCH: the data
 *    goes under `lists/batch=<tag>/list_id=*` where the tag is a
 *    deterministic function of the batch's ids, and the batch is live
 *    only once it is committed ([[Commits]] committed batches). A
 *    retried or re-drained batch recomputes the same tag and
 *    OVERWRITES its own partition — idempotent, never double-inserted;
 *    a crashed append leaves an invisible orphan that
 *    [[compact]]/[[delete]] garbage-collect;
 *  - `delete` is the takedown pass: one rewrite of the live lists
 *    minus the deleted ids (broadcast anti-join), crash-safe via the
 *    [[Commits.swap]] — the quantizer is untouched, so probes keep
 *    their pruning and simply stop surfacing forgotten vectors.
 *
 * Identity (id/vec columns + their types, DIMS, nlist, iters) is the
 * [[Commits]] index meta, committed AFTER the data: a crashed build
 * leaves no readable index.
 * Probes read every parameter from the meta — they cannot drift — and
 * every write path validates vector width against the stored dims (a
 * malformed batch fails loudly instead of silently polluting a list
 * with unscorable vectors). An index whose vectors have ALL been
 * deleted stays readable (the stored schema reconstructs the empty
 * frame) and probes return zero rows rather than a schema-inference
 * error.
 */
object VectorIndex {

  /** Index identity, fixed at build time. `schemaDdl` is the DDL of
    * the (id, vec) data columns — reconstructs reads of an index whose
    * lists are empty (every vector deleted). */
  final case class Meta(
      idCol: String, vecCol: String, dims: Int, nlist: Int, iters: Int,
      schemaDdl: String)

  private def listsPath(dir: String) = s"$dir/lists"
  private def centsPath(dir: String) = s"$dir/centroids"
  private def listsDirs(dir: String) = Commits.SwapDirs(dir, "lists", "staging")
  private def centsDirs(dir: String) = Commits.SwapDirs(dir, "centroids", "staging")
  private val retireFile = "_graft_retire"
  private val baseTag = "__base__"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** [[Commits.heal]] the lists dir (crashed [[delete]]/[[compact]])
    * and the centroids dir (crashed [[maintainLists]] quantizer swap).
    * MUTATING — writers only, under the store claim, before their first
    * read (readers resolve); no-op in steady state. */
  private[graft] def ensureLive(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, new Path(dir))
    Commits.heal(f, listsDirs(dir))
    Commits.heal(f, centsDirs(dir))
  }

  /** The readable dir of swap store `d` ([[Commits.resolve]]): a crash
    * window reads `_prev` without touching the store. One `exists` in
    * the steady state — resolved once per call and passed down. */
  private def resolved(spark: SparkSession, d: Commits.SwapDirs): Path =
    Commits.resolve(fs(spark, d.live), d)

  /** TRUE for a vector the index cannot score: NULL (ANSI `size(NULL)`
    * is NULL, so a bare width test would pass it) or width != dims. */
  private def malformed(v: Column, dims: Int): Column =
    coalesce(size(v) =!= dims, lit(true))

  private def requireWellFormed(ok: Boolean, what: String, dims: Int): Unit =
    require(ok, s"$what contains null vectors or vectors whose width != index dims ($dims)")

  /** Fail loudly on any null vector or vector whose width differs from
    * the index dims — one short-circuiting scan of the (batch-sized)
    * frame. */
  private def requireDims(df: DataFrame, vecCol: String, dims: Int, what: String): Unit =
    requireWellFormed(
      df.filter(malformed(col(vecCol), dims)).limit(1).count() == 0, what, dims)

  /** Tags of the committed batches under the `lists` dir — the only
    * batches a reader sees; orphans of crashed appends stay invisible. */
  private def liveTags(spark: SparkSession, lists: Path): Seq[String] =
    Commits.committedBatches(spark, lists.toString).map(Commits.tagOf)

  /** The live stored vectors (idCol, vecCol, list_id) — committed
    * batches only, read with the stored schema (`Meta.schemaDdl` plus
    * the `batch`/`list_id` partition columns): no footer inference, so
    * building the frame launches no job, and an index whose vectors
    * were all deleted (committed batches, no files) reads as an empty
    * frame of that schema. The `batch`/`list_id` predicates are
    * partition filters, so callers layering a `list_id` IN-filter on
    * top keep planning-time directory pruning. Read-only: the lists dir
    * is [[resolved]] once. */
  private def liveLists(spark: SparkSession, dir: String, m: Meta): DataFrame = {
    val lists = resolved(spark, listsDirs(dir))
    val tags = liveTags(spark, lists)
    // retired (batch, list) partitions are superseded by a newer
    // maintenance batch — excluded with partition-column predicates,
    // so directory pruning still plans around them
    val keep = liveRetirements(spark, lists, tags)
      .foldLeft(col("batch").isin(tags: _*)) {
        case (p, (t, ls)) =>
          p && !(col("batch") === t && col("list_id").isin(ls: _*))
      }
    spark.read
      .schema(StructType.fromDDL(m.schemaDdl)
        .add("batch", StringType).add("list_id", LongType))
      .parquet(lists.toString)
      .filter(keep)
      .drop("batch")
  }

  /** The ids currently stored in the index — the processed-vectors
    * LEDGER for incremental maintainers (id column only; parquet
    * column pruning keeps the float vectors on disk). */
  def storedIds(spark: SparkSession, dir: String): DataFrame = {
    val m = meta(spark, dir)
    liveLists(spark, dir, m).select(m.idCol)
  }

  /** Write one committed batch under `root/batch=tag` (partitioned by
    * list_id), then [[Commits.commitBatch]] it. `retire` names (older
    * batch tag → list ids) partitions this batch SUPERSEDES
    * ([[maintainLists]]): written before the commit, so the new data
    * and the retirements become one visibility unit. */
  private def writeBatch(
      assigned: DataFrame, root: String, tag: String, spark: SparkSession,
      retire: Seq[(String, Seq[Long])] = Nil): Unit = {
    val batchDir = new Path(s"$root/batch=$tag")
    val f = fs(spark, batchDir)
    assigned.write.mode("overwrite").partitionBy("list_id")
      .parquet(batchDir.toString)
    if (retire.nonEmpty)
      Commits.writeText(f, new Path(batchDir, retireFile), retire
        .map { case (t, ls) => s"$t:${ls.sorted.mkString(",")}" }
        .mkString("\n"), overwrite = true)
    Commits.commitBatch(f, batchDir)
  }

  /** Retirements declared by LIVE batches: batch tag → list ids whose
    * partitions in that batch are superseded. Cost ∝ batch count. */
  private def liveRetirements(
      spark: SparkSession, lists: Path, tags: Seq[String]): Map[String, Seq[Long]] = {
    val f = fs(spark, lists)
    tags.flatMap { t =>
      val rf = new Path(lists, s"batch=$t/$retireFile")
      if (!f.exists(rf)) Nil
      else {
        Commits.readText(f, rf).split("\n").filter(_.nonEmpty).toSeq.map { line =>
          val Array(tag, ls) = line.split(":", 2)
          tag -> ls.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
        }
      }
    }.groupBy(_._1).map { case (t, xs) => t -> xs.flatMap(_._2).distinct.sorted }
  }

  /** Train the quantizer and publish the index. Overwrites `dir`. */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      nlist: Int,
      iters: Int): Unit = {
    require(idCol.matches("[A-Za-z_][A-Za-z0-9_]*") &&
      vecCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
      "column names are stored in index meta and must be plain identifiers")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Clustering.train(corpus, idCol, vecCol, nlist, iters)
    val dims = cents.head._2.length
    requireDims(corpus, vecCol, dims, "build corpus")
    val f = fs(spark, new Path(dir))
    val lists = listsDirs(dir)
    Seq(lists.live, lists.prev, lists.stage).foreach(f.delete(_, true))
    cents.toDF("cid", "cemb")
      .write.mode("overwrite").parquet(centsPath(dir))
    // list_id comes from the assignment's own projection: one stored
    // row per given row, whatever the ids (a join on the id would
    // multiply a duplicated id into every list its rows land in)
    val data = Clustering.assign(corpus, idCol, vecCol, cents)
      .select(col(idCol), col(vecCol), col("cluster").as("list_id"))
    writeBatch(data, listsPath(dir), baseTag, spark)
    Commits.writeMeta(spark, dir, "id_col" -> idCol, "vec_col" -> vecCol,
      "dims" -> dims, "nlist" -> nlist, "iters" -> iters,
      "schema" -> corpus.select(col(idCol), col(vecCol)).schema.toDDL)
  }

  /** Read the index identity. Fails if `dir` holds no committed index. */
  def meta(spark: SparkSession, dir: String): Meta = {
    val j = Commits.readMeta(spark, dir, "vector")
    Meta(j.str("id_col"), j.str("vec_col"), j.num("dims"), j.num("nlist"),
      j.num("iters"), j.str("schema"))
  }

  private val centroidSchema = StructType.fromDDL("cid BIGINT, cemb ARRAY<DOUBLE>")

  /** The stored centroids as (cid, cemb) — nlist rows, from the
    * [[resolved]] centroids dir, read with their fixed schema (no
    * footer-inference job). */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(centroidSchema)
      .parquet(resolved(spark, centsDirs(dir)).toString)

  /**
   * The list scan every query-set probe shares. Each query ranks the
   * centroids `cents` (per-query window over the queries×nlist frame
   * of ids and scores, kept in one partition so the window needs no
   * shuffle) and ONE collect
   * brings back only its `nprobe` winners as (query_id, list_id,
   * malformed) — ids and a flag, ≤ queries × nprobe rows; the driver
   * never holds a vector. The flag is the dims check, folded into that
   * collect: a null or wrong-width query fails here, before any list
   * is read. The winners' list-id union is a static, planning-time
   * partition filter on `lists` (≤ nlist literal ids); each query row
   * fans out to its own winners (an id map literal, so no join builds
   * the pairs) and the (query_id, __q, list_id) pairs are broadcast on
   * list_id, so each candidate is scored only against the queries that
   * probed its list. A null query id probes nothing. Output:
   * (query_id, idCol, cosine_sim).
   */
  private def scoreProbed(
      q: DataFrame, cents: DataFrame, lists: DataFrame, m: Meta,
      nprobe: Int): DataFrame = {
    val spark = q.sparkSession
    val wq = Window.partitionBy("query_id").orderBy(col("__csim").desc, col("cid").asc)
    val ranked = cents
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("cid"),
        malformed(col("__q"), m.dims).as("__bad"),
        Similarity.cosineFast(spark, col("cemb"), col("__q")).as("__csim"))
      .coalesce(1)
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("cid").as("list_id"), col("__bad"))
    val won = ranked.collect()
    requireWellFormed(!won.exists(_.getBoolean(2)), "probe queries", m.dims)
    val listsOf = won.filterNot(_.isNullAt(0)).groupBy(_.get(0).toString)
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSeq }
    val pairs = q.select(col("query_id"), col("__q"),
      explode(element_at(typedlit(listsOf), col("query_id").cast("string")))
        .as("list_id"))
    lists
      .filter(col("list_id").isin(won.map(_.getLong(1)).distinct: _*))
      .join(broadcast(pairs), "list_id")
      .select(col("query_id"), col(m.idCol),
        Similarity.cosineFast(spark, col(m.vecCol), col("__q"))
          .as("cosine_sim"))
  }

  /**
   * ANN top-k against the stored lists: rank the (tiny) centroid table
   * by the query, collect the `nprobe` winning list ids (constant,
   * ≤ nlist rows on the driver — same footprint as the PQ codebooks),
   * and scan ONLY those list directories via a static partition
   * filter. Scoring is the codegen cosine kernel; ties → id asc.
   * Exactly one query row ([[probeBatch]] for query sets — two rows
   * here would interleave both queries' candidates into one
   * meaningless ranking).
   */
  def probe(
      queryDf: DataFrame,
      dir: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val spark = queryDf.sparkSession
    val m = meta(spark, dir)
    // one short-circuiting collect: the row count AND the dims check
    val shape = queryDf.select(malformed(col(m.vecCol), m.dims)).limit(2).collect()
    require(shape.length == 1,
      s"probe expects exactly one query row, got ${if (shape.isEmpty) "none" else "2+"} — " +
        "use probeBatch for query sets")
    requireWellFormed(!shape.head.getBoolean(0), "probe query", m.dims)
    val q = queryDf.select(col(m.vecCol).as("__q"))
    val ranked = centroids(spark, dir)
      .crossJoin(broadcast(q))
      .select(col("cid"),
        Similarity.cosineFast(spark, col("cemb"), col("__q")).as("__csim"))
      .orderBy(col("__csim").desc, col("cid").asc)
      .limit(nprobe)
      .select("cid")
      .collect().map(_.getLong(0))
    liveLists(spark, dir, m)
      .filter(col("list_id").isin(ranked: _*))
      .crossJoin(broadcast(q))
      .select(col(m.idCol),
        Similarity.cosineFast(spark, col(m.vecCol), col("__q")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(m.idCol).asc)
      .limit(k)
  }

  /**
   * [[probe]] for a query SET — one scan for N queries: each query
   * ranks its own `nprobe` lists and the scan covers the UNION of
   * probed list directories ([[scoreProbed]]; a null or wrong-width
   * query fails there, eagerly). Final ranking is the salted two-stage
   * [[Similarity.perQueryTopK]]. Output: (query_id, rank, idCol,
   * cosine_sim).
   */
  def probeBatch(
      queries: DataFrame,
      qidCol: String,
      dir: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val m = meta(spark, dir)
    val q = queries.select(col(qidCol).as("query_id"), col(m.vecCol).as("__q"))
    val scored = scoreProbed(
      q, centroids(spark, dir), liveLists(spark, dir, m), m, nprobe)
    Similarity.perQueryTopK(scored, "query_id", m.idCol, "cosine_sim", k)
      .select(col("query_id"), col("rank"), col(m.idCol), col("cosine_sim"))
  }

  /**
   * Threshold probe — [[probeBatch]] with "every candidate ≥
   * `minCosine` in the probed lists" instead of a top-k cutoff: the
   * dedup/takedown primitive, where an arbitrary k would silently drop
   * the (k+1)-th true near-duplicate. Same plan shape (static
   * partition filter over the probed list union, broadcast pair join);
   * the output is bounded by the true match count, not a rank.
   * Output: (query_id, idCol, cosine_sim), all matches ≥ threshold.
   */
  def probeThreshold(
      queries: DataFrame,
      qidCol: String,
      dir: String,
      minCosine: Double,
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val m = meta(spark, dir)
    val q = queries.select(col(qidCol).as("query_id"), col(m.vecCol).as("__q"))
    scoreProbed(q, centroids(spark, dir), liveLists(spark, dir, m), m, nprobe)
      .filter(col("cosine_sim") >= minCosine)
  }

  /**
   * Predicate-aware [[probeBatch]] — "top-k WHERE <predicate>" against
   * the published lists, with the nprobe-ESCALATION analog of
   * [[graft.ops.GraphNav.filteredSearchBatch]]'s over-retrieve ladder
   * (Filtered-DiskANN's baseline, Gollapudi et al. WWW 2023, in the
   * IVF regime): each rung probes `nprobe · growth^rung` lists (capped
   * at `nlist`), filters the scored candidates, and a query whose
   * filtered cut holds `k` matches FINALIZES there — only still-thin
   * queries re-probe wider, so one selective query never drags the
   * batch. A rung that already covers ALL `nlist` lists is terminal
   * regardless of remaining budget (wider cannot exist: the filtered
   * result is exact and `thin` means the store truly holds < k
   * matches). `thin_result` rides every row of a query whose FINAL
   * rung stayed short (the row-carried contract of the graph family —
   * a zero-match query signals through its absent rows).
   *
   * `predicate` sees (query_id, idCol, cosine_sim) — deterministic id
   * arithmetic or a pre-joined id set; attribute predicates join their
   * attribute table on `idCol` downstream of [[probeThreshold]] if
   * they need scores too. Per rung the plan is exactly
   * [[probeBatch]]'s: static partition filter over the probed-list
   * union, broadcast pair join, salted two-stage ranking — plus one
   * ≤|queries|-row count collect driving the per-query pick.
   *
   * Output: (query_id, rank, idCol, cosine_sim, thin_result),
   * rank 1..≤k per query by (cosine desc, id asc).
   */
  def probeFilteredBatch(
      queries: DataFrame,
      qidCol: String,
      dir: String,
      predicate: Column,
      k: Int,
      nprobe: Int,
      escalations: Int = 1,
      growth: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val m = meta(spark, dir)
    require(k >= 1 && nprobe >= 1 && escalations >= 0 && growth >= 1,
      "degenerate escalation geometry")
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      col(m.vecCol).as("__q")).localCheckpoint() // re-read per rung
    var active = q.select("query_id").collect().map(_.getLong(0)).toSeq
    require(active.nonEmpty, "probeFilteredBatch: empty query set")
    val cents = centroids(spark, dir)
    val lists = liveLists(spark, dir, m)
    var rung = 0
    var out: DataFrame = null
    var doneLoop = false
    while (!doneLoop) {
      // Long-guarded rung width (the graph ladder's overflow rule),
      // capped at nlist — the cap is what makes the ladder terminal
      val width = (1 to rung).foldLeft(nprobe.toLong) {
        case (acc, _) => if (acc > m.nlist) acc else acc * growth
      }
      val effNprobe = math.min(width, m.nlist.toLong).toInt
      val qr = q.filter(col("query_id").isin(active: _*))
      val kept = scoreProbed(qr, cents, lists, m, effNprobe)
        .filter(predicate)
        .localCheckpoint() // counts + cut: one pruned list scan, not two
      val counts = kept.groupBy("query_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val thin = active.filter(qid => counts.getOrElse(qid, 0L) < k)
      val terminal = rung >= escalations || effNprobe >= m.nlist
      val settled = if (terminal) active else active.diff(thin)
      if (settled.nonEmpty) {
        val thinSet = thin.toSet
        val cut = Similarity.perQueryTopK(
            kept.filter(col("query_id").isin(settled: _*)),
            "query_id", m.idCol, "cosine_sim", k)
          .select(col("query_id"), col("rank"), col(m.idCol),
            col("cosine_sim"),
            col("query_id").isin(thinSet.toSeq: _*).as("thin_result"))
        out = if (out == null) cut else out.unionByName(cut)
      }
      if (terminal || thin.isEmpty) doneLoop = true
      else { active = thin; rung += 1 }
    }
    out
  }

  /** Assign a new batch against the FROZEN stored quantizer and land
    * it as one committed batch — idempotent per vector set
    * (deterministic tag + overwrite + marker-last commit). The batch's
    * row count, dims check and tag are ONE aggregate job
    * ([[Commits.batchShape]]); an empty batch returns after it, writing
    * nothing. A non-empty batch then runs the centroid collect and the
    * write: 3 jobs. `newVecs` is a materialized, drain-sized batch (the
    * [[Commits.batchShape]] contract: that job reads it in one task). */
  def append(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    Commits.withClaim(spark, dir) {
    ensureLive(spark, dir)
    val m = meta(spark, dir)
    val shape = Commits.batchShape(newVecs, m.idCol, malformed(col(m.vecCol), m.dims))
    requireWellFormed(!shape.failed, "append batch", m.dims)
    if (shape.count > 0) {
      val cents = centroids(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
      // land the stored column types (every file matches `Meta.schemaDdl`,
      // the schema every read applies) and assign what is stored; list_id
      // comes from the assignment's projection, one row per given row
      val stored = StructType.fromDDL(m.schemaDdl)
      val data = Clustering.assign(
          newVecs.select(stored.map(f => col(f.name).cast(f.dataType)): _*),
          m.idCol, m.vecCol, cents)
        .select(col(m.idCol), col(m.vecCol), col("cluster").as("list_id"))
      writeBatch(data, listsPath(dir), shape.tag, spark)
    }
  } }

  /** Rewrite the whole lists store as ONE committed `__base__` batch
    * holding `data`, via [[Commits.swap]] — the shared tail of
    * [[compact]] and [[delete]]. Orphans of crashed appends are NOT
    * carried over. */
  private def rewriteLists(spark: SparkSession, dir: String, data: DataFrame): Unit =
    Commits.swap(fs(spark, new Path(dir)), listsDirs(dir), "rewrite") { stage =>
      writeBatch(data, stage.toString, baseTag, spark)
    }

  /** Fold the live batches into one `__base__` batch and drop orphan
    * garbage from crashed appends. Single-writer contract: serialize
    * with appends. */
  def compact(spark: SparkSession, dir: String): Unit =
    Commits.withClaim(spark, dir) {
      ensureLive(spark, dir)
      val m = meta(spark, dir)
      rewriteLists(spark, dir, liveLists(spark, dir, m))
    }

  /**
   * Remove vectors from the index — the takedown pass: ONE rewrite of
   * the live lists minus the deleted ids (broadcast anti-join
   * preserving the list partitioning), behind the family's crash-safe
   * stage + two renames. The quantizer is untouched (centroids carry
   * no per-vector data), so probe pruning is unchanged and a forgotten
   * vector simply stops surfacing — equivalent to an index whose
   * lists never held it (spec-pinned). Deleting EVERY vector leaves a
   * valid empty index (probes return zero rows). Single-writer
   * contract: serialize with appends.
   */
  def delete(deletedIds: DataFrame, dir: String): Unit = {
    val spark = deletedIds.sparkSession
    Commits.withClaim(spark, dir) {
    ensureLive(spark, dir)
    val m = meta(spark, dir)
    val ids = deletedIds
      .select(col(deletedIds.columns.head).as(m.idCol))
      .dropDuplicates(m.idCol)
    rewriteLists(spark, dir,
      liveLists(spark, dir, m).join(broadcast(ids), Seq(m.idCol), "left_anti"))
  } }

  /** Crash-safe quantizer swap — [[Commits.swap]] on the centroids
    * dir (readers resolve the window read-only; the next writer's
    * [[ensureLive]] heals it). */
  private def swapCentroids(
      spark: SparkSession, dir: String, cents: Seq[(Long, Seq[Double])]): Unit = {
    import spark.implicits._
    Commits.swap(fs(spark, new Path(dir)), centsDirs(dir), "maintain") { stage =>
      cents.toDF("cid", "cemb").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
    }
  }

  /**
   * IVF list maintenance — the FAISS-practice answer to quantizer
   * drift (appends assign against FROZEN centroids, so a shifting
   * corpus slowly concentrates mass in lists whose centroid no longer
   * sits at the member mean, and probe recall decays):
   *
   *  1. AUDIT (the q254 drift report, per list): member count and the
   *     cosine drift `1 − cos(stored centroid, member mean)` — means
   *     rounded per the [[graft.ops.Clustering.train]] convention, so
   *     an SQL engine replays the whole report;
   *  2. lists whose drift exceeds `driftThreshold` RETRAIN: their
   *     centroid moves to the member mean (one local Lloyd update) and
   *     ONLY their vectors reassign against the updated centroid set —
   *     cost ∝ the drifted lists, never the corpus;
   *  3. the reassignment lands as one committed maintenance batch
   *     whose retire spec names the superseded (older batch, drifted
   *     list) partitions — written before the batch marker, so data
   *     and retirements become one visibility unit (a crash leaves an
   *     invisible orphan; old partitions are only LOGICALLY retired
   *     and physically reclaimed by [[compact]]);
   *  4. the quantizer swaps last ([[swapCentroids]]; a crash window
   *     reads `centroids_prev` until the next writer's [[ensureLive]]
   *     heals it). A crash between 3 and 4 degrades recall
   *     only (vectors sit in lists of the new centroids while probes
   *     rank the old) — re-running maintenance heals forward.
   *
   * Non-drifted lists are untouched: their partitions are neither
   * read, rewritten, nor retired (spec-pinned). Single-writer
   * contract: serialize with appends. Returns the audit report
   * (list_id, n_members, drift, retrained) — drift is NULL for an
   * empty list (nothing to compare), which never retrains.
   */
  def maintainLists(
      spark: SparkSession, dir: String, driftThreshold: Double): DataFrame =
    Commits.withClaim(spark, dir) {
    ensureLive(spark, dir)
    val m = meta(spark, dir)
    val live = liveLists(spark, dir, m)
    val meanArr = live
      .select(col("list_id"), posexplode(col(m.vecCol)).as(Seq("__d", "__v")))
      .groupBy(col("list_id"), col("__d"))
      .agg(round(avg(col("__v").cast("double")), 6).as("__m"))
      .groupBy(col("list_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("__d"), col("__m")))),
        x => x.getField("__m")).as("__mean"))
    val counts = live.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_members"))
    val drift = round(
      greatest(lit(0.0), // float guard: true cosine ≤ 1, rounding can graze it
        lit(1.0) - Similarity.cosineFast(spark, col("cemb"), col("__mean"))), 6)
    val report = centroids(spark, dir)
      .select(col("cid").as("list_id"), col("cemb"))
      .join(meanArr, Seq("list_id"), "left")
      .join(counts, Seq("list_id"), "left")
      .select(
        col("list_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        when(col("__mean").isNull, lit(null).cast("double"))
          .otherwise(drift).as("drift"),
        col("__mean"))
      .withColumn("retrained",
        coalesce(col("drift") > driftThreshold, lit(false)))
      .localCheckpoint() // nlist rows; sever from the dirs swapped below
    val drifted = report.filter(col("retrained"))
      .select(col("list_id"), col("__mean"))
      .collect() // ≤ nlist rows — the Clustering.train driver footprint
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    if (drifted.nonEmpty) {
      val newCents = centroids(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
        .map { case (cid, c) => cid -> drifted.getOrElse(cid, c) }
        .sortBy(_._1)
      val driftedIds = drifted.keys.toSeq.sorted
      val affected = live
        .filter(col("list_id").isin(driftedIds: _*)) // partition-pruned
        .select(col(m.idCol), col(m.vecCol))
      val data = Clustering.assign(affected, m.idCol, m.vecCol, newCents)
        .select(col(m.idCol), col(m.vecCol), col("cluster").as("list_id"))
        .localCheckpoint() // sever from a same-tag dir being overwritten
      // "m" namespace: a maintenance tag must never collide with (and
      // overwrite) the APPEND batch of the same vector set. Tagged from
      // the materialized `data` (the ids of `affected`, one row each),
      // so the drifted lists are not scanned a second time
      val tag = "m" + Commits.batchTag(data, m.idCol)
      writeBatch(data, listsPath(dir), tag, spark,
        retire = liveTags(spark, listsDirs(dir).live).filterNot(_ == tag)
          .map(t => t -> driftedIds))
      swapCentroids(spark, dir, newCents)
    }
    report.drop("__mean")
    }
}
