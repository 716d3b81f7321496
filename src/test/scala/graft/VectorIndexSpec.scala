package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VectorIndex
import graft.ops.Similarity

class VectorIndexSpec extends AnyFunSuite {
  import TestSpark.spark

  import spark.implicits._

  private val emb = TestSpark.table("embeddings")

  test("build → meta round-trips the index identity; missing index fails cleanly") {
    val dir = TestSpark.tmpDir("vecidx_meta")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    assert(VectorIndex.meta(spark, dir) ==
      VectorIndex.Meta("vec_id", "embedding", 64, 8, 2,
        emb.select("vec_id", "embedding").schema.toDDL))
    val err = intercept[IllegalArgumentException] {
      VectorIndex.meta(spark, TestSpark.tmpDir("vecidx_empty"))
    }
    assert(err.getMessage.contains("no vector index"))
  }

  test("probe == the in-memory trained-IVF pipeline through the storage round-trip") {
    val dir = TestSpark.tmpDir("vecidx_probe")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val q = emb.filter($"vec_id" === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = rows(VectorIndex.probe(q, dir, k = 10, nprobe = 2))
    val direct = rows(Similarity.ivfTopKTrained(
      emb, q, "vec_id", "embedding", k = 10, nlist = 8, nprobe = 2, iters = 2))
    assert(viaIndex == direct)
    assert(viaIndex.size == 10)
  }

  test("probe scans ONLY the nprobe winning list directories (static partition pruning)") {
    val dir = TestSpark.tmpDir("vecidx_prune")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val probe = VectorIndex.probe(emb.filter($"vec_id" === 0), dir, k = 5, nprobe = 2)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("lists")).getOrElse("")
    // the list_id IN-filter must land in PartitionFilters (planning-time
    // directory pruning), NOT in the post-scan DataFilters
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    val df = "DataFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(pf.contains("list_id"), s"expected list_id in PartitionFilters:\n$scan")
    assert(!df.contains("list_id"), s"list_id leaked into DataFilters:\n$scan")
  }

  test("delete: probe == the full probe minus forgotten ids (quantizer untouched)") {
    val dir = TestSpark.tmpDir("vecidx_forget")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val q = emb.filter($"vec_id" === 3)
    val full = VectorIndex.probe(q, dir, k = 1000000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    VectorIndex.delete(
      emb.filter($"vec_id" % 7 === 0).select("vec_id"), dir)
    val after = VectorIndex.probe(q, dir, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // same centroids ⇒ same probed lists ⇒ the scored set just shrank
    assert(after.toSeq == full.filter(_._1 % 7 != 0).take(10).toSeq)
    assert(after.forall(_._1 % 7 != 0))
    // meta (and dims validation) survives the rewrite
    assert(VectorIndex.meta(spark, dir).dims == 64)
  }

  test("dims validation: malformed batches and queries fail loudly") {
    val dir = TestSpark.tmpDir("vecidx_dims")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val short = Seq((777L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val appendErr = intercept[IllegalArgumentException] {
      VectorIndex.append(short, dir)
    }
    assert(appendErr.getMessage.contains("width != index dims"))
    val probeErr = intercept[IllegalArgumentException] {
      VectorIndex.probe(short, dir, k = 5, nprobe = 2)
    }
    assert(probeErr.getMessage.contains("width != index dims"))
  }

  test("append: a new vector enters its list and becomes findable") {
    val dir = TestSpark.tmpDir("vecidx_append")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    // a verbatim copy of vector 0 under a fresh id: lands in the same
    // list, ties vector 0 at cosine 1.0
    val clone = emb.filter($"vec_id" === 0)
      .select(lit(900000L).as("vec_id"), $"embedding")
    VectorIndex.append(clone, dir)
    val top = VectorIndex.probe(emb.filter($"vec_id" === 0), dir, k = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.toSeq == Seq((0L, 1.0), (900000L, 1.0)),
      s"appended clone must rank beside the original, got ${top.toSeq}")
  }

  test("append is idempotent: a retried batch overwrites itself, never double-inserts") {
    val dir = TestSpark.tmpDir("vecidx_retry")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val batch = emb.filter($"vec_id" === 0)
      .select(lit(900001L).as("vec_id"), $"embedding")
    VectorIndex.append(batch, dir) // first drain
    VectorIndex.append(batch, dir) // replayed drain (same delta, same tag)
    val hits = VectorIndex.probe(emb.filter($"vec_id" === 0), dir,
        k = 1000000, nprobe = 1)
      .filter($"vec_id" === 900001L).count()
    assert(hits == 1L, s"retried append must not duplicate the vector, got $hits rows")
  }

  test("a duplicated id stores one row per given row in build and append") {
    val dir = TestSpark.tmpDir("vecidx_dup_ids")
    val base = emb.filter($"vec_id" < 40).select("vec_id", "embedding")
    // id 5 twice, the second copy carrying another vector (so it may
    // land in another list)
    val corpus = base.unionByName(emb.filter($"vec_id" === 39)
      .select(lit(5L).as("vec_id"), $"embedding"))
    VectorIndex.build(corpus, "vec_id", "embedding", dir, nlist = 4, iters = 2)
    assert(VectorIndex.storedIds(spark, dir).count() == 41)
    assert(VectorIndex.storedIds(spark, dir).filter($"vec_id" === 5).count() == 2)

    val vecs = emb.filter($"vec_id".isin(0, 20, 39)).orderBy("vec_id")
      .select("embedding").as[Seq[Float]].collect()
    VectorIndex.append(Seq((100L, vecs(0)), (100L, vecs(1)), (101L, vecs(2)))
      .toDF("vec_id", "embedding"), dir)
    val stored = VectorIndex.storedIds(spark, dir)
    assert(stored.count() == 44)
    assert(stored.filter($"vec_id" === 100L).count() == 2)
    // a probe by the first copy finds id 100 once at cosine 1.0
    val hits = VectorIndex.probeBatch(Seq((1L, vecs(0))).toDF("qid", "embedding"),
        "qid", dir, k = 3, nprobe = 4)
      .filter($"vec_id" === 100L).collect()
    assert(hits.length == 1 && hits.head.getDouble(3) == 1.0, hits.toSeq)
  }

  test("single-query contract: a multi-row queryDf is rejected, not silently interleaved") {
    val dir = TestSpark.tmpDir("vecidx_guard")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val err = intercept[IllegalArgumentException] {
      VectorIndex.probe(emb.filter($"vec_id" < 2), dir, k = 5, nprobe = 2)
    }
    assert(err.getMessage.contains("probeBatch"))
  }

  test("probeBatch == one probe per query, in one job") {
    val dir = TestSpark.tmpDir("vecidx_batch")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val got = VectorIndex.probeBatch(
        emb.filter($"vec_id" < 3), "vec_id", dir, k = 10, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))
    val expected = (0L until 3L).flatMap { qid =>
      VectorIndex.probe(emb.filter($"vec_id" === qid), dir, k = 10, nprobe = 2)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1)) }
    }
    assert(got.toSeq == expected)
  }

  test("build runs no job of its own to reject an empty corpus") {
    // training's seed collect finds an empty corpus; no separate isEmpty job
    val (_, jobs) = TestSpark.jobsOf {
      VectorIndex.build(emb, "vec_id", "embedding", TestSpark.tmpDir("vecidx_build_jobs"),
        nlist = 8, iters = 2)
    }
    // 8 with a standalone isEmpty check ahead of training
    assert(jobs == 7, s"build ran $jobs jobs")
  }

  test("probeBatch runs in at most 6 jobs; building the centroids or lists frame runs none") {
    val dir = TestSpark.tmpDir("vecidx_jobs")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    VectorIndex.append(emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 900000L).as("vec_id"), $"embedding"), dir)
    val (_, frameJobs) = TestSpark.jobsOf {
      (VectorIndex.centroids(spark, dir), VectorIndex.storedIds(spark, dir))
    }
    assert(frameJobs == 0, s"reading with the stored schemas must infer nothing")
    val qs = emb.filter($"vec_id" < 32)
    val (rows, probeJobs) = TestSpark.jobsOf {
      VectorIndex.probeBatch(qs, "vec_id", dir, k = 10, nprobe = 2).collect()
    }
    assert(rows.length == 32 * 10)
    assert(probeJobs <= 6, s"probeBatch + collect ran $probeJobs jobs")
  }

  test("probeBatch, probeThreshold, probeFilteredBatch: malformed queries fail loudly") {
    val dir = TestSpark.tmpDir("vecidx_dims_batch")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val good = emb.filter($"vec_id" < 3).select("vec_id", "embedding")
    val short = good.unionByName(
      Seq((777L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding"))
    val nul = good.unionByName(
      Seq(778L).toDF("vec_id").withColumn("embedding", lit(null).cast("array<float>")))
    for ((bad, what) <- Seq((short, "short"), (nul, "null"))) {
      val calls: Seq[(String, () => Any)] = Seq(
        "probeBatch" -> (() => VectorIndex.probeBatch(bad, "vec_id", dir, k = 5, nprobe = 2)),
        "probeThreshold" -> (() =>
          VectorIndex.probeThreshold(bad, "vec_id", dir, minCosine = 0.5, nprobe = 2)),
        "probeFilteredBatch" -> (() => VectorIndex.probeFilteredBatch(
          bad, "vec_id", dir, $"vec_id" % 2 === 0, k = 5, nprobe = 2)))
      for ((name, call) <- calls) {
        val err = intercept[IllegalArgumentException](call())
        assert(err.getMessage.contains("width != index dims"), s"$name, $what query: $err")
      }
    }
  }

  test("a null vector is malformed: append and probeBatch reject it") {
    val dir = TestSpark.tmpDir("vecidx_null_vec")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val nul = Seq(900002L).toDF("vec_id")
      .withColumn("embedding", lit(null).cast("array<float>"))
    val appendErr = intercept[IllegalArgumentException](VectorIndex.append(nul, dir))
    assert(appendErr.getMessage.contains("width != index dims"))
    assert(VectorIndex.storedIds(spark, dir).filter($"vec_id" === 900002L).isEmpty)
    val probeErr = intercept[IllegalArgumentException] {
      VectorIndex.probeBatch(nul, "vec_id", dir, k = 5, nprobe = 2)
    }
    assert(probeErr.getMessage.contains("width != index dims"))
    val oneErr = intercept[IllegalArgumentException] {
      VectorIndex.probe(nul, dir, k = 5, nprobe = 2)
    }
    assert(oneErr.getMessage.contains("width != index dims"))
  }

  /** Every claim-free read inside a crashed swap window of `name`
    * (`lists` or `centroids`) answers as before the crash and leaves
    * the window untouched; the next writer heals it. */
  private def crashWindowReads(name: String): Unit = {
    val dir = TestSpark.tmpDir(s"vecidx_read_resolve_$name")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val qs = emb.filter($"vec_id" < 3)
    def reads() = (
      VectorIndex.storedIds(spark, dir).as[Long].collect().sorted.toSeq,
      VectorIndex.centroids(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap,
      VectorIndex.probe(emb.filter($"vec_id" === 0), dir, k = 5, nprobe = 2)
        .collect().toSeq,
      VectorIndex.probeBatch(qs, "vec_id", dir, k = 5, nprobe = 2)
        .collect().toSet,
      VectorIndex.probeThreshold(qs, "vec_id", dir, minCosine = 0.5, nprobe = 2)
        .collect().toSet,
      VectorIndex.probeFilteredBatch(qs, "vec_id", dir, $"vec_id" % 2 === 0,
        k = 5, nprobe = 2).collect().toSet)
    val before = reads()
    val d = TestSpark.crashSwap(dir, name, "staging")
    assert(reads() == before, s"reads must answer from ${name}_prev")
    assert(TestSpark.swapState(d) == ((false, true, true)),
      "a read must not rename the store or delete the staged rewrite")
    // the next WRITER heals the window, then appends
    VectorIndex.append(Seq(900001L).toDF("vec_id")
      .crossJoin(emb.filter($"vec_id" === 0).select("embedding")), dir)
    assert(TestSpark.swapState(d) == ((true, false, false)))
    assert(VectorIndex.storedIds(spark, dir).as[Long].collect().sorted.toSeq ==
      (before._1 :+ 900001L).sorted)
  }

  test("reads resolve a crashed lists rewrite WITHOUT mutating the store") {
    crashWindowReads("lists")
  }

  test("reads resolve a crashed centroids swap WITHOUT mutating the store") {
    crashWindowReads("centroids")
  }

  test("deleting every vector leaves a valid empty index; appends revive it") {
    val dir = TestSpark.tmpDir("vecidx_empty_all")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    VectorIndex.delete(emb.select("vec_id"), dir)
    val q = emb.filter($"vec_id" === 0)
    assert(VectorIndex.probe(q, dir, k = 10, nprobe = 2).count() == 0L)
    // the frozen quantizer still accepts new batches
    VectorIndex.append(q, dir)
    assert(VectorIndex.probe(q, dir, k = 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("delete dedupes the takedown request; build rejects an empty corpus") {
    val dir = TestSpark.tmpDir("vecidx_del_dup")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    // the same id twice in one request must behave as once
    VectorIndex.delete(Seq(3L, 3L).toDF("vec_id"), dir)
    val left = VectorIndex.probe(emb.filter($"vec_id" === 3), dir,
      k = 1000000, nprobe = 8)
    assert(left.filter($"vec_id" === 3L).count() == 0L)
    val err = intercept[IllegalArgumentException] {
      VectorIndex.build(emb.limit(0), "vec_id", "embedding",
        TestSpark.tmpDir("vecidx_build_empty"), nlist = 8, iters = 2)
    }
    assert(err.getMessage.contains("empty corpus"))
  }

  test("probeThreshold returns ALL matches >= t (no top-k truncation); incremental dedup reasons") {
    val dir = TestSpark.tmpDir("vecidx_thresh")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val q = emb.filter($"vec_id" === 0)
    // every threshold match must appear even when k=1 would truncate:
    // compare against the exhaustive probe at huge k
    val viaK = VectorIndex.probe(q, dir, k = 1000000, nprobe = 2)
      .filter($"cosine_sim" >= 0.1)
      .as[(Long, Double)].collect().toSet
    val viaT = VectorIndex
      .probeThreshold(q.withColumn("qid", $"vec_id"), "qid", dir, 0.1, nprobe = 2)
      .select($"vec_id", $"cosine_sim").as[(Long, Double)].collect().toSet
    assert(viaT == viaK && viaT.nonEmpty)
    // incremental dedup: corpus-dup wins over batch-dup; novel keeps
    def unit(axis: Int, eps: Double): Array[Float] = {
      val v = Array.fill(4)(eps.toFloat); v(axis) = 1.0f; v
    }
    val corpus = Seq((1L, unit(0, 0.0)), (2L, unit(1, 0.0)), (3L, unit(1, 0.002)))
      .toDF("vec_id", "embedding")
    val cdir = TestSpark.tmpDir("vecidx_inc")
    VectorIndex.build(corpus, "vec_id", "embedding", cdir, nlist = 2, iters = 2)
    val batch = Seq(
      (10L, unit(0, 0.001)), // near-copy of corpus 1 → 'corpus'
      (20L, unit(2, 0.0)), // novel axis → keep
      (21L, unit(2, 0.001)) // near-copy of batch 20 → 'batch'
    ).toDF("vec_id", "embedding")
    val got = Similarity.incrementalSemanticDedup(
        batch, "vec_id", "embedding", cdir, threshold = 0.9, nprobe = 2)
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10L) == ((Some("corpus"), false)))
    assert(got(20L) == ((None, true)))
    assert(got(21L) == ((Some("batch"), false)))
    // a batch whose embedding column name differs from the index's
    // stored vecCol must probe the SAME vectors (the op aligns the
    // caller's column to the index meta before the probe)
    val renamed = Similarity.incrementalSemanticDedup(
        batch.withColumnRenamed("embedding", "day_emb"),
        "vec_id", "day_emb", cdir, threshold = 0.9, nprobe = 2)
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(renamed == got, "decisions must not depend on the batch's column name")
  }

  test("append of an empty batch runs one job and leaves the lists dir unchanged") {
    val dir = TestSpark.tmpDir("vecidx_append_empty")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    def listed() = {
      val root = java.nio.file.Paths.get(dir, "lists")
      val walk = java.nio.file.Files.walk(root)
      try walk.toArray.map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
        .sorted.toSeq
      finally walk.close()
    }
    val before = listed()
    val (_, jobs) = TestSpark.jobsOf(VectorIndex.append(emb.limit(0), dir))
    // the shape aggregate is the emptiness test: no dims check, tag or
    // centroid collect of its own
    assert(jobs == 1, s"empty append ran $jobs jobs")
    assert(listed() == before, "an empty append must write no batch")
    assert(VectorIndex.storedIds(spark, dir).count() == emb.count())
  }

  test("incrementalSemanticDedup == the distinct-then-left-join formulation, in schema and rows") {
    def unit(axis: Int, eps: Double): Array[Float] = {
      val v = Array.fill(4)(eps.toFloat); v(axis) = 1.0f; v
    }
    val dir = TestSpark.tmpDir("vecidx_inc_grouped")
    VectorIndex.build(Seq((1L, unit(0, 0.0)), (2L, unit(1, 0.0)), (3L, unit(1, 0.002)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", dir, nlist = 2, iters = 2)
    // the formulation before the grouped pass: one distinct per flag,
    // each left-joined back onto the batch ids
    def twoJoins(batch: org.apache.spark.sql.DataFrame) = {
      val corpusDups = VectorIndex
        .probeThreshold(batch, "vec_id", dir, 0.9, nprobe = 2)
        .select($"query_id".as("vec_id")).distinct()
        .withColumn("__corpus", lit(true))
      val lo = batch.select($"vec_id".as("__lo"), $"embedding".as("__elo"))
      val hi = batch.select($"vec_id".as("__hi"), $"embedding".as("__ehi"))
      val batchDups = lo.crossJoin(hi)
        .filter($"__lo" < $"__hi")
        .filter(Similarity.cosineFast(spark, $"__elo", $"__ehi") >= 0.9)
        .select($"__hi".as("vec_id")).distinct()
        .withColumn("__batch", lit(true))
      batch.select($"vec_id")
        .join(corpusDups, Seq("vec_id"), "left")
        .join(batchDups, Seq("vec_id"), "left")
        .select($"vec_id",
          when($"__corpus", lit("corpus"))
            .when($"__batch", lit("batch"))
            .otherwise(lit(null).cast("string")).as("reason"),
          ($"__corpus".isNull && $"__batch".isNull).as("keep"))
    }
    val batch = Seq[(Option[Long], Array[Float])](
      (Some(10L), unit(0, 0.001)), // corpus dup of 1
      (Some(10L), unit(0, 0.001)), // the same id again
      (Some(11L), unit(0, 0.002)), // corpus dup of 1 AND batch dup of 10
      (Some(20L), unit(2, 0.0)), // novel; id 20 also carries ...
      (Some(20L), unit(3, 0.0)), // ... a second, different vector
      (Some(21L), unit(2, 0.001)), // batch dup of 20
      (Some(31L), unit(2, 0.0015)), // batch dup of 20 and of 21
      (Some(32L), unit(3, 0.001)), // batch dup of 20's second vector
      (None, unit(2, 0.0005)) // a null id is never a hit
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (b <- Seq(batch, batch.limit(0))) {
      val got = Similarity.incrementalSemanticDedup(
        b, "vec_id", "embedding", dir, threshold = 0.9, nprobe = 2)
      val old = twoJoins(b)
      assert(got.schema == old.schema)
      assert(!got.schema("keep").nullable)
      assert(rows(got) == rows(old))
    }
    assert(rows(Similarity.incrementalSemanticDedup(
      batch, "vec_id", "embedding", dir, threshold = 0.9, nprobe = 2)) == Seq(
      "[10,corpus,false]", "[10,corpus,false]", "[11,corpus,false]",
      "[20,null,true]", "[20,null,true]", "[21,batch,false]",
      "[31,batch,false]", "[32,batch,false]", "[null,null,true]"))
  }

  test("probeFilteredBatch: per-query nprobe ladder, nlist-cap terminal rung, thin flags") {
    val dir = TestSpark.tmpDir("vecidx_filtered")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val pred = $"vec_id" % 10 === 7
    val qs = emb.filter($"vec_id" < 3)
    val got = VectorIndex.probeFilteredBatch(qs, "vec_id", dir, pred,
        k = 10, nprobe = 2, escalations = 1, growth = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    // replay each query's ladder through the public probe: rung 0 =
    // every candidate of its top-2 lists (huge k), rung 1 = 2·4 ≥
    // nlist → ALL lists (the exact regime)
    def rung(q: Long, nprobe: Int) = VectorIndex
      .probeBatch(qs.filter($"vec_id" === q), "vec_id", dir,
        k = 1000000, nprobe = nprobe)
      .filter(pred)
      .select($"query_id", $"vec_id", $"cosine_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (-t._3, t._2))
    val expect = Seq(0L, 1L, 2L).flatMap { q =>
      val r0 = rung(q, 2)
      val sel = if (r0.size >= 10) r0 else rung(q, 8)
      sel.take(10).zipWithIndex.map { case ((qq, id, sim), i) =>
        (qq, (i + 1).toLong, id, sim, sel.size < 10)
      }
    }.toSet
    assert(got.toSet == expect, "batch ladder must equal per-query replays")
    // a store holding fewer than k matches: the nlist cap makes the
    // final rung exact, so thin_result is TRUE and the rows are the
    // complete match set — never a silent short list
    val one = VectorIndex.probeFilteredBatch(qs.filter($"vec_id" === 0),
        "vec_id", dir, $"vec_id" === 7L, k = 10, nprobe = 1,
        escalations = 99, growth = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(one.toSeq == Seq((1L, 7L, true)),
      "single true match: rank 1, thin flagged, ladder stops at nlist")
    // zero matches anywhere: the ladder must TERMINATE at the cap with
    // no rows (the row-count-is-the-signal contract), not spin 99 rungs
    assert(VectorIndex.probeFilteredBatch(qs, "vec_id", dir,
      $"vec_id" === -1L, k = 5, nprobe = 1, escalations = 99,
      growth = 2).isEmpty)
  }

  test("maintainLists: drift audit, list-local retrain, non-drifted lists untouched") {
    val dir = TestSpark.tmpDir("vecidx_maintain")
    // build: seeds [1,0] (cid 0) and [0,1] (cid 1); members sit exactly
    // on the seeds, so trained centroids stay [1,0]/[0,1]
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    VectorIndex.build(corpus, "vec_id", "embedding", dir, nlist = 2, iters = 2)
    // append [1,1]×2: cos to both centroids = 0.707107 → tie → list 0.
    // list 0 mean becomes [1.0, 0.5]:
    //   drift_0 = 1 − cos([1,0],[1,0.5]) = 1 − round(1/√1.25, 6) = 0.105573
    // list 1 stays exactly on its centroid: drift_1 = 0
    VectorIndex.append(
      Seq((10L, Array(1.0f, 1.0f)), (11L, Array(1.0f, 1.0f)))
        .toDF("vec_id", "embedding"), dir)
    val lists = new java.io.File(s"$dir/lists")
    val baseList1 = new java.io.File(lists, "batch=__base__/list_id=1")
    val baseList1Before = baseList1.listFiles().map(_.getName).toSet
    val dirsBefore = lists.listFiles().map(_.getName).toSet

    val report = VectorIndex.maintainLists(spark, dir, driftThreshold = 0.05)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))))
      .toMap
    assert(report(0L) == ((4L, Some(0.105573), true)))
    assert(report(1L) == ((2L, Some(0.0), false)))

    // quantizer: drifted centroid moved to the member mean, other untouched
    val cents = VectorIndex.centroids(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(cents(0L) == Seq(1.0, 0.5) && cents(1L) == Seq(0.0, 1.0))

    // corpus intact: every id stored exactly once (retirements hide the
    // superseded copies; nothing lost, nothing duplicated)
    val stored = VectorIndex.storedIds(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(stored == Seq(0L, 1L, 2L, 3L, 10L, 11L))

    // NON-DRIFTED lists are physically untouched: list 1's base
    // partition still holds exactly its original files, and the only
    // new store entry is the maintenance batch
    assert(baseList1.listFiles().map(_.getName).toSet == baseList1Before)
    val newDirs = lists.listFiles().map(_.getName).toSet -- dirsBefore
    assert(newDirs.size == 1 && newDirs.head.startsWith("batch=m"),
      s"expected exactly one maintenance batch, got $newDirs")
    // and its retire spec names only the drifted list
    val retire = new java.io.File(lists, s"${newDirs.head}/_graft_retire")
    val spec = new String(java.nio.file.Files.readAllBytes(retire.toPath), "UTF-8")
    assert(spec.split("\n").forall(_.endsWith(":0")), s"retire spec: $spec")

    // probe ranks by the UPDATED quantizer: query [1,1] now prefers the
    // moved centroid's list and surfaces its members
    val got = VectorIndex.probe(
        Seq((99L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding"),
        dir, k = 2, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L))

    // idempotent steady state: centroid now equals the member mean, so a
    // second maintain retrains nothing and writes nothing
    val dirsAfter = lists.listFiles().map(_.getName).toSet
    val again = VectorIndex.maintainLists(spark, dir, driftThreshold = 0.05)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(again == Map(0L -> false, 1L -> false))
    assert(lists.listFiles().map(_.getName).toSet == dirsAfter)

    // compact folds the retirements away: one base batch, answers intact
    VectorIndex.compact(spark, dir)
    assert(VectorIndex.storedIds(spark, dir).count() == 6)
    assert(lists.listFiles().map(_.getName).toSet == Set("batch=__base__"))

    // crash recovery of the quantizer swap window: live retired, staging
    // lost → the next reader restores the previous centroids
    val f = new java.io.File(s"$dir/centroids")
    assert(f.renameTo(new java.io.File(s"$dir/centroids_prev")))
    assert(VectorIndex.centroids(spark, dir)
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L))
  }
}
