package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Commits, GraphIndex}
import graft.ops.Nsw

/**
 * The durable navigation-graph index: build/search equivalence with
 * the in-memory walk, search-then-link drains (visibility, degree
 * bound, replay heal), the orphan-generation crash contract, and
 * merge-on-read compaction.
 */
class GraphIndexSpec extends AnyFunSuite {
  import TestSpark.spark

  private val emb = TestSpark.table("embeddings")

  private def buildAt(dir: String, corpus: org.apache.spark.sql.DataFrame): Unit =
    GraphIndex.build(corpus, "vec_id", "embedding", dir,
      dims = 64, k = 8, planesPerBand = 4, bands = 4, maxBucketSize = 1000,
      nEntries = 4, beamWidth = 16, maxSteps = 10)

  test("build + search ≡ the in-memory knnGraph walk, exactly") {
    val dir = TestSpark.tmpDir("graph_index_eq") + "/idx"
    buildAt(dir, emb)
    val q0 = emb.filter(col("vec_id") === 0)
    val durable = GraphIndex.search(spark, dir, emb, q0, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val g = Nsw.knnGraph(emb, "vec_id", "embedding",
      planesPerBand = 4, bands = 4, dims = 64, k = 8,
      minCosine = -1.0, maxBucketSize = 1000)
    val inMemory = Nsw.graphSearch(
        emb, "vec_id", "embedding", q0, g, k = 10,
        nEntries = 4, beamWidth = 16, maxSteps = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(durable == inMemory,
      "the stored graph must reproduce the in-memory walk verbatim")
    // the stored adjacency carries the degree bound
    val overK = GraphIndex.edges(spark, dir)
      .groupBy("id").count().filter(col("count") > 8).count()
    assert(overK == 0, "build must bound every adjacency list at k")
  }

  test("filteredSearchBatch: durable ladder == the in-memory ladder at the build geometry") {
    val dir = TestSpark.tmpDir("graph_index_filtered") + "/idx"
    buildAt(dir, emb)
    val pred = col("vec_id") % 10 === 7
    val queries = emb.filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val entries = Nsw.strideEntries(emb, "vec_id", 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val viaStore = rows(GraphIndex.filteredSearchBatch(
      spark, dir, emb, queries, "query_id", pred, k = 10,
      entries = entries, overFetch = 2, escalations = 1, growth = 4))
    // the stored walk must honor the COMMITTED geometry (meta), not
    // defaults — replay with the meta values against the MoR edges
    val m = GraphIndex.meta(spark, dir)
    assert((m.nEntries, m.beamWidth, m.maxSteps) == ((4, 16, 10)))
    val direct = rows(graft.ops.GraphNav.filteredSearchBatch(
      emb, "vec_id", "embedding", queries, "query_id",
      GraphIndex.edges(spark, dir), pred, k = 10,
      m.nEntries, m.beamWidth, m.maxSteps, entries,
      overFetch = 2, escalations = 1, growth = 4))
    assert(viaStore == direct && viaStore.nonEmpty,
      "published-store ladder must reproduce the in-memory escalation")
  }

  test("ingestBatch: search-then-link visibility, degree bound, replay no-op") {
    val dir = TestSpark.tmpDir("graph_index_ingest") + "/idx"
    val batchIds = Seq(0L, 10L, 20L)
    val standing = emb.filter(!col("vec_id").isin(batchIds: _*))
    val batch = emb.filter(col("vec_id").isin(batchIds: _*))
    buildAt(dir, standing)
    val preIds = GraphIndex.storedIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.forall(i => !preIds.contains(i)))

    assert(GraphIndex.ingestBatch(spark, dir, emb, batch) == 3L)
    val postIds = GraphIndex.storedIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.forall(postIds.contains), "inserted ids join the ledger")

    // an inserted vector is FINDABLE: searching its own embedding must
    // return it at rank 1 with cosine 1.0 (entries include id 0 now)
    batchIds.foreach { i =>
      val top = GraphIndex.search(spark, dir, emb,
          emb.filter(col("vec_id") === i), k = 3)
        .collect().head
      assert(top.getLong(0) == i && top.getDouble(1) == 1.0,
        s"inserted vector $i must be reachable from the merged graph")
    }

    // degree bound survives the merge: no adjacency list exceeds k
    val overK = GraphIndex.edges(spark, dir)
      .groupBy("id").count().filter(col("count") > 8).count()
    assert(overK == 0, "degree pruning must re-bound touched nodes at k")
    // back-links exist: some standing node now points at an inserted id
    val backLinks = GraphIndex.edges(spark, dir)
      .filter(col("nbr").isin(batchIds: _*) && !col("id").isin(batchIds: _*))
      .count()
    assert(backLinks > 0, "standing nodes must link back to inserted vectors")

    // replaying the same batch heals to a no-op (ledger anti-join)
    val ledgerV = Commits.readVersioned(spark, s"$dir/ledger").get._1
    assert(GraphIndex.ingestBatch(spark, dir, emb, batch) == 0L)
    assert(Commits.readVersioned(spark, s"$dir/ledger").get._1 == ledgerV,
      "a replayed batch must not commit a new ledger version")
  }

  test("crash contract: orphan generation invisible, never reused; claim serializes") {
    val dir = TestSpark.tmpDir("graph_index_crash") + "/idx"
    val standing = emb.filter(col("vec_id") =!= 0)
    buildAt(dir, standing)
    val before = GraphIndex.edges(spark, dir).count()

    // simulate a drain that crashed AFTER the adjacency write but
    // BEFORE the ledger CAS: an orphan gen=1 directory appears
    import spark.implicits._
    Seq((999999L, 1L, 123L)).toDF("id", "nbr", "cos_micro")
      .withColumn("gen", lit(1))
      .write.mode("append").partitionBy("gen").parquet(s"$dir/adj")
    assert(GraphIndex.edges(spark, dir).count() == before,
      "an orphan generation must stay invisible to readers")

    // the next successful drain skips the orphan's number (gen >= 2)
    assert(GraphIndex.ingestBatch(spark, dir, emb,
      emb.filter(col("vec_id") === 0)) == 1L)
    val liveGens = Commits.readVersioned(spark, s"$dir/ledger").get._2
      .select("gen").distinct().collect().map(_.getInt(0)).toSet
    assert(!liveGens.contains(1),
      s"a crashed drain's generation number must never become live (got $liveGens)")
    assert(GraphIndex.edges(spark, dir)
      .filter(col("id") === 999999L).count() == 0)

    // a held claim makes a concurrent drain fail visibly
    Commits.acquireClaim(spark, dir)
    intercept[Commits.ConcurrentWriteException] {
      GraphIndex.ingestBatch(spark, dir, emb, emb.filter(col("vec_id") === 0))
    }
    Commits.forceReleaseClaim(spark, dir)
  }

  test("compact: one live generation, identical adjacency, dead dirs pruned") {
    val dir = TestSpark.tmpDir("graph_index_compact") + "/idx"
    val standing = emb.filter(!col("vec_id").isin(0L, 10L))
    buildAt(dir, standing)
    GraphIndex.ingestBatch(spark, dir,
      emb.filter(col("vec_id") =!= 10L), emb.filter(col("vec_id") === 0))
    GraphIndex.ingestBatch(spark, dir, emb, emb.filter(col("vec_id") === 10))
    val before = GraphIndex.edges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(GraphIndex.compact(spark, dir) >= 2,
      "compaction must prune the superseded generations")
    val after = GraphIndex.edges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before, "compaction must not change the live adjacency")
    val fs = new Path(s"$dir/adj")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new Path(s"$dir/adj"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("gen="))
    assert(gens.length == 1, s"expected one live generation, got ${gens.toSeq}")
  }

  test("delete: incident edges drop, owners-only rewrite, forgotten ids never surface") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graph_index_forget") + "/idx"
    buildAt(dir, emb)
    val delIds = Seq(1L, 11L, 21L)
    val before = GraphIndex.edges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(before.exists(e => delIds.contains(e._1) || delIds.contains(e._2)),
      "fixture must actually have edges incident to the deleted ids")

    assert(GraphIndex.delete(spark, dir, Seq(1L, 11L, 21L, 999999L).toDF("vec_id")) == 3L,
      "unknown ids must not count as removed")
    val after = GraphIndex.edges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // spec-pinned equivalence: EXACTLY the edges not incident to a
    // deleted id survive, values untouched
    assert(after == before.filterNot(e =>
      delIds.contains(e._1) || delIds.contains(e._2)))
    val ids = GraphIndex.storedIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(delIds.forall(i => !ids.contains(i)))

    // probes over the surviving corpus never surface a forgotten id
    val survivors = emb.filter(!col("vec_id").isin(delIds: _*))
    val got = GraphIndex.search(spark, dir, survivors,
        emb.filter(col("vec_id") === 0), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert((got & delIds.toSet).isEmpty && got.nonEmpty)

    // re-deleting is a no-op (version does not advance)
    val v = Commits.readVersioned(spark, s"$dir/ledger").get._1
    assert(GraphIndex.delete(spark, dir, Seq(1L, 11L).toDF("vec_id")) == 0L)
    assert(Commits.readVersioned(spark, s"$dir/ledger").get._1 == v)

    // compaction PHYSICALLY reclaims the forgotten lists: after the
    // rewrite, no adjacency row for a deleted id remains on disk
    GraphIndex.compact(spark, dir)
    val onDisk = spark.read.parquet(s"$dir/adj")
      .filter(col("id").isin(delIds: _*) || col("nbr").isin(delIds: _*))
      .count()
    assert(onDisk == 0, "compact must reclaim forgotten adjacency bytes")
    assert(GraphIndex.edges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == after, "compaction must not change the live adjacency")
  }

  test("a build without its meta commit is unreadable (meta-last contract)") {
    val dir = TestSpark.tmpDir("graph_index_meta") + "/idx"
    buildAt(dir, emb)
    val metaP = new Path(dir, "_graft_index.json")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaP, false)
    val e = intercept[IllegalArgumentException] {
      GraphIndex.search(spark, dir, emb, emb.filter(col("vec_id") === 0), 5)
    }
    assert(e.getMessage.contains("no graph index"))
  }

  test("diversified (α-RNG) store: policy in meta, occlusion invariant survives drains") {
    val dir = TestSpark.tmpDir("graph_index_alpha") + "/idx"
    val batchIds = Seq(0L, 10L, 20L)
    val standing = emb.filter(!col("vec_id").isin(batchIds: _*))
    GraphIndex.build(standing, "vec_id", "embedding", dir,
      dims = 64, k = 8, planesPerBand = 4, bands = 4, maxBucketSize = 1000,
      nEntries = 4, beamWidth = 16, maxSteps = 10,
      candidateK = 12, alphaNum = 12, alphaDen = 10)
    // the α policy is the store's identity
    val m = GraphIndex.meta(spark, dir)
    assert((m.candidateK, m.alphaNum, m.alphaDen) == (12, 12, 10))

    // stored adjacency ≡ the in-memory α-pruned graph (build parity)
    val expected = graft.ops.GraphNav.alphaPrunedGraph(
        Nsw.knnGraph(standing, "vec_id", "embedding",
          planesPerBand = 4, bands = 4, dims = 64, k = 12,
          minCosine = -1.0, maxBucketSize = 1000),
        standing, "vec_id", "embedding", r = 8, alphaNum = 12, alphaDen = 10)
      .select("id", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(GraphIndex.edges(spark, dir).select("id", "nbr")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)

    // a drain merges through RobustPrune, not top-k: after the insert,
    // EVERY adjacency list still satisfies the occlusion invariant —
    // no kept edge c is occluded by a better kept edge p
    // (12·d(p,c) > 10·d(node,c) for all better p)
    assert(GraphIndex.ingestBatch(spark, dir, emb,
      emb.filter(col("vec_id").isin(batchIds: _*))) == 3L)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cosM(a: Long, b: Long): Long = {
      val (x, y) = (vecs(a), vecs(b))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      x.indices.foreach { i =>
        dot += x(i).toDouble * y(i).toDouble
        na += x(i).toDouble * x(i).toDouble
        nb += y(i).toDouble * y(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val adj = GraphIndex.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    adj.foreach { case (id, es) =>
      assert(es.length <= 8, s"degree bound violated at $id")
      val sorted = es.map { case (_, nbr, cm) => (nbr, cm) }
        .sortBy { case (nbr, cm) => (-cm, nbr) }
      sorted.zipWithIndex.foreach { case ((c, cm), i) =>
        sorted.take(i).foreach { case (p, _) =>
          assert(12L * (1000000L - cosM(p, c)) > 10L * (1000000L - cm),
            s"occlusion invariant violated at node $id: kept $p occludes kept $c")
        }
      }
    }
    // the inserted vector is reachable (self-probe rank 1)
    val top = GraphIndex.search(spark, dir, emb,
        emb.filter(col("vec_id") === 0), k = 3)
      .collect().head
    assert(top.getLong(0) == 0L, "an inserted vector must find itself")
    // pre-α metas (no alpha keys) keep the classic top-k policy
    val plainDir = TestSpark.tmpDir("graph_index_plain_meta") + "/idx"
    buildAt(plainDir, standing)
    assert(GraphIndex.meta(spark, plainDir).alphaNum == 0)
  }

  test("edge-free build: a crashed drain's orphan stays invisible, its number is never reused") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graph_index_single_crash") + "/idx"
    buildAt(dir, emb.filter(col("vec_id") === 0))
    assert(GraphIndex.edges(spark, dir).count() == 0)
    // a drain that crashed after writing its rows at the next number on
    // disk, before the ledger CAS: an edge 0 → 1 of a vector no ledger
    // names
    val adj = new Path(s"$dir/adj")
    val next = adj.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(adj).map(_.getPath.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toInt).maxOption.fold(0)(_ + 1)
    Seq((0L, 1L, 900000L)).toDF("id", "nbr", "cos_micro")
      .withColumn("gen", lit(next))
      .write.mode("append").partitionBy("gen").parquet(s"$dir/adj")
    assert(GraphIndex.edges(spark, dir).count() == 0,
      s"the orphan at gen=$next must stay invisible")
    // a real drain skips the orphan's number
    assert(GraphIndex.ingestBatch(spark, dir, emb.filter(col("vec_id").isin(0L, 1L)),
      emb.filter(col("vec_id") === 1)) == 1L)
    val liveGens = Commits.readVersioned(spark, s"$dir/ledger").get._2
      .select("gen").distinct().collect().map(_.getInt(0)).toSet
    assert(!liveGens.contains(next), s"gen=$next must never become live (got $liveGens)")
    assert(GraphIndex.edges(spark, dir).filter(col("cos_micro") === 900000L).count() == 0)
  }

  test("an edge-free graph reads empty and accepts a drain: single-vector build, delete-all + compact") {
    import spark.implicits._
    def drainIsFindable(dir: String, standing: Seq[Long]): Unit = {
      assert(GraphIndex.edges(spark, dir).count() == 0)
      val batchIds = Seq(40L, 41L)
      val corpus = emb.filter(col("vec_id").isin(standing ++ batchIds: _*))
      assert(GraphIndex.ingestBatch(spark, dir, corpus,
        emb.filter(col("vec_id").isin(batchIds: _*))) == 2L)
      val top = GraphIndex.searchBatch(spark, dir, corpus,
          emb.filter(col("vec_id").isin(batchIds: _*))
            .select(col("vec_id").as("query_id"), col("embedding")), "query_id", k = 1)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
      assert(top == batchIds.map(i => i -> i).toMap,
        s"each drained vector must find itself (got $top)")
    }
    val single = TestSpark.tmpDir("graph_index_single") + "/idx"
    buildAt(single, emb.filter(col("vec_id") === 0))
    drainIsFindable(single, Seq(0L))

    val emptied = TestSpark.tmpDir("graph_index_emptied") + "/idx"
    buildAt(emptied, emb.filter(col("vec_id") < 20))
    assert(GraphIndex.edges(spark, emptied).count() > 0)
    assert(GraphIndex.delete(spark, emptied, (1L until 20L).toDF("vec_id")) == 19L)
    GraphIndex.compact(spark, emptied)
    drainIsFindable(emptied, Seq(0L))
  }
}
