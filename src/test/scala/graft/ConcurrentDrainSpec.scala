package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Commits
import graft.streaming.{CorpusIngest, IngestStream, SearchIngest, WarcIngest}

/**
 * The optimistic-concurrency and crash protocols of the durable-store
 * maintainers: every interleaving either serializes correctly or fails
 * VISIBLY ([[graft.io.Commits.ConcurrentWriteException]]) — never a
 * silent lost update — and every crash point heals forward on the next
 * drain. Conflicts are simulated by doing exactly what a racing writer
 * does at the contested point (holding the claim, taking the CAS slot,
 * leaving a staged tmp), since two genuinely simultaneous JVM drains
 * are not deterministically schedulable from a spec.
 */
class ConcurrentDrainSpec extends AnyFunSuite {
  import TestSpark.spark

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val schema = graft.schema.Metadata.structFromSpec(
    """
    doc_id: long
    text: string
    """)

  private def land(dir: String, name: String, rows: Seq[(Long, String)]): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(dir, name))
    try rows.foreach { case (id, text) =>
      w.println(s"""{"doc_id": $id, "text": "$text"}""")
    } finally w.close()
  }

  // ---------------------------------------------------------------- Commits

  test("commitVersion: CAS bootstrap, succession, pruning, stale-read conflict") {
    import spark.implicits._
    val base = TestSpark.tmpDir("commits_versioned") + "/store"
    assert(Commits.readVersioned(spark, base).isEmpty)
    assert(Commits.commitVersion(Seq(1L).toDF("x"), base, -1) == 0)
    val (v0, d0) = Commits.readVersioned(spark, base).get
    assert(v0 == 0 && d0.as[Long].collect().toSeq == Seq(1L))
    assert(Commits.commitVersion(Seq(2L).toDF("x"), base, v0) == 1)
    val (v1, d1) = Commits.readVersioned(spark, base).get
    assert(v1 == 1 && d1.as[Long].collect().toSeq == Seq(2L))
    // superseded version pruned after the new one went live
    val fs = fsOf(base)
    assert(!fs.exists(new Path(base, "v=0")) && fs.exists(new Path(base, "v=1")))
    // a commit against a STALE read (another writer took the slot)
    // fails visibly instead of clobbering or skipping ahead
    val e = intercept[Commits.ConcurrentWriteException] {
      Commits.commitVersion(Seq(9L).toDF("x"), base, v0)
    }
    assert(e.getMessage.contains("v=1"))
    // the loser's staged tmp was cleaned up; the winner's data intact
    assert(!fs.listStatus(new Path(base)).exists(_.getPath.getName.startsWith(".tmp-")))
    assert(Commits.readVersioned(spark, base).get._2.as[Long].head() == 2L)
  }

  test("publishAtomic: stage+rename commits all-or-nothing, taken slot fails visibly") {
    import spark.implicits._
    val base = TestSpark.tmpDir("commits_publish")
    val fs = fsOf(base)
    val slot = new Path(s"$base/run_000001")
    Commits.publishAtomic(fs, slot) { tmp =>
      Seq(1).toDF("a").write.parquet(s"$tmp/state")
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
    }
    assert(fs.exists(new Path(slot, "_SUCCESS")))
    assert(spark.read.parquet(s"$slot/state").count() == 1)
    // second writer targeting the same slot: visible conflict, winner intact
    intercept[Commits.ConcurrentWriteException] {
      Commits.publishAtomic(fs, slot) { tmp =>
        Seq(2).toDF("a").write.parquet(s"$tmp/state")
      }
    }
    assert(spark.read.parquet(s"$slot/state").as[Int].head() == 1)
    // no staged leftovers either way
    assert(!fs.listStatus(new Path(base)).exists(_.getPath.getName.startsWith(".tmp-")))
  }

  test("publishAtomic: a winner committing INSIDE the exists→rename window loses visibly") {
    // The check-then-act hazard: dest-exists returns false, a racing
    // writer commits the slot, then OUR rename still "succeeds" —
    // local-FS (and HDFS old-API) semantics move the staged tmp INSIDE
    // the winner's dir. The staged commit token must detect that the
    // rename did not commit our payload. The window is made
    // deterministic with a FilterFileSystem whose exists() lets the
    // winner commit right after the loser's (false) check.
    val base = TestSpark.tmpDir("commits_publish_race")
    val raw = fsOf(base)
    val slot = new Path(s"$base/run_000001")
    def commitWinner(): Unit = {
      val wtmp = new Path(base, "winner-stage")
      raw.mkdirs(wtmp)
      raw.create(new Path(wtmp, "winner.txt"), true).close()
      raw.create(new Path(wtmp, "_SUCCESS"), true).close()
      assert(raw.rename(wtmp, slot))
    }
    val raced = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      private var fired = false
      override def exists(p: Path): Boolean = {
        val r = super.exists(p)
        if (!fired && p == slot && !r) { fired = true; commitWinner() }
        r
      }
    }
    intercept[Commits.ConcurrentWriteException] {
      Commits.publishAtomic(raced, slot) { tmp =>
        raw.mkdirs(tmp)
        raw.create(new Path(tmp, "loser.txt"), true).close()
      }
    }
    // the winner's payload is intact and the loser left NOTHING behind:
    // no nested .tmp-* shadow inside the slot, no staged sibling
    assert(raw.exists(new Path(slot, "winner.txt")))
    assert(!raw.listStatus(slot).exists(_.getPath.getName.startsWith(".tmp-")))
    assert(!raw.listStatus(new Path(base)).exists(_.getPath.getName.startsWith(".tmp-")))
  }

  test("acquireClaim: non-already-exists I/O failures propagate, not misreported as held") {
    val store = TestSpark.tmpDir("commits_claim_ioerr")
    val boom = new java.io.IOException("simulated transient store failure")
    // a flaky create (network blip, permission) must surface as itself —
    // reporting it as "claim held" would send the operator to
    // forceReleaseClaim against a claim that was never taken
    val flaky = new org.apache.hadoop.fs.FilterFileSystem(fsOf(store)) {
      override def create(p: Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream =
        if (p.getName == "_drain.claim") throw boom
        else super.create(p, overwrite)
    }
    val e = intercept[java.io.IOException] {
      Commits.acquireClaim(flaky, store)
    }
    assert(e eq boom)
    // and a genuinely held claim still maps to the visible conflict
    Commits.acquireClaim(fsOf(store), store)
    intercept[Commits.ConcurrentWriteException] {
      Commits.acquireClaim(fsOf(store), store)
    }
    Commits.forceReleaseClaim(spark, store)
  }

  test("withClaim: serializes, releases on success AND exception, recovery documented") {
    val store = TestSpark.tmpDir("commits_claim")
    // held claim → visible failure that names the file
    Commits.acquireClaim(spark, store)
    val e = intercept[Commits.ConcurrentWriteException] {
      Commits.withClaim(spark, store) { fail("body must not run under a held claim") }
    }
    assert(e.getMessage.contains("_drain.claim"))
    Commits.forceReleaseClaim(spark, store)
    // released on success
    assert(Commits.withClaim(spark, store)(42) == 42)
    assert(Commits.withClaim(spark, store)(43) == 43)
    // released on an in-process exception (only a process crash leaves it stale)
    intercept[RuntimeException] {
      Commits.withClaim(spark, store)(throw new RuntimeException("boom"))
    }
    assert(Commits.withClaim(spark, store)(44) == 44)
  }

  test("withClaim is re-entrant for its own thread only; the outermost call releases") {
    val store = TestSpark.tmpDir("commits_claim_nested")
    val claim = new Path(store, "_drain.claim")
    def otherThread(): Throwable = {
      var err: Throwable = null
      val t = new Thread(() =>
        try Commits.withClaim(spark, store)(()) catch { case e: Throwable => err = e })
      t.start(); t.join()
      err
    }
    val got = Commits.withClaim(spark, store) {
      val inner = Commits.withClaim(spark, store)(Commits.withClaim(spark, store)(7))
      assert(fsOf(store).exists(claim), "a nested exit must not release the claim")
      assert(otherThread().isInstanceOf[Commits.ConcurrentWriteException],
        "another thread must not enter a held claim")
      inner
    }
    assert(got == 7)
    assert(!fsOf(store).exists(claim), "the outermost exit releases")
    assert(otherThread() == null)
  }

  // ------------------------------------------------------------ SearchIngest

  test("search index heals a crash between silver drain and index fold") {
    val base = TestSpark.tmpDir("search_crash_fold")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = SearchIngest.maintainIndex(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", buckets = 4)
    land(landing.getPath, "wave1.jsonl", Seq(1L -> "red fox jumps"))
    assert(drain() == 1L)
    // CRASH SIMULATION: wave 2 lands and the streaming drain consumes
    // it into silver, but the process dies before the index fold — the
    // exact failure the in-memory before/after file listing lost
    // forever (the silver files look pre-existing to the next drain)
    land(landing.getPath, "wave2.jsonl", Seq(2L -> "red fox returns"))
    IngestStream.drainOnce(spark, landing.getPath, schema,
      requiredCols = Seq("doc_id", "text"), normalizeCols = Nil,
      outDir = s"$base/silver", checkpointDir = s"$base/ckpt")
    // next drain: nothing new lands, but the durable folded record
    // says those silver files were never indexed — they must fold now
    assert(drain() == 1L, "crashed drain's silver files must be recovered")
    val live = SearchIngest.readIndex(spark, s"$base/index")
    assert(graft.ops.Search.phraseSearch(live, Seq("red", "fox"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // and the record healed: a further empty drain re-folds nothing
    assert(drain() == 0L)
  }

  test("search index ledger swap is versioned: no delete-before-write window") {
    val base = TestSpark.tmpDir("search_ledger_versions")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = SearchIngest.maintainIndex(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", buckets = 4)
    land(landing.getPath, "w1.jsonl", Seq(1L -> "alpha beta"))
    drain()
    land(landing.getPath, "w2.jsonl", Seq(2L -> "beta gamma"))
    drain()
    val fs = fsOf(base)
    // exactly one complete ledger version on disk (old pruned AFTER the
    // new one went live — at no point is the mapping deleted first)
    val versions = fs.listStatus(new Path(s"$base/index/ledger"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).toSeq
    assert(versions == Seq("v=1"), s"got $versions")
    // a crashed writer's staged tmp is invisible to readers
    fs.mkdirs(new Path(s"$base/index/ledger/.tmp-deadbeef"))
    assert(SearchIngest.readIndex(spark, s"$base/index")
      .select("doc_id").distinct().count() == 2)
  }

  test("crashed compaction's generation is never reused by a later writer") {
    val base = TestSpark.tmpDir("search_gen_reuse")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = SearchIngest.maintainIndex(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", buckets = 4)
    land(landing.getPath, "w1.jsonl", Seq(1L -> "alpha beta"))
    drain() // postings at gen=0
    // CRASH SIMULATION: a compaction wrote its consolidated generation
    // (gen=1) and died before the ledger swap — an orphan. A later
    // drain must NOT write at gen=1 (its ledger rows would make the
    // orphan's stale postings live); it must skip to gen=2.
    import spark.implicits._
    Seq((1L, "alpha", Seq(0), 1L, 3L, 1))
      .toDF("doc_id", "token", "positions", "tf", "tbucket", "gen")
      .write.mode("append").partitionBy("gen", "tbucket")
      .parquet(s"$base/index/postings")
    land(landing.getPath, "w2.jsonl", Seq(1L -> "alpha gamma"))
    assert(drain() == 1L)
    val fs = fsOf(base)
    val gens = fs.listStatus(new Path(s"$base/index/postings"))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).sorted.toSeq
    assert(gens == Seq("gen=0", "gen=1", "gen=2"), s"got $gens")
    // doc 1 is live ONLY at gen=2: the orphan's 'alpha' copy is dead
    val live = SearchIngest.readIndex(spark, s"$base/index")
    assert(live.filter(col("token") === "alpha").count() == 1L)
    assert(live.filter(col("token") === "beta").count() == 0L)
    // compaction prunes the orphan along with the dead generations
    assert(SearchIngest.compactIndex(spark, s"$base/index") == 3)
  }

  test("concurrent search-index drain fails visibly under the writer claim") {
    val base = TestSpark.tmpDir("search_claim")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    land(landing.getPath, "w1.jsonl", Seq(1L -> "alpha"))
    Commits.acquireClaim(spark, s"$base/index") // the in-flight drain
    intercept[Commits.ConcurrentWriteException] {
      SearchIngest.maintainIndex(
        spark, landing.getPath, schema, "doc_id", "text",
        silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
        indexDir = s"$base/index", buckets = 4)
    }
    Commits.forceReleaseClaim(spark, s"$base/index")
    assert(SearchIngest.maintainIndex(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", buckets = 4) == 1L)
  }

  // -------------------------------------------------------------- WarcIngest

  test("concurrent WARC drain fails visibly; recovery drains normally") {
    val base = TestSpark.tmpDir("warc_claim")
    new java.io.File(s"$base/landing").mkdirs()
    Commits.acquireClaim(spark, s"$base/ledger")
    intercept[Commits.ConcurrentWriteException] {
      WarcIngest.drainWarc(spark, s"$base/landing", s"$base/silver", s"$base/ledger")
    }
    Commits.forceReleaseClaim(spark, s"$base/ledger")
    // empty landing zone drains clean after recovery
    assert(WarcIngest.drainWarc(
      spark, s"$base/landing", s"$base/silver", s"$base/ledger").isEmpty)
  }

  // ------------------------------------------------------- run-dir publishers

  test("SCD2 publish is CAS; signature-index drains serialize under the claim") {
    val base = TestSpark.tmpDir("scd2_cas")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    val dschema = graft.schema.Metadata.structFromSpec(
      """
      k: long
      seg: string
      ts: long
      """)
    def landU(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(landing, name))
      try rows.foreach { case (k, seg, ts) =>
        w.println(s"""{"k": $k, "seg": "$seg", "ts": $ts}""")
      } finally w.close()
    }
    def drain() = CorpusIngest.maintainDimension(
      spark, landing.getPath, dschema, "k", "ts", Seq("seg"),
      s"$base/silver", s"$base/ckpt", s"$base/state")
    landU("u1.jsonl", Seq((1L, "A", 10L)))
    assert(drain().count() == 1)
    // a racing publisher claimed run_000002 between this drain's read
    // and publish → visible conflict; run_000001 stays live
    val fs = fsOf(base)
    fs.mkdirs(new Path(s"$base/state/run_000002"))
    landU("u2.jsonl", Seq((1L, "B", 20L)))
    intercept[Commits.ConcurrentWriteException] { drain() }
    assert(graft.io.Layers.latestSuccessfulRun(spark, s"$base/state")
      .get.endsWith("run_000001"))
    // slot freed (the race resolved) → the RETRY self-heals: the u2
    // delta is still unapplied (ledger lives with the state), so the
    // same drain re-merges and publishes run_000002
    fs.delete(new Path(s"$base/state/run_000002"), true)
    val st = drain()
    assert(st.filter(col("is_current") && col("seg") === "B").count() == 1)
    assert(graft.io.Layers.latestSuccessfulRun(spark, s"$base/state")
      .get.endsWith("run_000002"))

    // the SignatureIndex maintainer serializes under the index claim
    val base2 = TestSpark.tmpDir("sig_claim")
    val landing2 = new java.io.File(base2, "landing"); landing2.mkdirs()
    Commits.acquireClaim(spark, s"$base2/index")
    intercept[Commits.ConcurrentWriteException] {
      CorpusIngest.maintain(
        spark, landing2.getPath, schema, "doc_id", "text",
        s"$base2/silver", s"$base2/ckpt", s"$base2/index", threshold = 0.8)
    }
    Commits.forceReleaseClaim(spark, s"$base2/index")
    assert(CorpusIngest.maintain(
      spark, landing2.getPath, schema, "doc_id", "text",
      s"$base2/silver", s"$base2/ckpt", s"$base2/index",
      threshold = 0.8).count() == 0)
  }

  test("frontier publish is CAS: a taken run slot fails visibly, state intact") {
    val base = TestSpark.tmpDir("frontier_cas")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def landS(name: String, rows: Seq[(String, String)]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(landing, name))
      try rows.foreach { case (h, x) =>
        w.println(s"""{"host": "$h", "xml": "${x.replace("\"", "\\\"")}"}""")
      } finally w.close()
    }
    def drain() = CorpusIngest.maintainFrontier(
      spark, landing.getPath, s"$base/silver", s"$base/ckpt", s"$base/frontier")
    landS("s1.jsonl", Seq("a.com" ->
      "<urlset><url><loc>http://a.com/1</loc><lastmod>2024-01-01</lastmod></url></urlset>"))
    assert(drain().count() == 1)
    // a racing publisher claimed the next slot (run_000002) between
    // this drain's read and its publish → visible conflict, run_000001
    // still the live state
    val fs = fsOf(base)
    fs.mkdirs(new Path(s"$base/frontier/run_000002"))
    landS("s2.jsonl", Seq("a.com" ->
      "<urlset><url><loc>http://a.com/2</loc><lastmod>2024-02-01</lastmod></url></urlset>"))
    intercept[Commits.ConcurrentWriteException] { drain() }
    assert(graft.io.Layers.latestSuccessfulRun(spark, s"$base/frontier")
      .get.endsWith("run_000001"))
    // a publisher crash leaves only an invisible staging dir — readers
    // and the retry are unaffected (slot freed = the race resolved)
    fs.delete(new Path(s"$base/frontier/run_000002"), true)
    assert(drain().count() == 2)
    assert(graft.io.Layers.latestSuccessfulRun(spark, s"$base/frontier")
      .get.endsWith("run_000002"))
  }

  // ------------------------------------------------------------ VectorIndex

  test("vector-index writers serialize under the claim; crashed quantizer swap heals") {
    import spark.implicits._
    import graft.io.VectorIndex
    val dir = TestSpark.tmpDir("vecidx_conc")
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    VectorIndex.build(corpus, "vec_id", "embedding", dir, nlist = 2, iters = 2)
    val batch = Seq((10L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")

    // every writer — append, maintenance, delete, compact — fails
    // visibly while a drain holds the claim; readers are unaffected
    Commits.acquireClaim(spark, dir)
    intercept[Commits.ConcurrentWriteException] {
      VectorIndex.append(batch, dir)
    }
    intercept[Commits.ConcurrentWriteException] {
      VectorIndex.maintainLists(spark, dir, driftThreshold = 0.05)
    }
    intercept[Commits.ConcurrentWriteException] {
      VectorIndex.delete(Seq(0L).toDF("vec_id"), dir)
    }
    intercept[Commits.ConcurrentWriteException] {
      VectorIndex.compact(spark, dir)
    }
    assert(VectorIndex.probe(
      Seq(Array(1.0f, 0.0f)).toDF("embedding"), dir, k = 2, nprobe = 2)
      .count() == 2, "a held writer claim must not block probes")
    Commits.forceReleaseClaim(spark, dir)

    // released → the drain proceeds and the q280 retrain path commits
    VectorIndex.append(batch, dir)
    val report = VectorIndex.maintainLists(spark, dir, driftThreshold = 0.05)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(report(0L), "list 0 drifted and must retrain")

    // crash inside the maintenance quantizer swap (between the two
    // renames — centroids retired to _prev, the staged copy not yet
    // promoted): a probe reads the previous quantizer from _prev
    // without touching the store, and the next writer restores it
    val fs = fsOf(dir)
    fs.delete(new Path(s"$dir/centroids_staging"), true)
    require(fs.rename(new Path(s"$dir/centroids"), new Path(s"$dir/centroids_prev")))
    def probeRows() = VectorIndex.probe(
      Seq(Array(1.0f, 0.0f)).toDF("embedding"), dir, k = 2, nprobe = 2)
      .collect().toSeq
    val inWindow = probeRows()
    assert(inWindow.size == 2, "the crashed-swap window must stay probeable")
    assert(!fs.exists(new Path(s"$dir/centroids")) &&
      fs.exists(new Path(s"$dir/centroids_prev")), "a probe must not heal")
    VectorIndex.compact(spark, dir)
    assert(fs.exists(new Path(s"$dir/centroids")) &&
      !fs.exists(new Path(s"$dir/centroids_prev")), "the next writer heals")
    assert(probeRows() == inWindow)
  }

  // ---------------------------------------------------------- LayoutMaintain

  test("concurrent zone-map stats drain fails visibly; recovery drains normally") {
    import spark.implicits._
    val base = TestSpark.tmpDir("layout_conc")
    Seq((1L, 5L), (2L, 9L)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$base/table/w1")
    def drain() = graft.streaming.LayoutMaintain.drainStats(
      spark, s"$base/table", s"$base/stats", s"$base/ledger", Seq("v"))
    assert(drain().count() == 1)
    Commits.acquireClaim(spark, s"$base/ledger")
    intercept[Commits.ConcurrentWriteException] { drain() }
    Commits.forceReleaseClaim(spark, s"$base/ledger")
    // recovery: nothing new → clean no-op; a new file drains normally
    assert(drain().count() == 0)
    Seq((3L, 1L)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$base/table/w2")
    assert(drain().count() == 1)
  }
}
