package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.SignatureIndex
import graft.streaming.CorpusIngest

class CorpusIngestSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val schema = graft.schema.Metadata.structFromSpec(
    """
    doc_id: long
    text: string
    """)

  // 12 distinct words → every 3-shingle differs across distinct texts;
  // identical texts give Jaccard 1.0, so ≥0.8 pairs are exactly the
  // identical-text pairs regardless of LSH parameters.
  private val t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
  private val t2 = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"

  private def land(dir: String, name: String, rows: Seq[(Long, String)]): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(dir, name))
    try rows.foreach { case (id, text) =>
      w.println(s"""{"doc_id": $id, "text": "$text"}""")
    } finally w.close()
  }

  test("a drain before anything lands is a clean no-op, then normal operation begins") {
    val base = TestSpark.tmpDir("corpus_ingest_empty")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = CorpusIngest.maintain(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", threshold = 0.8)
    assert(drain().count() == 0, "empty landing dir must not error")
    land(landing.getPath, "wave1.jsonl", Seq(1L -> t1, 2L -> t1))
    assert(drain().collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("compactTo keeps the store's file count bounded across many drains") {
    val base = TestSpark.tmpDir("corpus_ingest_compact")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = CorpusIngest.maintain(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", threshold = 0.8, compactTo = Some(2)).count()
    (0 until 5).foreach { w =>
      land(landing.getPath, s"wave$w.jsonl",
        Seq((100L + w) -> (t1 + s" wave$w"), (200L + w) -> (t2 + s" wave$w")))
      drain()
    }
    val files = new java.io.File(s"$base/index/sigs").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 4, s"store fragmented to $files files despite compactTo=2")
    assert(graft.io.SignatureIndex.signatures(spark, s"$base/index").count() == 10)
  }

  test("streamed drains maintain the durable index incrementally") {
    val base = TestSpark.tmpDir("corpus_ingest")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = CorpusIngest.maintain(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // wave 1 bootstraps the index; docs 1,2 share a text → one pair
    land(landing.getPath, "wave1.jsonl", Seq(1L -> t1, 2L -> t1, 3L -> t2))
    assert(drain() == Set((1L, 2L)))
    assert(SignatureIndex.signatures(spark, s"$base/index").count() == 3)

    // no new files → no delta, no pairs, no index growth
    assert(drain() == Set.empty)
    assert(SignatureIndex.signatures(spark, s"$base/index").count() == 3)

    // wave 2: doc 4 duplicates t1 → pairs against the INDEXED docs 1,2
    // (not re-reporting 1~2); doc 5 is novel
    land(landing.getPath, "wave2.jsonl", Seq(4L -> t1, 5L -> ("unique words only " + t2.toUpperCase)))
    assert(drain() == Set((1L, 4L), (2L, 4L)))
    assert(SignatureIndex.signatures(spark, s"$base/index").count() == 5)
  }

  test("maintainSpans: streamed drains keep exact-substring detection current") {
    val base = TestSpark.tmpDir("corpus_ingest_spans")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = CorpusIngest.maintainSpans(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def ledger() = graft.io.WindowIndex.processedIds(spark, s"$base/index").count()

    // wave 1 bootstraps; docs 1,2 share the run "shared run here"
    land(landing.getPath, "wave1.jsonl", Seq(
      1L -> "k1 k2 shared run here k3",
      2L -> "k4 k5 shared run here k6"))
    assert(drain() == Set((1L, 3L, 6L, 1L), (2L, 3L, 6L, 1L)),
      "wave-internal duplicated span found on bootstrap")
    assert(ledger() == 2)

    // no new files → empty delta, empty report, no ledger growth
    assert(drain() == Set.empty)
    assert(ledger() == 2)

    // wave 2: doc 3 repeats the run (cross-CORPUS dup — docs 1,2 are
    // only in the index now); doc 4 is novel and must not appear
    land(landing.getPath, "wave2.jsonl", Seq(
      3L -> "k7 k8 shared run here k9",
      4L -> "n1 n2 n3 n4 n5"))
    assert(drain() == Set((3L, 3L, 6L, 1L)))
    assert(ledger() == 4)
  }

  test("maintainVectors: bootstrap wave trains, later drains screen against the index") {
    val base = TestSpark.tmpDir("corpus_ingest_vec")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    val vschema = graft.schema.Metadata.structFromSpec(
      """
      vec_id: long
      embedding: array<float>
      """)
    def unit(axis: Int, eps: Double): Seq[Float] = {
      val v = Array.fill(4)(eps.toFloat); v(axis) = 1.0f; v.toSeq
    }
    def landVecs(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(landing, name))
      try rows.foreach { case (id, v) =>
        w.println(s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}""")
      } finally w.close()
    }
    def drain() = CorpusIngest.maintainVectors(
        spark, landing.getPath, vschema, "vec_id", "embedding",
        silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
        indexDir = s"$base/index", threshold = 0.9, nprobe = 2, nlist = 2)
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(drain().isEmpty, "drain before anything lands is a clean no-op")
    // bootstrap wave: two axis-0 near-dups + one axis-1 vector
    landVecs("wave1.jsonl",
      Seq(1L -> unit(0, 0.0), 2L -> unit(0, 0.001), 10L -> unit(1, 0.0)))
    val w1 = drain()
    assert(w1 == Map(
      1L -> ((None, true)), 2L -> ((Some("batch"), false)), 10L -> ((None, true))),
      "bootstrap decisions are batch-internal keep-first")
    // second wave: a corpus near-dup, a batch-internal pair, a novel axis
    landVecs("wave2.jsonl", Seq(
      20L -> unit(0, 0.002), // near wave-1's axis-0 family → 'corpus'
      30L -> unit(2, 0.0), 31L -> unit(2, 0.001), // batch pair → 31 drops
      40L -> unit(3, 0.0))) // novel → keep
    val w2 = drain()
    assert(w2 == Map(
      20L -> ((Some("corpus"), false)),
      30L -> ((None, true)), 31L -> ((Some("batch"), false)),
      40L -> ((None, true))))
    // the index advanced: wave-2 vectors are now the corpus for wave 3
    landVecs("wave3.jsonl", Seq(50L -> unit(3, 0.001)))
    assert(drain() == Map(50L -> ((Some("corpus"), false))),
      "wave-2 keepers are corpus by wave 3")
    // drain with nothing new is a no-op and the ledger holds every vector
    assert(drain().isEmpty)
    assert(graft.io.VectorIndex.storedIds(spark, s"$base/index").count() == 8)
  }

  test("maintainVectors: a drain against a built index runs at most 12 Spark jobs") {
    val base = TestSpark.tmpDir("corpus_ingest_vec_jobs")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    val vschema = graft.schema.Metadata.structFromSpec(
      """
      vec_id: long
      embedding: array<float>
      """)
    def landVecs(name: String, ids: Seq[Long]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(landing, name))
      try ids.foreach { id =>
        val v = Array.tabulate(4)(d => if (d == id % 4) 1.0f else (id % 7) * 0.01f)
        w.println(s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}""")
      } finally w.close()
    }
    def drain() = CorpusIngest.maintainVectors(
      spark, landing.getPath, vschema, "vec_id", "embedding",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", threshold = 0.99, nprobe = 2, nlist = 2)
    landVecs("wave1.jsonl", 1L to 20L)
    drain().collect() // bootstrap: trains the index
    landVecs("wave2.jsonl", 21L to 40L)
    val (d, jobs) = TestSpark.jobsOf(drain())
    // the drain, the ledger anti-join, the dedup's probe and grouped
    // flags, and append's shape aggregate, centroid collect and write;
    // a job per check (emptiness, dims, tag, each dedup flag) exceeds it
    assert(jobs <= 12, s"maintainVectors ran $jobs jobs")
    assert(d.count() == 20)
    assert(graft.io.VectorIndex.storedIds(spark, s"$base/index").count() == 40)
  }

  test("maintainNovelty: per-drain selection scores judged against the pre-drain corpus") {
    val base = TestSpark.tmpDir("corpus_ingest_novelty")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = CorpusIngest.maintainNovelty(
      spark, landing.getPath, schema, "doc_id", "text",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def ledger() = graft.io.WindowIndex.processedIds(spark, s"$base/index").count()

    // bootstrap wave: the corpus is empty, so everything is novel
    land(landing.getPath, "wave1.jsonl", Seq(
      1L -> "alpha beta gamma delta"))
    assert(drain() == Map(1L -> 1.0))

    // wave 2: a verbatim re-crawl scores 0, new text scores 1, a
    // half-overlap scores between — all judged vs wave 1's corpus
    land(landing.getPath, "wave2.jsonl", Seq(
      2L -> "alpha beta gamma delta",
      3L -> "wholly new tokens entirely",
      4L -> "alpha beta gamma epsilon"))
    assert(drain() == Map(2L -> 0.0, 3L -> 1.0, 4L -> 0.5))
    assert(ledger() == 4, "the delta still enters the index after scoring")

    // no new files → empty report, no ledger growth
    assert(drain().isEmpty)
    assert(ledger() == 4)
  }

  /** Two bases fed the same two waves by `drain`; the second base's
    * wave-2 drain starts inside a crashed swap window of its index
    * store `name`. That drain must succeed, report what the crash-free
    * control reports, leave the store healed and its `ledger` equal to
    * the control's. */
  private def drainFromCrashWindow[R](
      name: String, stage: String,
      land: (String, String) => Unit,
      drain: String => R,
      ledger: String => Seq[Long]): Unit = {
    def base(tag: String) = {
      val b = TestSpark.tmpDir(s"corpus_ingest_crash_${name}_$tag")
      new java.io.File(b, "landing").mkdirs()
      land(s"$b/landing", "wave1.jsonl")
      drain(b)
      b
    }
    val ctl = base("ctl")
    val crashed = base("crash")
    val d = TestSpark.crashSwap(s"$crashed/index", name, stage)
    land(s"$ctl/landing", "wave2.jsonl")
    land(s"$crashed/landing", "wave2.jsonl")
    assert(drain(crashed) == drain(ctl))
    assert(TestSpark.swapState(d) == ((true, false, false)))
    assert(ledger(crashed) == ledger(ctl))
  }

  private def landWave(wave1: Seq[(Long, String)], wave2: Seq[(Long, String)])(
      dir: String, name: String): Unit =
    land(dir, name, if (name == "wave1.jsonl") wave1 else wave2)

  test("maintain: a drain started inside a crashed sigs rewrite heals and matches the control") {
    drainFromCrashWindow("sigs", "compacting",
      landWave(Seq(1L -> t1, 2L -> t1, 3L -> t2), Seq(4L -> t1, 5L -> t2)),
      b => CorpusIngest.maintain(
        spark, s"$b/landing", schema, "doc_id", "text",
        silverDir = s"$b/silver", checkpointDir = s"$b/ckpt",
        indexDir = s"$b/index", threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      b => SignatureIndex.signatures(spark, s"$b/index")
        .select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("maintainSpans: a drain started inside a crashed store rewrite heals and matches the control") {
    drainFromCrashWindow("store", "compacting",
      landWave(
        Seq(1L -> "k1 k2 shared run here k3", 2L -> "k4 k5 shared run here k6"),
        Seq(3L -> "k7 k8 shared run here k9", 4L -> "n1 n2 n3 n4 n5")),
      b => CorpusIngest.maintainSpans(
        spark, s"$b/landing", schema, "doc_id", "text",
        silverDir = s"$b/silver", checkpointDir = s"$b/ckpt",
        indexDir = s"$b/index", n = 3).collect().toSet,
      b => graft.io.WindowIndex.processedIds(spark, s"$b/index")
        .as[Long].collect().sorted.toSeq)
  }

  test("maintainVectors: a drain started inside a crashed lists rewrite heals and matches the control") {
    val vschema = graft.schema.Metadata.structFromSpec(
      """
      vec_id: long
      embedding: array<float>
      """)
    def landVecs(dir: String, name: String): Unit = {
      val rows =
        if (name == "wave1.jsonl") Seq(1L -> "1, 0, 0", 2L -> "0.999, 0.001, 0",
          10L -> "0, 1, 0")
        else Seq(20L -> "0.998, 0.002, 0", 30L -> "0, 0, 1", 31L -> "0, 0.001, 0.999")
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try rows.foreach { case (id, v) =>
        w.println(s"""{"vec_id": $id, "embedding": [$v]}""")
      } finally w.close()
    }
    drainFromCrashWindow("lists", "staging", landVecs,
      b => CorpusIngest.maintainVectors(
        spark, s"$b/landing", vschema, "vec_id", "embedding",
        silverDir = s"$b/silver", checkpointDir = s"$b/ckpt",
        indexDir = s"$b/index", threshold = 0.9, nprobe = 2, nlist = 2)
        .collect().toSet,
      b => graft.io.VectorIndex.storedIds(spark, s"$b/index")
        .as[Long].collect().sorted.toSeq)
  }

  test("maintainDimension: versioned SCD2 state, exactly-once delta, replay-safe ledger") {
    val base = TestSpark.tmpDir("corpus_ingest_dim")
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
    def drain(): Set[(Long, String, Long, Option[Long], Boolean)] =
      CorpusIngest.maintainDimension(
          spark, landing.getPath, dschema, "k", "ts", Seq("seg"),
          silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
          stateDir = s"$base/state")
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    def runs(): Int = {
      val d = new java.io.File(s"$base/state")
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isDirectory &&
        new java.io.File(f, "_SUCCESS").exists())
    }
    assert(drain().isEmpty && runs() == 0, "empty drain publishes nothing")
    landU("w1.jsonl", Seq((1L, "A", 0L), (2L, "C", 0L)))
    val s1 = drain()
    assert(s1 == Set((1L, "A", 0L, None, true), (2L, "C", 0L, None, true)))
    assert(runs() == 1)
    // change + no-op churn in one wave
    landU("w2.jsonl", Seq((1L, "B", 10L), (1L, "B", 20L)))
    val s2 = drain()
    assert(s2 == Set(
      (1L, "A", 0L, Some(10L), false),
      (1L, "B", 10L, None, true),
      (2L, "C", 0L, None, true)))
    assert(runs() == 2)
    // no-op drain: standing state returned, nothing published
    assert(drain() == s2 && runs() == 2)
    // replay safety: an already-applied OLD update re-landing must not
    // resurrect its version (the ledger, not merge idempotence, is
    // what guarantees this once later versions exist)
    landU("w3.jsonl", Seq((1L, "B", 10L)))
    assert(drain() == s2 && runs() == 2)
    // a reader resolves the newest COMPLETE snapshot
    val latest = graft.io.Layers.latestSuccessfulRun(spark, s"$base/state").get
    assert(spark.read.parquet(s"$latest/state")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet == s2)
  }

  test("maintainServing: CDC state, exactly-once drains, high-water drops late/replayed changes") {
    val base = TestSpark.tmpDir("corpus_ingest_cdc")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    val cschema = graft.schema.Metadata.structFromSpec(
      """
      k: long
      ts: long
      op: string
      v: string
      """)
    def landC(name: String, rows: Seq[(Long, Long, String, String)]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(landing, name))
      try rows.foreach { case (k, ts, op, v) =>
        val vj = if (v == null) "null" else s""""$v""""
        w.println(s"""{"k": $k, "ts": $ts, "op": "$op", "v": $vj}""")
      } finally w.close()
    }
    def drain(): Set[(Long, String)] =
      CorpusIngest.maintainServing(
          spark, landing.getPath, cschema, "k", "ts", "op", Seq("v"),
          silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
          stateDir = s"$base/state")
        .as[(Long, String)].collect().toSet
    def runs(): Int = {
      val d = new java.io.File(s"$base/state")
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isDirectory &&
        new java.io.File(f, "_SUCCESS").exists())
    }
    assert(drain().isEmpty && runs() == 0, "empty drain publishes nothing")
    landC("w1.jsonl", Seq((1L, 10L, "I", "a"), (2L, 10L, "I", "b")))
    assert(drain() == Set(1L -> "a", 2L -> "b") && runs() == 1)
    // update + delete in one wave
    landC("w2.jsonl", Seq((1L, 20L, "U", "a2"), (2L, 20L, "D", null)))
    val s2 = drain()
    assert(s2 == Set(1L -> "a2") && runs() == 2)
    // no-op drain: standing state returned, nothing published
    assert(drain() == s2 && runs() == 2)
    // ORDER safety: a LATE change (ts 15 < high-water 20) landing after
    // newer state must be dropped — it would otherwise resurrect the
    // deleted key 2 and roll key 1 back
    landC("w3.jsonl", Seq((1L, 15L, "U", "stale"), (2L, 15L, "I", "ghost")))
    assert(drain() == s2, "late changes must not rewind the serving state")
    // a genuinely new change still applies
    landC("w4.jsonl", Seq((2L, 30L, "I", "b2")))
    assert(drain() == Set(1L -> "a2", 2L -> "b2"))
    // a reader resolves the newest COMPLETE snapshot
    val latest = graft.io.Layers.latestSuccessfulRun(spark, s"$base/state").get
    assert(spark.read.parquet(s"$latest/state")
      .as[(Long, String)].collect().toSet == Set(1L -> "a2", 2L -> "b2"))
  }

  test("maintainFrontier: sitemap drains merge idempotently into the frontier") {
    val base = TestSpark.tmpDir("corpus_ingest_frontier")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def landS(name: String, rows: Seq[(String, String)]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(landing, name))
      try rows.foreach { case (host, xml) =>
        w.println(s"""{"host": "$host", "xml": "${xml.replace("\"", "\\\"")}"}""")
      } finally w.close()
    }
    def drain() = CorpusIngest.maintainFrontier(
      spark, landing.getPath,
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      frontierDir = s"$base/frontier")

    // bootstrap on empty landing: no publish, empty frontier
    assert(drain().count() == 0)
    assert(graft.io.Layers.latestSuccessfulRun(spark, s"$base/frontier").isEmpty)

    // wave 1: two hosts discovered
    landS("w1.jsonl", Seq(
      "a.example" -> ("<urlset><url><loc>https://a.example/1</loc>" +
        "<lastmod>2026-01-10</lastmod></url>" +
        "<url><loc>https://a.example/2</loc></url></urlset>"),
      "b.example" -> "<urlset><url><loc>https://b.example/1</loc></url></urlset>"))
    val f1 = drain().as[(String, String, String)].collect().toSet
    assert(f1 == Set(
      ("https://a.example/1", "a.example", "2026-01-10"),
      ("https://a.example/2", "a.example", ""),
      ("https://b.example/1", "b.example", "")))

    // wave 2: lastmod advances on /1, a new URL appears; /2 unchanged
    landS("w2.jsonl", Seq(
      "a.example" -> ("<urlset><url><loc>https://a.example/1</loc>" +
        "<lastmod>2026-02-01</lastmod></url>" +
        "<url><loc>https://a.example/3</loc>" +
        "<lastmod>2026-01-20</lastmod></url></urlset>")))
    val f2 = drain().as[(String, String, String)].collect().toSet
    assert(f2 == Set(
      ("https://a.example/1", "a.example", "2026-02-01"),
      ("https://a.example/2", "a.example", ""),
      ("https://a.example/3", "a.example", "2026-01-20"),
      ("https://b.example/1", "b.example", "")))

    // no-op drain: nothing new landed -> nothing published, state stable
    val runsBefore = new java.io.File(s"$base/frontier").listFiles()
      .count(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
    val f3 = drain().as[(String, String, String)].collect().toSet
    assert(f3 == f2)
    val runsAfter = new java.io.File(s"$base/frontier").listFiles()
      .count(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
    assert(runsAfter == runsBefore, "a no-op drain must not publish a run")

    // an OLDER lastmod replayed later never rewinds the frontier
    landS("w3.jsonl", Seq(
      "a.example" -> ("<urlset><url><loc>https://a.example/1</loc>" +
        "<lastmod>2026-01-05</lastmod></url></urlset>")))
    val f4 = drain().as[(String, String, String)].collect().toSet
    assert(f4 == f2, "stale lastmod must not rewind; no new URL, no change")
  }
}
