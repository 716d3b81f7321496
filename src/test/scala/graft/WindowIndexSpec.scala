package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.WindowIndex
import graft.ops.{Dedup, Spans}

class WindowIndexSpec extends AnyFunSuite {
  import TestSpark.spark

  import spark.implicits._

  private val docs = TestSpark.table("documents")
  private def corpus = docs.filter($"doc_id" % 10 =!= 0)
  private def batch = docs.filter($"doc_id" % 10 === 0)

  private def spanSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "span_start", "span_end", "n_windows")
      .as[(Long, Long, Long, Long)].collect().toSet

  test("build → meta round-trips the index identity") {
    val dir = TestSpark.tmpDir("winidx_meta")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 4, kind = Dedup.Xx64)
    assert(WindowIndex.meta(spark, dir) == WindowIndex.Meta("doc_id", 4, Dedup.Xx64))
    val err = intercept[IllegalArgumentException] {
      WindowIndex.meta(spark, TestSpark.tmpDir("winidx_empty"))
    }
    assert(err.getMessage.contains("no window index"))
  }

  test("probe == full-corpus duplicateSpans restricted to the batch docs") {
    // THE incremental contract: dup-ness judged against index ∪ batch
    // equals dup-ness judged against the whole corpus, because the
    // index's per-hash counts cover corpus ∖ batch exactly
    val dir = TestSpark.tmpDir("winidx_probe")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
    val incremental = spanSet(WindowIndex.probe(batch, "text", dir))
    val full = spanSet(
      Spans.duplicateSpans(docs, "text", "doc_id", n = 3)
        .filter($"doc_id" % 10 === 0))
    assert(incremental == full)
    assert(incremental.nonEmpty, "fixture must exercise cross-batch duplication")
  }

  test("probe finds batch-internal dups even when the index has no hits") {
    val dir = TestSpark.tmpDir("winidx_internal")
    WindowIndex.build(
      Seq((100L, "totally unrelated standing corpus content here")).toDF("doc_id", "text"),
      "text", "doc_id", dir, n = 3)
    val b = Seq(
      (1L, "a b shared run c d"),
      (2L, "e f shared run c g")).toDF("doc_id", "text")
    // "shared run c" occurs in both batch docs — a dup the index never saw
    val spans = spanSet(WindowIndex.probe(b, "text", dir))
    assert(spans == Set((1L, 3L, 6L, 1L), (2L, 3L, 6L, 1L)))
  }

  test("ingestBatch appends: the NEXT batch sees this batch's windows") {
    val dir = TestSpark.tmpDir("winidx_ingest")
    WindowIndex.build(
      Seq((100L, "standing corpus with no boilerplate at all")).toDF("doc_id", "text"),
      "text", "doc_id", dir, n = 3)
    val dayA = Seq((1L, "x y boiler plate text z")).toDF("doc_id", "text")
    val dayB = Seq((2L, "p q boiler plate text r")).toDF("doc_id", "text")
    // day A: nothing duplicated yet (corpus has no overlap with A)
    assert(spanSet(WindowIndex.ingestBatch(dayA, "text", dir)).isEmpty)
    // day B: the shared "boiler plate text" must be found — which only
    // happens if day A's counts were appended (append visibility)
    assert(spanSet(WindowIndex.ingestBatch(dayB, "text", dir)) ==
      Set((2L, 3L, 6L, 1L)))
  }

  test("scrubProbe: arrival-order keep-first — corpus canonical even with a LARGER id") {
    val dir = TestSpark.tmpDir("winidx_scrub")
    // corpus doc id 100 > every batch id: id order must NOT matter
    WindowIndex.build(
      Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "text", "doc_id", dir, n = 3)
    val b = Seq(
      (1L, "alpha beta gamma end"),     // corpus-seen window → cut
      (2L, "fresh run of new tokens"),  // corpus-new, single → kept whole
      (3L, "fresh run of other words"), // shares batch window with 2 → cut here
      (4L, "xx yy")                     // < n tokens → untouched
    ).toDF("doc_id", "text")
    val out = WindowIndex.scrubProbe(b, "text", dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(out(1L) == (("end", 3L)), "corpus-seen span cut despite corpus id 100 > 1")
    assert(out(2L) == (("fresh run of new tokens", 0L)),
      "first batch occurrence of a corpus-new window survives")
    assert(out(3L) == (("other words", 3L)),
      "later batch occurrence of the shared window is cut")
    assert(out(4L) == (("xx yy", 0L)), "short docs pass through untouched")
    // md5-only contract for the destructive path
    val xxDir = TestSpark.tmpDir("winidx_scrub_xx")
    WindowIndex.build(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "text", "doc_id", xxDir,
      n = 3, kind = Dedup.Xx64)
    val err = intercept[IllegalArgumentException] {
      WindowIndex.scrubProbe(b, "text", xxDir)
    }
    assert(err.getMessage.contains("detection-grade"))
  }

  test("stats: metadata-only read equals corpus-derived numbers, tracks appends") {
    val dir = TestSpark.tmpDir("winidx_stats")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
    def direct(d: org.apache.spark.sql.DataFrame) = {
      val c = Spans.windowHashCounts(d, "text", "doc_id", 3)
        .as[(String, Long)].collect()
      (c.length.toLong, c.map(_._2).sum, c.count(_._2 > 1).toLong, d.count())
    }
    def fromIndex() = {
      val r = WindowIndex.stats(spark, dir).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    assert(fromIndex() == direct(corpus))
    // appends fold in: stats now describe corpus ∪ batch
    WindowIndex.append(batch, "text", dir)
    assert(fromIndex() == direct(docs))
  }

  test("noveltyProbe: known ratios; batch-internal repeats stay novel") {
    val dir = TestSpark.tmpDir("winidx_novelty")
    WindowIndex.build(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "text", "doc_id", dir, n = 3)
    val b = Seq(
      (10L, "alpha beta gamma delta"),      // re-crawl: 2 windows, 0 novel
      (11L, "alpha beta gamma epsilon"),    // 1 seen, 1 novel
      (12L, "wholly new content here now"), // 3 windows, all novel
      (13L, "xx yy")                        // < n tokens → no row
    ).toDF("doc_id", "text")
    val out = WindowIndex.noveltyProbe(b, "text", dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out == Map(
      10L -> ((2L, 0L, 0.0)),
      11L -> ((2L, 1L, 0.5)),
      12L -> ((3L, 3L, 1.0))))
    // batch-internal repetition is NOT "seen": two batch docs sharing
    // a window the corpus lacks both stay fully novel
    val twins = Seq(
      (20L, "shared run of tokens"), (21L, "shared run of tokens"))
      .toDF("doc_id", "text")
    val tw = WindowIndex.noveltyProbe(twins, "text", dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(tw == Map(20L -> 1.0, 21L -> 1.0))
  }

  test("delete ≡ an index rebuilt on corpus-minus-deleted") {
    val dir = TestSpark.tmpDir("winidx_forget")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
    val takedown = corpus.filter($"doc_id" % 7 === 0)
    WindowIndex.delete(takedown, "text", dir)
    val rebuiltDir = TestSpark.tmpDir("winidx_forget_rebuild")
    WindowIndex.build(
      corpus.filter($"doc_id" % 7 =!= 0), "text", "doc_id", rebuiltDir, n = 3)
    def norm(d: String) = WindowIndex.counts(spark, d)
      .groupBy("hh").agg(sum("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(norm(dir) == norm(rebuiltDir))
    // the ledger forgets the deleted ids too
    val ledger = WindowIndex.processedIds(spark, dir)
      .as[Long].collect().toSet
    assert(ledger == corpus.filter($"doc_id" % 7 =!= 0)
      .select("doc_id").as[Long].collect().toSet)
    // and the batch probe equals the rebuilt index's probe
    assert(spanSet(WindowIndex.probe(batch, "text", dir)) ==
      spanSet(WindowIndex.probe(batch, "text", rebuiltDir)))
  }

  test("deleting a window's only other occurrence un-duplicates it") {
    val dir = TestSpark.tmpDir("winidx_forget_undup")
    WindowIndex.build(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "completely different standing text")).toDF("doc_id", "text"),
      "text", "doc_id", dir, n = 3)
    val b = Seq((10L, "alpha beta gamma end")).toDF("doc_id", "text")
    // before: "alpha beta gamma" is shared with indexed doc 1
    assert(spanSet(WindowIndex.probe(b, "text", dir)) == Set((10L, 1L, 4L, 1L)))
    WindowIndex.delete(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"), "text", dir)
    // after the takedown nothing in the corpus repeats the window
    assert(spanSet(WindowIndex.probe(b, "text", dir)).isEmpty)
  }

  test("a duplicated id in the takedown request subtracts once, not twice") {
    val dir = TestSpark.tmpDir("winidx_forget_dupreq")
    WindowIndex.build(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon")).toDF("doc_id", "text"),
      "text", "doc_id", dir, n = 3)
    // doc 1 listed twice: a double subtraction would drive the shared
    // "alpha beta gamma" count to 0 and erase doc 2's occurrence
    WindowIndex.delete(
      Seq((1L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"))
        .toDF("doc_id", "text"), "text", dir)
    val counts = WindowIndex.counts(spark, dir)
      .groupBy("hh").agg(sum("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    val rebuiltDir = TestSpark.tmpDir("winidx_forget_dupreq_rebuild")
    WindowIndex.build(Seq((2L, "alpha beta gamma epsilon")).toDF("doc_id", "text"),
      "text", "doc_id", rebuiltDir, n = 3)
    val rebuilt = WindowIndex.counts(spark, rebuiltDir)
      .groupBy("hh").agg(sum("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(counts == rebuilt)
  }

  test("delete rejects ids missing from the ledger") {
    val dir = TestSpark.tmpDir("winidx_forget_missing")
    WindowIndex.build(
      Seq((1L, "some standing corpus document text")).toDF("doc_id", "text"),
      "text", "doc_id", dir, n = 3)
    val err = intercept[IllegalArgumentException] {
      WindowIndex.delete(
        Seq((99L, "never indexed text here")).toDF("doc_id", "text"), "text", dir)
    }
    assert(err.getMessage.contains("not in the index ledger"))
  }

  test("compact preserves probe results and collapses accreted rows") {
    val dir = TestSpark.tmpDir("winidx_compact")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
    // accrete: two DIFFERENT slices (same docs would overwrite — the
    // idempotence contract) so some hashes carry >1 live row
    WindowIndex.append(batch.limit(10), "text", dir)
    WindowIndex.append(batch.limit(20), "text", dir)
    val before = WindowIndex.counts(spark, dir)
      .groupBy("hh").agg(sum("cnt").as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = WindowIndex.processedIds(spark, dir)
      .as[Long].collect().sorted.toSeq
    WindowIndex.compact(spark, dir, numFiles = 2)
    val after = WindowIndex.counts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before, "compaction must not change per-hash totals")
    // one row per hash after compaction
    assert(WindowIndex.counts(spark, dir).groupBy("hh").count()
      .filter($"count" > 1).count() == 0)
    assert(WindowIndex.processedIds(spark, dir).as[Long].collect().sorted.toSeq
      == ids, "compaction must preserve the processed-docs ledger")
  }

  test("compactIfFragmented is a no-op until appends accrete") {
    val dir = TestSpark.tmpDir("winidx_frag")
    WindowIndex.build(corpus.limit(20), "text", "doc_id", dir, n = 3)
    val nBuild = spark.read.parquet(s"$dir/store/counts").inputFiles.length
    assert(!WindowIndex.compactIfFragmented(spark, dir, targetFiles = nBuild))
    (1 to 2 * nBuild + 1).foreach { i =>
      // distinct doc sets → distinct committed batches (fragmentation)
      WindowIndex.append(batch.limit(2 + i), "text", dir)
    }
    assert(WindowIndex.compactIfFragmented(spark, dir, targetFiles = nBuild))
    assert(spark.read.parquet(s"$dir/store/counts").inputFiles.length <= nBuild)
  }

  private def storeState(dir: String) = (
    WindowIndex.counts(spark, dir).groupBy("hh").agg(sum("cnt").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
    WindowIndex.processedIds(spark, dir).as[Long].collect().sorted.toSeq)

  test("reads resolve a crashed-rewrite window WITHOUT mutating the store") {
    val dir = TestSpark.tmpDir("winidx_read_resolve")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
    val before = storeState(dir)
    val spans = spanSet(WindowIndex.probe(batch, "text", dir))
    // a delete/compact crashed between its two renames
    val d = TestSpark.crashSwap(dir, "store", "compacting")
    assert(storeState(dir) == before)
    assert(spanSet(WindowIndex.probe(batch, "text", dir)) == spans)
    assert(!WindowIndex.compactIfFragmented(spark, dir, targetFiles = 1000))
    assert(TestSpark.swapState(d) == ((false, true, true)),
      "a read must not rename the store or delete the staged rewrite")
    // the next WRITER heals the window, then appends
    WindowIndex.append(batch, "text", dir)
    assert(TestSpark.swapState(d) == ((true, false, false)))
    assert(storeState(dir)._2 == (before._2 ++
      batch.select("doc_id").as[Long].collect()).sorted)
  }

  test("compact started inside a crashed-rewrite window heals, then equals a clean compact") {
    def accreted(name: String) = {
      val dir = TestSpark.tmpDir(name)
      WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
      WindowIndex.append(batch.limit(10), "text", dir)
      WindowIndex.append(batch.limit(20), "text", dir)
      dir
    }
    val ctlDir = accreted("winidx_compact_ctl")
    WindowIndex.compact(spark, ctlDir, numFiles = 2)
    val dir = accreted("winidx_compact_crash")
    val d = TestSpark.crashSwap(dir, "store", "compacting")
    WindowIndex.compact(spark, dir, numFiles = 2)
    assert(TestSpark.swapState(d) == ((true, false, false)))
    assert(storeState(dir) == storeState(ctlDir))
  }

  test("compactIfFragmented: never-built root is a no-op, a missing root fails loudly") {
    assert(!WindowIndex.compactIfFragmented(
      spark, TestSpark.tmpDir("winidx_never_built"), targetFiles = 2))
    intercept[IllegalArgumentException] {
      WindowIndex.compactIfFragmented(
        spark, TestSpark.tmpDir("winidx_root") + "/nope", targetFiles = 2)
    }
  }

  test("a crashed append (no commit marker) is invisible, and the replay is exactly-once") {
    // control: the same wave ingested with no crash anywhere
    val ctlDir = TestSpark.tmpDir("winidx_crash_ctl")
    WindowIndex.build(corpus, "text", "doc_id", ctlDir, n = 3)
    val ctlSpans = spanSet(WindowIndex.ingestBatch(batch, "text", ctlDir))
    def state(dir: String) = (
      WindowIndex.counts(spark, dir).groupBy("hh").agg(sum("cnt").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      WindowIndex.processedIds(spark, dir).as[Long].collect().sorted.toSeq)

    val dir = TestSpark.tmpDir("winidx_crash")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
    val preCounts = WindowIndex.counts(spark, dir).agg(sum("cnt")).head.getLong(0)
    val preIds = WindowIndex.processedIds(spark, dir).count()
    WindowIndex.append(batch, "text", dir)
    // simulate the crash window: counts partition written, docs commit
    // marker never created
    val tag = graft.io.Commits.batchTag(batch, "doc_id")
    val mk = new org.apache.hadoop.fs.Path(s"$dir/store/docs/batch=$tag/_graft_committed")
    val fs = mk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(mk), "sanity: committed append has a marker")
    fs.delete(mk, false)
    // orphan is invisible to every reader
    assert(WindowIndex.counts(spark, dir).agg(sum("cnt")).head.getLong(0) == preCounts)
    assert(WindowIndex.processedIds(spark, dir).count() == preIds,
      "uncommitted docs must re-enter the next delta")
    // the retry overwrites the orphan in place and commits: report AND
    // store must equal the never-crashed control (exactly-once) and
    // the full-corpus truth
    val spans = spanSet(WindowIndex.ingestBatch(batch, "text", dir))
    assert(spans == ctlSpans, "post-heal report equals the crash-free run")
    assert(spans == spanSet(
      Spans.duplicateSpans(docs, "text", "doc_id", n = 3)
        .filter($"doc_id" % 10 === 0)),
      "post-heal report equals the full-corpus truth restricted to the batch")
    assert(state(dir) == state(ctlDir), "post-heal store equals the crash-free store")
  }

  test("a direct append fails visibly while another writer holds the claim") {
    val dir = TestSpark.tmpDir("winidx_claim")
    WindowIndex.build(corpus, "text", "doc_id", dir, n = 3)
    graft.io.Commits.acquireClaim(spark, dir)
    intercept[graft.io.Commits.ConcurrentWriteException] {
      WindowIndex.append(batch, "text", dir)
    }
    graft.io.Commits.forceReleaseClaim(spark, dir)
    WindowIndex.append(batch, "text", dir)
    assert(WindowIndex.processedIds(spark, dir).count() == docs.count())
  }
}
