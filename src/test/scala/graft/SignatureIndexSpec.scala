package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.SignatureIndex
import graft.ops.Dedup

class SignatureIndexSpec extends AnyFunSuite {
  import TestSpark.spark

  import spark.implicits._

  private val docs = TestSpark.table("documents")
  private def corpus = docs.filter($"doc_id" % 10 =!= 0)
  private def batch = docs.filter($"doc_id" % 10 === 0)

  test("build → meta round-trips the hash parameters") {
    val dir = TestSpark.tmpDir("sigidx_meta")
    SignatureIndex.build(corpus, "text", "doc_id", dir,
      numHashes = 8, bands = 4, shingleWords = 3, kind = Dedup.Xx64)
    val m = SignatureIndex.meta(spark, dir)
    assert(m == SignatureIndex.Meta("doc_id", 8, 4, 3, Dedup.Xx64))
  }

  test("meta fails cleanly on a dir with no committed index") {
    val err = intercept[IllegalArgumentException] {
      SignatureIndex.meta(spark, TestSpark.tmpDir("sigidx_empty"))
    }
    assert(err.getMessage.contains("no signature index"))
  }

  test("stored signatures equal a direct minhashSignatures run") {
    val dir = TestSpark.tmpDir("sigidx_sigs")
    SignatureIndex.build(corpus, "text", "doc_id", dir)
    val stored = SignatureIndex.signatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val direct = Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(stored == direct)
  }

  test("probe equals the in-memory incremental pipeline") {
    val dir = TestSpark.tmpDir("sigidx_probe")
    SignatureIndex.build(corpus, "text", "doc_id", dir)
    val viaIndex = SignatureIndex.probe(docs, batch, "text", dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.incrementalNearDups(
      docs, Dedup.minhashSignatures(corpus, "text", "doc_id", 8, 3),
      batch, "text", "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex == direct)
  }

  test("delete ≡ an index rebuilt without the deleted docs") {
    val dir = TestSpark.tmpDir("sigidx_forget")
    SignatureIndex.build(corpus, "text", "doc_id", dir)
    SignatureIndex.delete(
      corpus.filter($"doc_id" % 7 === 0).select("doc_id"), dir)
    val afterDelete = SignatureIndex.signatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rebuiltDir = TestSpark.tmpDir("sigidx_forget_rebuild")
    SignatureIndex.build(
      corpus.filter($"doc_id" % 7 =!= 0), "text", "doc_id", rebuiltDir)
    val rebuilt = SignatureIndex.signatures(spark, rebuiltDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(afterDelete == rebuilt)
    assert(afterDelete.keySet.forall(id => id % 7 != 0 || id % 10 == 0))
    // meta (and so the probe parameters) survives the rewrite
    assert(SignatureIndex.meta(spark, dir) ==
      SignatureIndex.meta(spark, rebuiltDir))
  }

  test("probe after delete never pairs a forgotten doc") {
    val dir = TestSpark.tmpDir("sigidx_forget_probe")
    SignatureIndex.build(corpus, "text", "doc_id", dir)
    val before = SignatureIndex.probe(docs, batch, "text", dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deleted = before.flatMap(p => Seq(p._1, p._2))
      .filter(id => id % 10 != 0).take(1)
    assume(deleted.nonEmpty, "fixture must pair the batch with the corpus")
    SignatureIndex.delete(deleted.toSeq.toDF("doc_id"), dir)
    val after = SignatureIndex.probe(docs, batch, "text", dir, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.filterNot(p =>
      deleted.contains(p._1) || deleted.contains(p._2)))
  }

  test("ingestBatch appends: the NEXT batch sees this batch's docs") {
    val dir = TestSpark.tmpDir("sigidx_ingest")
    // day 0: corpus = docs with id % 10 ∈ {1..7}; batch A = % 10 == 8,
    // batch B = % 10 ∈ {0, 9}. After ingesting A, probing B must find
    // B×A pairs — which only exist if A's signatures were appended.
    val day0 = docs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 8 && $"doc_id" % 10 =!= 9)
    val batchA = docs.filter($"doc_id" % 10 === 8)
    val batchB = docs.filter($"doc_id" % 10 === 0 || $"doc_id" % 10 === 9)
    SignatureIndex.build(day0, "text", "doc_id", dir)
    SignatureIndex.ingestBatch(docs, batchA, "text", dir, threshold = 0.8)
    val afterB = SignatureIndex.probe(docs, batchB, "text", dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: full-corpus pairs restricted to (B × (day0 ∪ A ∪ B))
    val bIds = batchB.select("doc_id").as[Long].collect().toSet
    val full = Dedup.verifiedNearDups(docs, "text", "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => bIds(p._1) || bIds(p._2))
    assert(afterB == full)
    val crossAB = afterB.filter { case (a, b) =>
      (a % 10 == 8) != (b % 10 == 8) } // exactly one side in A
    assert(full.exists { case (a, b) => a % 10 == 8 || b % 10 == 8 },
      "fixture must exercise B×A pairs for the append to be observable")
    assert(crossAB.nonEmpty)
  }

  test("compact: fewer files, identical signatures, probe unchanged") {
    val dir = TestSpark.tmpDir("sigidx_compact")
    SignatureIndex.build(corpus.repartition(4), "text", "doc_id", dir)
    // three daily appends accrete small files
    Seq(8, 9, 0).foreach { m =>
      SignatureIndex.append(docs.filter($"doc_id" % 10 === m), "text", dir)
    }
    def sigFiles() = new java.io.File(s"$dir/sigs").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    def sigSet() = SignatureIndex.signatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val before = sigSet()
    assert(sigFiles() > 2)
    SignatureIndex.compact(spark, dir, numFiles = 2)
    assert(sigFiles() == 2, "compaction must hit the requested file count")
    assert(sigSet() == before, "compaction must not change a single signature")
    // probing still works against the compacted store
    val pairs = SignatureIndex.probe(docs, batch, "text", dir, 0.8)
    assert(pairs.count() > 0)
  }

  test("a crash between compact's renames: reads resolve it, the next writer heals") {
    val dir = TestSpark.tmpDir("sigidx_crash")
    SignatureIndex.build(corpus, "text", "doc_id", dir)
    def sigSet() = SignatureIndex.signatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val before = sigSet()
    // simulate the crash window: live dir retired, staged dir half-written
    val live = new java.io.File(s"$dir/sigs")
    assert(live.renameTo(new java.io.File(s"$dir/sigs_prev")))
    new java.io.File(s"$dir/sigs_compacting").mkdirs()
    assert(sigSet() == before, "reader must transparently read sigs_prev")
    assert(new java.io.File(s"$dir/sigs_prev").exists() && !live.exists(),
      "a read must not heal the window")
    // the next writer heals before its rewrite
    SignatureIndex.compact(spark, dir, numFiles = 2)
    assert(sigSet() == before)
    assert(live.exists() && !new java.io.File(s"$dir/sigs_prev").exists())
  }

  test("reads resolve a crashed-rewrite window WITHOUT mutating the store") {
    val dir = TestSpark.tmpDir("sigidx_read_resolve")
    SignatureIndex.build(corpus, "text", "doc_id", dir)
    def sigSet() = SignatureIndex.signatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val before = sigSet()
    val pairs = SignatureIndex.probe(docs, batch, "text", dir, 0.8).collect().toSet
    // a delete/compact crashed between its two renames
    val d = TestSpark.crashSwap(dir, "sigs", "compacting")
    assert(sigSet() == before)
    assert(SignatureIndex.probe(docs, batch, "text", dir, 0.8).collect().toSet == pairs)
    assert(!SignatureIndex.compactIfFragmented(spark, dir, targetFiles = 1000))
    assert(TestSpark.swapState(d) == ((false, true, true)),
      "a read must not rename the store or delete the staged rewrite")
    // the next WRITER heals the window, then appends
    SignatureIndex.append(batch, "text", dir)
    assert(TestSpark.swapState(d) == ((true, false, false)))
    assert(sigSet().keySet == before.keySet ++
      batch.select("doc_id").as[Long].collect().toSet)
  }

  test("append validates against the stored meta, not caller arguments") {
    val dir = TestSpark.tmpDir("sigidx_drift")
    SignatureIndex.build(corpus, "text", "doc_id", dir, numHashes = 16, bands = 8)
    SignatureIndex.append(batch, "text", dir)
    // every appended signature must have the STORED width (16), proving
    // the batch could not drift to the default 8
    val widths = SignatureIndex.signatures(spark, dir)
      .select(size($"sig")).distinct().as[Int].collect().toSet
    assert(widths == Set(16))
  }

  test("compactIfFragmented on a never-built store is a clean no-op") {
    // existing-but-empty store root: acceptable no-op
    assert(!SignatureIndex.compactIfFragmented(
      spark, TestSpark.tmpDir("sigidx_never_built"), targetFiles = 2))
    // MISSING store root (mistyped path): fail loudly, never a
    // silent forever-no-op
    intercept[IllegalArgumentException] {
      SignatureIndex.compactIfFragmented(
        spark, TestSpark.tmpDir("sigidx_root") + "/nope", targetFiles = 2)
    }
  }

  test("a direct append fails visibly while another writer holds the claim") {
    val dir = TestSpark.tmpDir("sigidx_claim")
    SignatureIndex.build(corpus, "text", "doc_id", dir)
    graft.io.Commits.acquireClaim(spark, dir)
    intercept[graft.io.Commits.ConcurrentWriteException] {
      SignatureIndex.append(batch, "text", dir)
    }
    graft.io.Commits.forceReleaseClaim(spark, dir)
    SignatureIndex.append(batch, "text", dir)
    assert(SignatureIndex.signatures(spark, dir).count() == docs.count())
  }
}
