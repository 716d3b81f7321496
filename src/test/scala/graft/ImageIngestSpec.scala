package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ImageDedup, Multimodal}
import graft.sources.WarcIO
import graft.streaming.ImageIngest

class ImageIngestSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def urn(i: Long) = s"<urn:graft:img:$i>"

  /** Land one WARC wave of demoPng payloads (plus one text record that
    * the image gate must ignore). */
  private def landWave(dir: String, ids: Seq[Long]): Unit =
    WarcIO.writeWarc(
      (ids.map(i => (s"http://img.example/$i", "2026-01-01T00:00:00Z",
          urn(i), "image/png", Multimodal.demoPng(i, 36, 32))) :+
        (("http://txt.example/x", "2026-01-01T00:00:00Z",
          "<urn:graft:txt:1>", "text/plain", "not an image".getBytes("UTF-8"))))
        .toDF("target_uri", "warc_date", "record_id", "content_type", "payload")
        .repartition(2),
      dir)

  test("maintainImages: exactly-once gating, batch×corpus pairs, crash heal") {
    val base = TestSpark.tmpDir("image_ingest")
    def drain() = ImageIngest.maintainImages(
      spark, s"$base/landing", s"$base/silver", s"$base/ledger",
      s"$base/index", maxHamming = 6)

    assert(drain().count() == 0, "empty landing zone is a clean no-op")

    // wave 1: cluster 0 (ids 1, 2) + cluster 5 (id 51); batch-internal
    // pair (1, 2) only — id 13 is a truncated blob that must drop
    landWave(s"$base/landing/w1", Seq(1L, 2L, 51L, 13L))
    def unordered(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => Set(r.getString(0), r.getString(1))).toSet
    val p1 = unordered(drain().collect())
    assert(p1 == Set(Set(urn(1), urn(2))))
    // the text record and the corrupt blob never enter the index
    assert(ImageIngest.readHashes(spark, s"$base/index")
      .select("media_id").collect().map(_.getString(0)).toSet ==
      Set(urn(1), urn(2), urn(51)))

    // re-drain with nothing new: no pairs, no index growth
    assert(drain().count() == 0)

    // wave 2: id 3 joins cluster 0 → pairs against BOTH standing
    // members; id 55 joins cluster 5 → pairs with standing id 51
    landWave(s"$base/landing/w2", Seq(3L, 55L))
    val p2 = unordered(drain().collect())
    assert(p2 == Set(
      Set(urn(1), urn(3)), Set(urn(2), urn(3)), Set(urn(51), urn(55))))

    // hashes in the index match the batch kernel exactly
    val stored = ImageIngest.readHashes(spark, s"$base/index")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val grid = Multimodal.lumaGrid(Multimodal.demoPng(3L, 36, 32), 9, 8).get
    assert(stored(urn(3)) == ImageDedup.hashesOfGrid(grid, 9)._1)

    // CRASH SIMULATION: wave 3 reaches silver (drainWarc committed),
    // but the process dies before the hash-index append — the
    // index-as-ledger delta must recover those images next drain
    landWave(s"$base/landing/w3", Seq(4L))
    graft.streaming.WarcIngest.drainWarc(
      spark, s"$base/landing", s"$base/silver", s"$base/ledger")
    val p3 = unordered(drain().collect())
    assert(p3 == Set(
      Set(urn(1), urn(4)), Set(urn(2), urn(4)), Set(urn(3), urn(4))),
      "images stranded in silver by a crash must be gated on the next drain")

    // concurrent drain fails visibly under the index claim
    graft.io.Commits.acquireClaim(spark, s"$base/index")
    intercept[graft.io.Commits.ConcurrentWriteException] { drain() }
    graft.io.Commits.forceReleaseClaim(spark, s"$base/index")
    assert(drain().count() == 0)

    // CRASH SIMULATION 2 (the marker/folded window): wave 4 drains
    // FULLY, then the folded record rolls back — the replayed drain's
    // delta is empty, but the crashed drain's caller never received
    // its pairs; the stored pair report must re-surface them
    landWave(s"$base/landing/w4", Seq(5L))
    val foldedBefore = TestSpark.snapshotVersion(s"$base/index/folded")
    val p4 = unordered(drain().collect())
    assert(p4 == Set(Set(urn(1), urn(5)), Set(urn(2), urn(5)),
      Set(urn(3), urn(5)), Set(urn(4), urn(5))))
    TestSpark.restoreVersion(s"$base/index/folded", foldedBefore)
    assert(unordered(drain().collect()) == p4,
      "a marker-committed / folded-uncommitted batch must re-surface " +
        "its stored pair report on replay")
    assert(drain().count() == 0, "the healed replay is one-shot")

    // PRE-UPGRADE window: the same crash but the batch lacks the
    // source-file sidecar (persisted by the r18 code) — the legacy
    // id-overlap test must still locate and re-emit the report
    landWave(s"$base/landing/w5", Seq(53L)) // joins cluster 5 (51, 55)
    val foldedBefore5 = TestSpark.snapshotVersion(s"$base/index/folded")
    val p5 = unordered(drain().collect())
    assert(p5.nonEmpty)
    TestSpark.restoreVersion(s"$base/index/folded", foldedBefore5)
    // strip ONLY the in-window batch's sidecar — the realistic mixed
    // transition store: one r18-era batch at the frontier above
    // sidecar-carrying folded batches, so the scan must run the
    // legacy id test for it, then switch back to the sidecar test
    // and stop on the first folded batch
    val ifs = new org.apache.hadoop.fs.Path(s"$base/index")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foldedNow = graft.io.Commits
      .readVersioned(spark, s"$base/index/folded")
      .get._2.collect().map(_.getString(0)).toSet
    val freshNow = {
      val p = new org.apache.hadoop.fs.Path(s"$base/silver")
      ifs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSet -- foldedNow
    }
    assert(freshNow.nonEmpty, "the rolled-back fold must leave fresh files")
    val stripped = ifs.listStatus(
        new org.apache.hadoop.fs.Path(s"$base/index/pairs"))
      .map(d => new org.apache.hadoop.fs.Path(d.getPath, "_graft_sources"))
      .filter(ifs.exists(_))
      .filter { p =>
        val in = ifs.open(p)
        val srcs = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toSet finally in.close()
        srcs.exists(freshNow) // the in-window batch only
      }
      .map { p => ifs.delete(p, false); p }
    assert(stripped.length == 1, "exactly the window batch is stripped")
    assert(unordered(drain().collect()) == p5,
      "a pre-sidecar (r18) batch inside the window must heal through " +
        "the legacy id-overlap test")
    assert(ifs.exists(stripped.head),
      "the legacy test must BACKFILL the sidecar it derived")
    assert(drain().count() == 0, "and the fold then closes the window")

    // O(drain) contract: the durable folded record now covers every
    // silver data file, so the next drain reads NO silver payload at
    // all (fresh = ∅ short-circuits before any parquet scan)
    val silverFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$base/silver")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    val folded = graft.io.Commits.readVersioned(spark, s"$base/index/folded")
      .get._2.collect().map(_.getString(0)).toSet
    assert(folded == silverFiles,
      "folded record must track exactly the silver data files")
  }

  test("at-least-once re-delivery in a NEW silver file is not a crash replay") {
    val base = TestSpark.tmpDir("image_ingest_alo")
    def drain() = ImageIngest.maintainImages(
      spark, s"$base/landing", s"$base/silver", s"$base/ledger",
      s"$base/index", maxHamming = 6)
    landWave(s"$base/landing/w1", Seq(1L, 2L))
    assert(drain().count() == 1) // pair (1, 2); batch committed AND folded
    // an at-least-once producer re-delivers id 1 in a NEW silver file
    // (bypassing the WARC ledger — silver is exactly-once only for
    // well-behaved producers). Under the first-draft id-overlap test
    // this was indistinguishable from a crash replay and re-emitted
    // the folded batch's stored pair report; the commit-state test
    // sees every committed batch's sources folded and stays quiet.
    Seq((urn(1), "http://img.example/1", "2026-01-01T00:00:00Z",
        "image/png", Multimodal.demoPng(1L, 36, 32), "redelivered"))
      .toDF("record_id", "target_uri", "warc_date", "content_type",
        "payload", "source_file")
      .coalesce(1).write.mode("append").parquet(s"$base/silver")
    assert(drain().count() == 0,
      "a re-delivered id in a new file must not re-surface stored pairs")
    assert(drain().count() == 0, "and the fold must have advanced")
  }

  test("an image carried twice by each of two drains keeps both batches") {
    val base = TestSpark.tmpDir("image_ingest_twice")
    def drain() = ImageIngest.maintainImages(
      spark, s"$base/landing", s"$base/silver", s"$base/ledger",
      s"$base/index", maxHamming = 6)
    // one silver file holding the same record twice (a re-delivered
    // archive): a tag over the raw rows XORs the id hash with itself,
    // so both drains would land on b2x0 and the second's overwrite
    // would delete the first image from the store
    def appendTwice(i: Long): Unit =
      Seq.fill(2)((urn(i), s"http://img.example/$i", "2026-01-01T00:00:00Z",
          "image/png", Multimodal.demoPng(i, 36, 32), "redelivered"))
        .toDF("record_id", "target_uri", "warc_date", "content_type",
          "payload", "source_file")
        .coalesce(1).write.mode("append").parquet(s"$base/silver")
    appendTwice(7L)
    drain()
    appendTwice(8L)
    drain()
    assert(ImageIngest.readHashes(spark, s"$base/index")
      .select("media_id").distinct().collect().map(_.getString(0)).toSet ==
      Set(urn(7), urn(8)))
  }

  test("hammingProbe: batch-internal + batch×corpus, never corpus×corpus") {
    val corpus = Seq(("c1", 0x1111222233334444L), ("c2", 0x1111222233334445L))
      .toDF("id", "h") // corpus pair (c1, c2) differs by 1 bit — but
                       // neither is in the batch, so it must NOT surface
    val batch = Seq(
      ("b1", 0x1111222233334444L ^ (1L << 5)), // near c1/c2
      ("b2", 0x7777666655554444L))             // shares band 0 only; far
      .toDF("id", "h")
    val got = ImageDedup.hammingProbe(batch, corpus, "id", "h", maxHamming = 6)
      .collect().map(r => (Set(r.getString(0), r.getString(1)), r.getLong(2))).toSet
    assert(got == Set((Set("b1", "c1"), 1L), (Set("b1", "c2"), 2L)))
  }
}
