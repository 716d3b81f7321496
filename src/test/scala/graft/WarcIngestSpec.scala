package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WarcIO
import graft.streaming.WarcIngest

class WarcIngestSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def landWave(dir: String, ids: Seq[Long]): Unit =
    WarcIO.writeWarc(
      ids.map(i => (s"http://w.example/$i", "2026-01-01T00:00:00Z",
          s"<urn:graft:rec:$i>", "text/plain", s"payload $i".getBytes("UTF-8")))
        .toDF("target_uri", "warc_date", "record_id", "content_type", "payload")
        .repartition(2),
      dir)

  test("drainWarc: only-new-files reads, idempotent re-drains, crash recovery") {
    val base = TestSpark.tmpDir("warc_ingest")
    val landing = s"$base/landing"
    def drain() = WarcIngest.drainWarc(
      spark, landing, s"$base/silver", s"$base/ledger")

    // drain before anything lands: clean empty no-op
    assert(drain().count() == 0)

    landWave(s"$landing/w1", 1L to 10L)
    val d1 = drain()
    assert(d1.count() == 10)
    assert(spark.read.parquet(s"$base/silver").count() == 10)

    // nothing new: no reads, no appends
    assert(drain().count() == 0)
    assert(spark.read.parquet(s"$base/silver").count() == 10)

    // second wave drains ONLY its own records
    landWave(s"$landing/w2", 11L to 15L)
    val d2 = drain()
    assert(d2.count() == 5)
    assert(d2.select("record_id").as[String].collect()
      .forall(r => (11 to 15).exists(i => r == s"<urn:graft:rec:$i>")))
    val silver = spark.read.parquet(s"$base/silver")
    assert(silver.count() == 15)
    assert(silver.select("record_id").distinct().count() == 15)

    // crash between silver append and ledger append: simulate by
    // deleting the ledger — the re-read anti-joins everything away
    // and the silver layer stays duplicate-free
    val fs = new org.apache.hadoop.fs.Path(s"$base/ledger")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ledger"), true)
    assert(drain().count() == 0)
    assert(spark.read.parquet(s"$base/silver").count() == 15)

    // payloads round-trip byte-exactly
    val pay = spark.read.parquet(s"$base/silver")
      .select(col("record_id"), decode(col("payload"), "UTF-8").as("p"))
      .filter(col("record_id") === "<urn:graft:rec:3>")
      .select("p").as[String].head()
    assert(pay == "payload 3")
  }

  test("ledger diff is a distributed anti-join, correct against a large ledger") {
    val base = TestSpark.tmpDir("warc_ledger")
    // a multi-year ledger: 50k processed archives (plus duplicate
    // appends, which the set semantics must absorb)
    val ledger = (0 until 50000)
      .map(i => s"file:/zone/archive-$i.warc.gz").toDF("file")
    ledger.write.mode("append").parquet(s"$base/ledger")
    ledger.limit(100).write.mode("append").parquet(s"$base/ledger") // replays
    val listed = Seq(
      "file:/zone/archive-17.warc.gz",   // processed
      "file:/zone/archive-49999.warc.gz", // processed (also replayed)
      "file:/zone/archive-50000.warc.gz", // new
      "file:/zone/fresh.warc.gz")        // new
    val diff = graft.io.FileLedger.unseen(spark, listed, s"$base/ledger")
    // the plan is join-based: the ledger streams through executors,
    // it is never collected to the driver
    val plan = diff.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected an anti-join plan:\n$plan")
    assert(diff.as[String].collect().sorted.toSeq ==
      Seq("file:/zone/archive-50000.warc.gz", "file:/zone/fresh.warc.gz"))
  }
}
