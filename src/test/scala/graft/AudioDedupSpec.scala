package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AudioDedup, Multimodal}

class AudioDedupSpec extends AnyFunSuite {
  import TestSpark.spark

  /** The demoTone sample formula, independently restated. */
  private def tone(id: Long, i: Int): Int = {
    val c = id / 10
    val p1 = (2 + c % 7).toInt
    val p2 = (3 + (5 * c) % 11).toInt
    val ph1 = (c % 5).toInt
    val ph2 = (c % 13).toInt
    val a1 = (9000 - 100 * (c % 23)).toInt
    val a2 = (5000 + 100 * (c % 29)).toInt
    val noise = ((c * 2654435761L + i * 40503L) % 4001L - 2000L).toInt
    val jitter = if ((id * 37 + i * 13) % 89 == 0) 800 else 0
    a1 * (1 - 2 * (((i + ph1) / p1) % 2)) +
      a2 * (1 - 2 * (((i + ph2) / p2) % 2)) + noise + jitter
  }

  test("demoTone → pcmSamples is a bit-exact replay of the sample formula") {
    for (id <- Seq(1L, 2L, 41L, 199L)) {
      val n = (200 + id % 50).toInt
      val got = Multimodal.pcmSamples(Multimodal.demoTone(id))
        .getOrElse(fail(s"id=$id must decode"))
      assert(got.length == n)
      for (i <- 0 until n)
        assert(got(i) == tone(id, i), s"id=$id sample $i")
    }
    assert(Multimodal.pcmSamples(Multimodal.demoTone(13L)).isEmpty)
    assert(Multimodal.pcmSamples(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("constellation: hand-computed square-wave responses, |mag| argmax, low-bin ties") {
    // frameLen=4, bins=2: w0 = +−+−, w1 = ++−−; signature
    // sig = ((pA·2 + sA)·bins + pA₂)·2 + sA₂ with s = [corr ≥ 0]
    val samples = Array(
      10, -10, 10, -10, // corr0=+40, corr1=0(+)  → ((0·2+1)·2+1)·2+1 = 7
      5, 5, -5, -5,     // corr0=0(+), corr1=+20  → ((1·2+1)·2+0)·2+1 = 13
      1, 0, 0, 0,       // corr0=+1, corr1=+1 tie → 7
      0, -3, 0, 0,      // corr0=+3, corr1=−3 tie → ((0·2+1)·2+1)·2+0 = 6
      7, 7, 7)          // trailing partial frame: dropped
    assert(AudioDedup.constellation(samples, 4, 2).toSeq ==
      Seq((0, 7), (1, 13), (2, 7), (3, 6)))
    intercept[IllegalArgumentException] {
      AudioDedup.constellation(samples, 3, 2) // frameLen < 2·bins
    }
    intercept[IllegalArgumentException] {
      AudioDedup.constellation(samples, 4, 1) // top-two needs 2 bins
    }
  }

  test("fingerprints: landmark packing over the peak sequence") {
    import spark.implicits._
    // a payload whose peaks are [0, 1, 0] under frameLen=4/bins=2
    val pay = {
      val n = 12
      val out = new java.io.ByteArrayOutputStream(44 + 2 * n)
      def b(v: Int): Unit = out.write(v & 0xff)
      def u16(v: Int): Unit = { b(v); b(v >> 8) }
      def u32(v: Int): Unit = { b(v); b(v >> 8); b(v >> 16); b(v >> 24) }
      out.write("RIFF".getBytes("US-ASCII")); u32(36 + 2 * n)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); u32(16)
      u16(1); u16(1); u32(8000); u32(16000); u16(2); u16(16)
      out.write("data".getBytes("US-ASCII")); u32(2 * n)
      Seq(10, -10, 10, -10, 5, 5, -5, -5, 10, -10, 10, -10).foreach(u16)
      out.toByteArray
    }
    val media = Seq((7L, pay)).toDF("media_id", "payload")
    val got = AudioDedup.fingerprints(media, "media_id", "payload",
        frameLen = 4, bins = 2, fanout = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // signatures [7, 13, 7] (see constellation test);
    // fp = (sig_t·4·bins² + sig_{t+d})·fanout + (d−1), 4·bins² = 16
    assert(got == Set(
      (7L, 0L, 250L), // t=0→1: (7·16+13)·2+0
      (7L, 0L, 239L), // t=0→2: (7·16+7)·2+1
      (7L, 1L, 430L)  // t=1→2: (13·16+7)·2+0
    ))
    // the id column keeps its input type: a string id comes back as a
    // string with the same landmarks
    assert(AudioDedup.fingerprints(media, "media_id", "payload")
      .schema("media_id").dataType == LongType)
    val strFps = AudioDedup.fingerprints(
        Seq(("7", pay)).toDF("media_id", "payload"), "media_id", "payload",
        frameLen = 4, bins = 2, fanout = 2)
    assert(strFps.schema("media_id").dataType == StringType)
    assert(strFps.collect()
      .map(r => (r.getString(0).toLong, r.getLong(1), r.getLong(2))).toSet == got)
  }

  test("sharedFingerprintPairs: cluster mates share landmarks, strangers don't") {
    import spark.implicits._
    val wav = udf((id: Long) => Multimodal.demoTone(id))
    // ids 1 and 2 share cluster 0 (id/10); id 81 is cluster 8 (differs
    // in phase AND period); id 13 truncated
    val media = Seq(1L, 2L, 81L, 13L).toDF("media_id")
      .withColumn("payload", wav(col("media_id")))
    val fps = AudioDedup.fingerprints(media, "media_id", "payload")
    assert(fps.filter(col("media_id") === 13L).count() == 0)
    val pairs = AudioDedup.sharedFingerprintPairs(fps, "media_id", minShared = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "same-cluster tones must pair")
    assert(!pairs.contains((1L, 81L)) && !pairs.contains((2L, 81L)),
      "different dominant periods/phases must not pair at the threshold")
  }

  test("stop-landmark fence: a landmark carried by too many docs is dropped") {
    import spark.implicits._
    // fp 100 appears in ALL 4 docs (the 'silence' landmark); fps
    // 1..8 are shared only by docs 1 and 2
    val fps = (Seq.tabulate(4)(i => (i + 1L, 0L, 100L)) ++
      (1L to 8L).flatMap(f => Seq((1L, f, f), (2L, f, f))))
      .toDF("media_id", "t", "fp")
    // unfenced: every doc pair shares the hot landmark (6 candidate
    // pairs enter the count); fenced at 2: only the discriminative
    // 1–2 evidence survives, and the hot landmark no longer counts
    val open = graft.ops.AudioDedup.sharedFingerprintPairs(
      fps, "media_id", minShared = 1L)
    assert(open.count() == 6)
    val fenced = graft.ops.AudioDedup.sharedFingerprintPairs(
        fps, "media_id", minShared = 1L, maxDocsPerFp = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fenced == Set((1L, 2L, 8L)))
  }
}
