package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ImageDedup, Multimodal, VideoDedup}

/** Real Y4M frame decode + the aligned-frame near-dup family:
  * formula-exact replay of the sampled grids, corrupt-blob drops,
  * plane-geometry variants, and the banded pair semantics. */
class VideoDedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** The demoY4m luma formula, recomputed by hand. */
  private def lum(id: Long, x: Int, y: Int, t: Int): Int = {
    val k = id / 10
    val jitter = if ((id * 131 + x * 7 + y * 3 + t * 17) % 97 == 0) 40 else 0
    (((3 + k % 199) * x + (5 + k % 193) * y + (11 + k % 7) * t + jitter) % 256).toInt
  }

  test("y4mFrameGrids: formula-exact sampled grids; truncation and tears drop") {
    val id = 7L
    val bytes = Multimodal.demoY4m(id, 36, 32)
    val got = Multimodal.y4mFrameGrids(bytes, 9, 8, everyN = 2).get
    // frame count 4 + id % 5 = 6 → sampled frames 0, 2, 4
    assert(got.map(_._1) == Seq(0, 2, 4))
    // hand-pooled grid of frame 2: floor blocks are exactly 4×4
    val t = 2
    val hand = Array.tabulate(9 * 8) { i =>
      val r = i / 9; val c = i % 9
      val vs = for (y <- r * 4 until r * 4 + 4; x <- c * 4 until c * 4 + 4)
        yield lum(id, x, y, t)
      (vs.map(_.toLong).sum / 16).toInt
    }
    assert(got.find(_._1 == 2).get._2.toSeq == hand.toSeq,
      "sampled grid must replay the luma formula exactly")

    // corrupt-blob contract: id % 13 == 0 truncates before the header
    // newline; a torn frame (cut mid-plane) also drops whole
    assert(Multimodal.y4mFrameGrids(Multimodal.demoY4m(13L, 36, 32), 9, 8).isEmpty)
    assert(Multimodal.y4mFrameGrids(bytes.take(bytes.length - 10), 9, 8).isEmpty)
    assert(Multimodal.y4mFrameGrids("not video".getBytes, 9, 8).isEmpty)
  }

  test("y4mFrameGrids: C444 and mono plane geometries parse") {
    def stream(ctag: String, chromaPerFrame: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(s"YUV4MPEG2 W12 H8 F25:1 $ctag\n".getBytes("ISO-8859-1"))
      (0 until 2).foreach { t =>
        out.write("FRAME\n".getBytes("ISO-8859-1"))
        (0 until 12 * 8).foreach(i => out.write((i + t) % 256))
        (0 until chromaPerFrame).foreach(_ => out.write(128))
      }
      out.toByteArray
    }
    val c444 = Multimodal.y4mFrameGrids(
      stream("C444", 12 * 8 * 2), 9, 8, everyN = 1).get
    val mono = Multimodal.y4mFrameGrids(
      stream("Cmono", 0), 9, 8, everyN = 1).get
    assert(c444.map(_._1) == Seq(0, 1) && mono.map(_._1) == Seq(0, 1))
    // identical luma planes → identical grids regardless of chroma tag
    assert(c444.head._2.toSeq == mono.head._2.toSeq)
  }

  test("frameHashes + videoNearDups: aligned clusters pair, cross-cluster does not") {
    val media = spark.range(0, 60).select(col("id").as("media_id"))
      .as[Long].map(i => (i, Multimodal.demoY4m(i, 36, 32)))
      .toDF("media_id", "payload")
    val hashes = VideoDedup.frameHashes(media, "media_id", "payload")
      .localCheckpoint()
    // corrupt ids (0, 13, 26, 39, 52) never hash
    val ids = hashes.select("media_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(Seq(0L, 13L, 26L, 39L, 52L).forall(i => !ids.contains(i)))
    // the hash kernel is the shared ImageDedup one, frame-exact
    val h7 = hashes.filter(col("media_id") === 7 && col("frame_idx") === 2)
      .head().getLong(2)
    val grid = Multimodal.y4mFrameGrids(
      Multimodal.demoY4m(7L, 36, 32), 9, 8).get.find(_._1 == 2).get._2
    assert(h7 == ImageDedup.hashesOfGrid(grid, 9)._1)
    // the id column keeps its input type: string ids come back as
    // strings with the same frame hashes
    assert(hashes.schema("media_id").dataType == LongType)
    val strHashes = VideoDedup.frameHashes(
      media.withColumn("media_id", col("media_id").cast("string")),
      "media_id", "payload")
    assert(strHashes.schema("media_id").dataType == StringType)
    assert(strHashes.collect()
        .map(r => (r.getString(0).toLong, r.getLong(1), r.getLong(2))).toSet ==
      hashes.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)

    val pairs = VideoDedup.videoNearDups(hashes, "media_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty, "same-cluster videos must near-dup")
    // every reported pair is within one id/10 cluster (cross-cluster
    // luma ramps differ in both coefficients — far in Hamming space)
    assert(pairs.forall { case (a, b, _) => a / 10 == b / 10 },
      s"cross-cluster pair leaked: ${pairs.filterNot(p => p._1 / 10 == p._2 / 10).toSeq}")
    // evidence weight: aligned sampled frames only (≥ minFrames = 2)
    assert(pairs.forall(_._3 >= 2))
  }

  test("videoNearDups: hot (frame_idx, band) bucket fails loudly naming the key") {
    // 40 videos whose frame 0 hashes identically (a station logo
    // still): every (0, band, v) bucket holds all 40 postings
    val clones = (1L to 40L).map(i => (i, 0L, 0x1111222233334444L))
      .toDF("media_id", "frame_idx", "ahash")
    val e = intercept[IllegalArgumentException] {
      VideoDedup.videoNearDups(clones, "media_id", minFrames = 1,
        maxBucketPairs = 100L)
    }
    assert(e.getMessage.contains("video-frame bucket") &&
      e.getMessage.contains("maxBucketPairs=100"),
      s"fence must name the bucket and the cap: ${e.getMessage}")
    // explicit opt-out still computes the full aligned-clone lattice
    assert(VideoDedup.videoNearDups(clones, "media_id", minFrames = 1,
      maxBucketPairs = Long.MaxValue).count() == 40L * 39 / 2)
  }

  test("videoProbe: saturated standing bucket fails loudly (probe fence)") {
    import spark.implicits._
    // a station-logo frame indexed 40 times: every drain whose batch
    // lands in that (frame_idx, band, v) bucket pays 40× — the
    // store-proportional tax the probe fence exists for
    val h = 0x1111222233334444L
    val standing = (1L to 40L).map(i => (s"s$i", 0L, h))
      .toDF("id", "frame_idx", "ahash")
    val batch = Seq(("b1", 0L, h)).toDF("id", "frame_idx", "ahash")
    val e = intercept[IllegalArgumentException] {
      VideoDedup.videoProbe(batch, standing, "id",
        minFrames = 1, maxBucketPairs = 30L)
    }
    assert(e.getMessage.contains("video-frame probe bucket") &&
      e.getMessage.contains("maxBucketPairs=30"),
      s"probe fence must name the bucket and the cap: ${e.getMessage}")
    // opt-out: the batch pairs against every standing clone
    assert(VideoDedup.videoProbe(batch, standing, "id",
      minFrames = 1, maxBucketPairs = Long.MaxValue).count() == 40L)
  }

  test("videoNearDups/videoProbe: stop-bucket continue path, accounted recall") {
    import spark.implicits._
    // (x, y) differ by 6 bits spread over bands 1-3, so their ONLY
    // shared bucket is (frame 0, band 0, 0x0123) — which two far
    // fillers saturate to 4 postings
    val x = 0xAAAABBBBCCCC0123L
    val y = x ^ 0x0003000300030000L
    val hashes = Seq(("x", 0L, x), ("y", 0L, y),
      ("fa", 0L, 0xFFFF000000000123L), ("fb", 0L, 0x0000FFFF00000123L))
      .toDF("id", "frame_idx", "ahash")
    val base = VideoDedup.videoNearDups(hashes, "id",
        maxHamming = 6, minFrames = 1)
      .collect().map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(base == Set(Set("x", "y")), "default off")
    assert(VideoDedup.videoNearDups(hashes, "id", maxHamming = 6,
      minFrames = 1, maxBucketPostings = 3L).count() == 0,
      "the pair's only shared bucket saturated and dropped — the " +
        "accounted recall cost")
    // probe shape: the frame-0/frame-2 bands shared by {c1, c2, b1}
    // saturate at cap 2 and drop; the surviving candidates fail the
    // verify (b2×c1 at hamming 8) or the minFrames floor (b1×c2 on
    // one frame)
    val h = 0x1111222233334444L
    val standing = Seq(("c1", 0L, h), ("c1", 2L, h ^ 1L),
      ("c2", 0L, h ^ 2L), ("c2", 2L, h)).toDF("id", "frame_idx", "ahash")
    val batch = Seq(("b1", 0L, h ^ 4L), ("b1", 2L, h),
      ("b2", 0L, h ^ (0xffL << 24))).toDF("id", "frame_idx", "ahash")
    assert(VideoDedup.videoProbe(batch, standing, "id", maxHamming = 6,
      maxBucketPostings = 2L).count() == 0)
    assert(VideoDedup.videoProbe(batch, standing, "id",
      maxHamming = 6).count() == 2, "default off: both b1 pairs surface")
  }
}
