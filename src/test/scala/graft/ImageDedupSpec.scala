package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ImageDedup, Multimodal}

class ImageDedupSpec extends AnyFunSuite {
  import TestSpark.spark

  /** The demoPng pixel formula, independently restated. */
  private def pixel(id: Long, x: Int, y: Int): Int = {
    val jitter = if ((id * 131 + x * 7 + y * 3) % 97 == 0) 40 else 0
    val c = id / 10
    (((3 + c % 199) * x + (5 + c % 193) * y + jitter) % 256).toInt
  }

  test("demoPng → lumaGrid is a bit-exact replay of the pixel formula") {
    for (id <- Seq(1L, 7L, 50L, 123L)) {
      val grid = Multimodal.lumaGrid(Multimodal.demoPng(id, 36, 32), 9, 8)
        .getOrElse(fail(s"id=$id must decode"))
      // expected: exact integer block means of the formula (4×4 blocks)
      for (r <- 0 until 8; c <- 0 until 9) {
        val sum = (for (y <- r * 4 until r * 4 + 4; x <- c * 4 until c * 4 + 4)
          yield pixel(id, x, y).toLong).sum
        assert(grid(r * 9 + c) == (sum / 16).toInt,
          s"id=$id cell ($r,$c): PNG decode diverged from the formula")
      }
    }
  }

  test("truncated payloads drop without killing the decode pass") {
    assert(Multimodal.lumaGrid(Multimodal.demoPng(13L, 36, 32), 9, 8).isEmpty)
    assert(Multimodal.lumaGrid(Array[Byte](1, 2, 3), 9, 8).isEmpty)
    // raster smaller than the grid is undecodable-by-contract
    assert(Multimodal.lumaGrid(Multimodal.demoPng(1L, 4, 4), 9, 8).isEmpty)
  }

  test("hashesOfGrid: hand-computed aHash and dHash") {
    // 8 rows × 9 cols: left 8×8 all 10 except (0,0)=100; 9th column 20.
    // sum = 63·10 + 100 = 730, mean = 730/64 = 11 → only (0,0) exceeds
    // it → ahash = 1. dHash: within the flat rows every gradient is 0
    // except c=7 → c=8 (10→20) → bit r·8+7 per row → 0x8080808080808080.
    val grid = Array.tabulate(72) { i =>
      val (r, c) = (i / 9, i % 9)
      if (r == 0 && c == 0) 100 else if (c == 8) 20 else 10
    }
    val (a, d) = ImageDedup.hashesOfGrid(grid, 9)
    assert(a == 1L)
    assert(d == 0x8080808080808080L) // sign bit set: bit 63 = cell (7,7)
  }

  test("aHash is invariant to uniform brightness shift; dHash to contrast sign-preserving maps") {
    val base = Array.tabulate(72)(i => (i * 37) % 200)
    val (a0, d0) = ImageDedup.hashesOfGrid(base, 9)
    val (a1, d1) = ImageDedup.hashesOfGrid(base.map(_ + 30), 9)
    assert(a0 == a1, "aHash must survive +30 brightness")
    assert(d0 == d1, "dHash must survive +30 brightness")
    val (_, d2) = ImageDedup.hashesOfGrid(base.map(_ * 2), 9)
    assert(d0 == d2, "dHash must survive 2× contrast")
  }

  test("perceptualHashes: decodable rows only, end-to-end against hashesOfGrid") {
    import spark.implicits._
    val media = Seq(1L, 2L, 13L, 26L, 51L).toDF("media_id")
      .withColumn("payload", udf((id: Long) => Multimodal.demoPng(id, 36, 32))
        .apply(col("media_id")))
    val out = ImageDedup.perceptualHashes(media, "media_id", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 51L), "ids %13==0 are truncated → dropped")
    for (id <- Seq(1L, 2L, 51L)) {
      val grid = Multimodal.lumaGrid(Multimodal.demoPng(id, 36, 32), 9, 8).get
      assert(out(id) == ImageDedup.hashesOfGrid(grid, 9))
    }
    // ids 1 and 2 share cluster 0 (id/10): near-identical hashes;
    // id 51 is cluster 5: far from both
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(out(1L)._1, out(2L)._1) <= 10)
    assert(ham(out(1L)._1, out(51L)._1) > 10)
    // the id column keeps its input type: string ids (WARC record
    // URNs) come back as strings with the same hashes
    assert(ImageDedup.perceptualHashes(media, "media_id", "payload")
      .schema("media_id").dataType == LongType)
    val strOut = ImageDedup.perceptualHashes(
      media.withColumn("media_id", col("media_id").cast("string")),
      "media_id", "payload")
    assert(strOut.schema("media_id").dataType == StringType)
    assert(strOut.collect()
      .map(r => r.getString(0).toLong -> (r.getLong(1), r.getLong(2))).toMap == out)
  }

  test("hammingNearDups: pigeonhole recall, verify filter, no self/dup pairs") {
    import spark.implicits._
    // h2 = h1 with 3 flipped bits (≤ bands−1 → guaranteed candidate);
    // h3 shares band 0 with h1 but fails the hamming verify;
    // h4 shares no band with anyone
    val h1 = 0x1111222233334444L
    val h2 = h1 ^ (1L << 1) ^ (1L << 20) ^ (1L << 63)
    val h3 = 0x7777666655554444L
    val h4 = 0x0f0f0e0e0d0d0c0cL
    val df = Seq((1L, h1), (2L, h2), (3L, h3), (4L, h4)).toDF("id", "h")
    val pairs = ImageDedup.hammingNearDups(df, "id", "h", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 3L)))
  }

  test("hammingNearDups: hot band bucket fails loudly naming the key") {
    import spark.implicits._
    // 40 identical hashes (blank frames, template thumbnails): every
    // (band, v) bucket holds all 40 postings → 1600 candidate pairs
    val clones = (1L to 40L).map(i => (i, 0x1111222233334444L)).toDF("id", "h")
    val e = intercept[IllegalArgumentException] {
      ImageDedup.hammingNearDups(clones, "id", "h", maxBucketPairs = 100L)
    }
    assert(e.getMessage.contains("image-hamming bucket") &&
      e.getMessage.contains("maxBucketPairs=100"),
      s"fence must name the bucket and the cap: ${e.getMessage}")
    // explicit opt-out still computes the full clone lattice
    assert(ImageDedup.hammingNearDups(clones, "id", "h",
      maxBucketPairs = Long.MaxValue).count() == 40L * 39 / 2)
  }

  test("hammingProbe: saturated standing bucket fails loudly (probe fence)") {
    import spark.implicits._
    // a template thumbnail indexed 40 times: every batch probe that
    // lands in its (band, v) bucket pays 40× — the store-proportional
    // drain tax the probe fence exists for
    val standing = (1L to 40L).map(i => (i, 0x1111222233334444L)).toDF("id", "h")
    val batch = Seq((100L, 0x1111222233334444L)).toDF("id", "h")
    val e = intercept[IllegalArgumentException] {
      ImageDedup.hammingProbe(batch, standing, "id", "h",
        maxBucketPairs = 30L)
    }
    assert(e.getMessage.contains("image-hamming probe bucket") &&
      e.getMessage.contains("maxBucketPairs=30"),
      s"probe fence must name the bucket and the cap: ${e.getMessage}")
    // opt-out: the batch pairs against every standing clone
    assert(ImageDedup.hammingProbe(batch, standing, "id", "h",
      maxBucketPairs = Long.MaxValue).count() == 40L)
  }

  test("hammingNearDups/hammingProbe: stop-bucket continue path, accounted recall") {
    import spark.implicits._
    // (a, b) share bands 1-3; (c, d) differ by 6 bits spread over
    // bands 1-3 so band 0 (0x0123) is their ONLY shared band — and two
    // far fillers saturate exactly that bucket (4 postings)
    val a = 0x1111222233334444L
    val b = a ^ 1L
    val c = 0x5555666677770123L
    val d = c ^ 0x0003000300030000L
    val f1 = 0xFFFF000000000123L
    val f2 = 0x0000FFFF00000123L
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, d), (5L, f1), (6L, f2))
      .toDF("id", "h")
    def pairs(maxBucketPostings: Long) =
      ImageDedup.hammingNearDups(df, "id", "h", maxHamming = 10,
          maxBucketPostings = maxBucketPostings)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs(0L) == Set((1L, 2L, 1L), (3L, 4L, 6L)), "default off")
    assert(pairs(3L) == Set((1L, 2L, 1L)),
      "(c, d)'s only shared band saturated and dropped — the accounted " +
        "recall cost; (a, b) rides its unsaturated bands")
    // probe shape: the standing bands shared by {c1, c2, b1} saturate
    // at cap 2 and drop — b1's pairs relied on them; the surviving
    // band-0 candidate (b2, c1) fails the hamming verify
    val standing = Seq(("c1", 0x1111222233334444L),
      ("c2", 0x1111222233334445L)).toDF("id", "h")
    val batch = Seq(("b1", 0x1111222233334444L ^ (1L << 5)),
      ("b2", 0x7777666655554444L)).toDF("id", "h")
    assert(ImageDedup.hammingProbe(batch, standing, "id", "h",
      maxHamming = 6, maxBucketPostings = 2L).count() == 0)
    assert(ImageDedup.hammingProbe(batch, standing, "id", "h",
      maxHamming = 6).count() == 2, "default off: both b1 pairs surface")
  }
}
