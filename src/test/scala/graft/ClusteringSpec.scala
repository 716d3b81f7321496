package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Clustering

class ClusteringSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Two tight, well-separated direction bundles (cosine k-means
    * separates by direction, not magnitude). */
  private def fixture = Seq(
    (0L, Array(1.0f, 0.05f, 0.0f)),
    (1L, Array(0.0f, 0.1f, 1.0f)),
    (2L, Array(2.0f, 0.0f, 0.1f)),
    (3L, Array(0.9f, 0.1f, 0.05f)),
    (4L, Array(0.0f, 0.05f, 3.0f)),
    (5L, Array(0.1f, 0.0f, 0.8f))
  ).toDF("vec_id", "embedding")

  test("kmeans recovers the two direction bundles regardless of magnitude") {
    val out = Clustering.kmeans(fixture, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == out(2L) && out(0L) == out(3L), "x-direction bundle")
    assert(out(1L) == out(4L) && out(1L) == out(5L), "z-direction bundle")
    assert(out(0L) != out(1L), "bundles must separate")
    // labels are the seed ids
    assert(out.values.toSet == Set(0L, 1L))
  }

  test("train seeds on the k lowest DISTINCT ids, a duplicated id with its least vector") {
    val dup = fixture.union(Seq((0L, Array(0.5f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    for (df <- Seq(dup, dup.repartition(3))) {
      val seeds = Clustering.train(df, "vec_id", "embedding", k = 3, iters = 1)
      assert(seeds.map(_._1) == Seq(0L, 1L, 2L))
      assert(seeds.head._2 == Seq(0.5, 0.0, 0.0))
    }
    // more copies than k: the limit grows until k distinct ids are seen
    val many = fixture.union(Seq.fill(5)((1L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding"))
    assert(Clustering.train(many, "vec_id", "embedding", k = 4, iters = 1).map(_._1) ==
      Seq(0L, 1L, 2L, 3L))
  }

  test("kmeans is deterministic across runs and repartitionings") {
    val a = Clustering.kmeans(fixture, "vec_id", "embedding", 2, 3).collect().toSet
    val b = Clustering.kmeans(fixture.repartition(5), "vec_id", "embedding", 2, 3)
      .collect().toSet
    assert(a == b)
  }

  test("iters=1 assigns against the raw seeds (no update pass)") {
    val out = Clustering.kmeans(fixture, "vec_id", "embedding", 2, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seeds assign to themselves (cosine with self = 1, ties impossible here)
    assert(out(0L) == 0L && out(1L) == 1L)
  }

  test("assignment ties break to the lowest centroid id") {
    val df = Seq((7L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Seq(3L -> Seq(2.0, 2.0), 9L -> Seq(0.5, 0.5)) // both cosine 1.0
    val out = Clustering.assign(df, "vec_id", "embedding", cents)
      .select("vec_id", "cluster").collect()(0)
    assert(out.getLong(1) == 3L)
  }

  test("kmeans on the fixture embeddings table produces k non-empty clusters") {
    val emb = TestSpark.table("embeddings")
    val out = Clustering.kmeans(emb, "vec_id", "embedding", k = 4, iters = 2)
    val sizes = out.groupBy("cluster").count().collect()
    assert(sizes.length == 4, "all 4 clusters survive on the fixture")
    assert(out.count() == emb.count(), "every vector is assigned")
  }

  test("silhouette: hand geometry — tight separated clusters score ~1") {
    import spark.implicits._
    // orthogonal axes: members exactly at their centroid score
    // own = 1, other = 0 -> s = (1 - 0)/(1 - 0) = 1
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(
      1L -> Seq(1.0, 0.0, 0.0, 0.0), 3L -> Seq(0.0, 1.0, 0.0, 0.0))
    val got = Clustering.silhouette(emb, "vec_id", "embedding", cents)
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0), (3L, 2L, 1.0)))

    // a mid-angle point drags its cluster's mean below a tight one's:
    // 45°-ish member has own ≈ other -> s near 0
    val mixed = emb.unionByName(
      Seq((5L, Array(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding"))
    val got2 = Clustering.silhouette(mixed, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the equidistant point ties to the LOWEST cid (cluster 1)
    assert(got2(1L) < got2(3L) && got2(3L) == 1.0)
    assert(got2(1L) > 0.6 && got2(1L) < 0.7) // (1 + 1 + 0)/3

    intercept[IllegalArgumentException] {
      Clustering.silhouette(emb, "vec_id", "embedding",
        Seq(1L -> Seq(1.0, 0.0, 0.0, 0.0)))
    }
  }
}
