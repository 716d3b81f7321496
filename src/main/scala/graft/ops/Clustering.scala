package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Embedding clustering for training-data pipelines (north-star
 * extension): Lloyd's k-means over an `array<float>` embedding column —
 * the primitive behind semantic dedup (drop all-but-one doc per tight
 * cluster), data-mixing diagnostics (cluster → domain share), and the
 * IVF coarse quantizer ([[Similarity.ivfAssign]] probes exactly the
 * assignment this trains).
 *
 * Scale design (100 TB): each Lloyd iteration is
 *  - one narrow pass scoring every vector against the centroid table
 *    (k·dims doubles — KBs, plan constants) with ONE fused argmax
 *    expression per row ([[graft.functions.NearestCentroidKernel]]: a
 *    primitive loop over the centroids, no lambda functions): no
 *    per-vector window, no shuffle of embeddings;
 *  - one aggregation keyed on (cluster, dim) with map-side partials —
 *    the exchange carries k·dims partial sums per partition, not
 *    vectors.
 * The k·dims centroid matrix is the ONLY driver-side state (the same
 * contract as MLlib's KMeans: broadcast-assign, tree-aggregate means).
 *
 * Determinism (oracle-checkable): seeds = the `k` lowest-id vectors;
 * assignment similarity is rounded to 6 decimals with ties → lowest
 * centroid id; centroid means are rounded to 6 decimals per dimension
 * (float-sum association across engines differs by ~1e-13 — rounding
 * removes it, same argument as [[Similarity]]).
 */
object Clustering {

  /** Nearest-centroid id for an embedding EXPRESSION: argmax by
    * (6-decimal-rounded) cosine, ties → lowest centroid id, a null,
    * zero-norm or wrong-width vector → the lowest id. One fused kernel
    * per row ([[graft.functions.NearestCentroidKernel]]), bit-identical
    * to the oracle's `greatest` over (rounded cosine, −cid) pairs —
    * pure projection arithmetic, usable many times in ONE select (each
    * PQ block is one of these). */
  def nearestCentroid(
      spark: SparkSession, emb: Column, centroids: Seq[(Long, Seq[Double])]): Column = {
    require(centroids.size >= 2, "kmeans needs k >= 2")
    graft.functions.GraftFunctions.nearestCentroid(spark, emb, centroids)
  }

  /** One assignment pass: nearest centroid by (rounded) cosine, ties →
    * lowest centroid id — no window, no shuffle. */
  def assign(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    df.select(
      col(idCol),
      col(embCol),
      nearestCentroid(df.sparkSession, col(embCol), centroids).as("cluster"))
  }

  /**
   * Train Lloyd's k-means and return the final centroid matrix:
   * `iters − 1` centroid updates over `iters − 1` assignment passes
   * (the caller's final [[assign]] is then iteration `iters`). Seeds =
   * embeddings of the `k` lowest distinct ids (an id with several rows
   * seeds with its least vector in array order), and the cluster LABEL
   * is the seed's own id (stable under any id numbering — the oracle
   * replays it verbatim). An empty frame fails at the seed collect,
   * before any pass runs. A cluster that loses all members keeps its
   * previous centroid (standard degenerate-case handling). The k·dims
   * centroid matrix is the only driver-side state.
   */
  def train(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int): Seq[(Long, Seq[Double])] = {
    require(k >= 2 && iters >= 1)
    // the k lowest DISTINCT ids, each id's least vector: the (id, emb)
    // order puts that copy first; the limit doubles only while
    // duplicated ids leave fewer than k distinct ones
    def lowest(n: Int) = df.orderBy(col(idCol).asc, col(embCol).asc).limit(n)
      .select(col(idCol).cast("long"), col(embCol)).collect()
    var n = k
    var rows = lowest(n)
    while (rows.length == n && rows.distinctBy(_.getLong(0)).length < k) {
      n *= 2
      rows = lowest(n)
    }
    val seeds = rows.distinctBy(_.getLong(0)).take(k)
    require(seeds.nonEmpty, "cannot train k-means over an empty corpus")
    var centroids: Seq[(Long, Seq[Double])] = seeds.map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq
    }.toSeq
    var iter = 1
    while (iter < iters) {
      val assigned = assign(df, idCol, embCol, centroids)
      // (cluster, dim) partial-agg means; k·dims rows back to the driver
      val means = assigned
        .select(col("cluster"), posexplode(col(embCol)).as(Seq("__d", "__v")))
        .groupBy(col("cluster"), col("__d"))
        .agg(round(avg(col("__v").cast("double")), 6).as("__m"))
        .collect()
      val byCluster = means.groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      centroids = centroids.map { case (cid, old) =>
        cid -> byCluster.getOrElse(cid, old)
      }
      iter += 1
    }
    centroids
  }

  /**
   * Lloyd's k-means: [[train]] + one fresh assignment against the
   * final centroids. Output: (idCol, cluster).
   */
  def kmeans(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int): DataFrame =
    assign(df, idCol, embCol, train(df, idCol, embCol, k, iters))
      .select(col(idCol), col("cluster"))

  /**
   * Simplified silhouette (the centroid-distance variant — Hruschka et
   * al.'s simplified silhouette width criterion, public) — the cluster
   * quality gauge that stays LINEAR: the classic silhouette needs
   * all-pairs distances (dead at corpus scale); the simplified form
   * replaces "mean distance to a cluster's members" with "distance to
   * its centroid", so each point costs k cosine evaluations in the
   * same projection pass the assignment already does.
   *
   *   s(i) = (b_i − a_i) / max(a_i, b_i),  a_i = d(i, own centroid),
   *   b_i = min over other centroids,  d = 1 − cosine (rounded 6,
   *   the [[assign]] arithmetic) — s ∈ [0, 1] under nearest-centroid
   *   assignment, higher = tighter/better separated.
   *
   * Per-point scores micro-quantize to integers before the per-cluster
   * mean, so the aggregation is exact integer sums (order-free) and
   * the report replays bit-for-bit. Both-distances-zero (a point AT
   * two coincident centroids) scores 0 by convention.
   *
   * Output: (cluster, n_points, mean_silhouette), one row per
   * non-empty cluster.
   */
  def silhouette(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.size >= 2, "silhouette needs k >= 2")
    val spark = df.sparkSession
    val sims = array(centroids.map { case (cid, c) =>
      struct(lit(cid).as("cid"),
        Similarity.cosineFast(spark, col(embCol), typedlit(c)).as("sim"))
    }: _*)
    val own = element_at(filter(col("__sims"),
      x => x.getField("cid") === col("cluster")), 1).getField("sim")
    val other = array_max(transform(filter(col("__sims"),
      x => x.getField("cid") =!= col("cluster")), x => x.getField("sim")))
    // d = 1 − sim: a = 1 − own, b = 1 − other; max(a,b) = 1 − min sims
    val denom = lit(1.0) - least(own, other)
    val s = when(denom === 0, lit(0.0))
      .otherwise((own - other) / denom)
    df
      .select(col(idCol),
        nearestCentroid(spark, col(embCol), centroids).as("cluster"),
        sims.as("__sims"))
      .select(col("cluster"), round(s * 1e6).cast("long").as("__sm"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"),
        round(sum(col("__sm")).cast("double") / 1e6 / count(lit(1)), 6)
          .as("mean_silhouette"))
  }
}
