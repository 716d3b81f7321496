package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.GraphNav
import graft.ops.Nsw

/** One-off diagnostic: how much does α-RNG pruning actually change the
  * fixture kNN graph? (edge overlap + occlusion-fire counts) */
object DivDebug {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = Nsw.knnGraph(emb, "vec_id", "embedding",
        planesPerBand = 6, bands = 4, dims = 64, k = 8,
        minCosine = -1.0, maxBucketSize = 400)
      .select(col("id"), col("nbr")).localCheckpoint()
    val wide = Nsw.knnGraph(emb, "vec_id", "embedding",
        planesPerBand = 6, bands = 4, dims = 64, k = 16,
        minCosine = -1.0, maxBucketSize = 400).localCheckpoint()
    for (an <- Seq(10, 11, 12, 14)) {
      val div = GraphNav.alphaPrunedGraph(wide, emb, "vec_id", "embedding",
          r = 8, alphaNum = an, alphaDen = 10)
        .select(col("id"), col("nbr")).localCheckpoint()
      val nDiv = div.count()
      val nBase = base.count()
      val overlap = div.join(base, Seq("id", "nbr"), "left_semi").count()
      println(s"[divdebug] alpha=$an/10 edges=$nDiv base=$nBase " +
        s"overlap=$overlap divOnly=${nDiv - overlap}")
      val deg = div.groupBy("id").count().agg(
        min("count"), avg("count"), max("count")).head()
      println(s"[divdebug] alpha=$an/10 degree min=${deg.get(0)} " +
        s"avg=${deg.get(1)} max=${deg.get(2)}")
    }
    spark.stop()
  }
}
