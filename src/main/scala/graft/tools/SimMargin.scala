package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.ops.Nsw

/** Tie-structure probe for the recall audits: prints each panel
  * query's exact top-20 cosines. If ranks 10 and 11+ are separated by
  * ~1e-3 or less, recall@10 measures tie-breaking noise, not search
  * quality — the readout that decides whether a recall number is a
  * real signal. Usage: `runMain graft.tools.SimMargin <sfDir>` */
object SimMargin {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qids = Nsw.strideEntries(emb, "vec_id", 4)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopKBatch(
        emb, queries, "vec_id", "embedding", "query_id", k = 20)
      .collect()
      .groupBy(_.getLong(0))
    exact.toSeq.sortBy(_._1).foreach { case (q, rs) =>
      val sims = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      println(f"[margin] q=$q top10=${sims.take(10).map(s => f"$s%.4f").mkString(",")}")
      println(f"[margin] q=$q next10=${sims.drop(10).map(s => f"$s%.4f").mkString(",")} " +
        f"gap10_11=${sims(9) - sims(10)}%.5f")
    }
    spark.stop()
  }
}
