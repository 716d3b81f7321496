package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc stage-decomposition harness (`runMain graft.PlanProbe
  * [sfDir]`) — times an operator's pipeline stage by stage in one
  * session, the complement to [[BenchOne]]'s whole-query reps. Current
  * target: the LinkGraph iterate-joins step (r21 — one power-method
  * step on the q151 graph, explained with and without the gated
  * broadcast hints); repoint the body at whatever needs decomposing
  * next. */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFileSystem).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the q151 graph, verbatim from EntryGraph
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull)
    val nRowE = docs.agg(count(lit(1)).as("__n"))
    val id = col("doc_id")
    val edges = docs.crossJoin(broadcast(nRowE)).select(
      id.as("src"),
      explode(array(
        (id * 2 + 1) % col("__n"),
        (id * 3 + 2) % col("__n"),
        (id * 7 + 5) % col("__n"))).as("dst"))
    val n = docs.select(id.as("id")).distinct().localCheckpoint()
    val nRow = n.agg(count(lit(1)).cast("double").as("__n")).localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("__outdeg"))
      .localCheckpoint()
    val edgesDeg = edges.select(col("src"), col("dst"))
      .join(deg, "src").localCheckpoint()
    val ranks = n.crossJoin(nRow)
      .select(col("id"), (lit(1.0) / col("__n")).as("pr"))
      .localCheckpoint()
    println("=== prStep small=false (the pre-r21 shape) ===")
    graft.ops.LinkGraph
      .prStep(n, nRow, deg, edgesDeg, ranks, 0.85, small = false)
      .explain("formatted")
    println("=== prStep small=true (gated broadcasts) ===")
    graft.ops.LinkGraph
      .prStep(n, nRow, deg, edgesDeg, ranks, 0.85, small = true)
      .explain("formatted")
    spark.stop()
  }
}
