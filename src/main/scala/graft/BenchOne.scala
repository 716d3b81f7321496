package graft

import org.apache.spark.sql.SparkSession

/** Single-query micro-bench: `runMain graft.BenchOne <query> [reps] [--explain]`.
  * Runs one SparkEntry query against `SPARK_GRAFT_SF_DIR` (default
  * sf0.1) `reps` times on a fresh plan each rep, printing per-rep
  * seconds — the isolation harness for chasing per-query regressions
  * that the full Bench run can't separate from neighbor effects
  * (JIT, page cache, preceding queries). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: BenchOne <query> [reps] [--explain]"))
    val reps = args.drop(1).find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val explain = args.contains("--explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    if (explain) fn(spark, sfDir).explain("formatted")
    // Index CONSUMERS (SparkEntry.indexWarmers) get their persisted
    // index built once, untimed — mirroring Bench's convention.
    val warmer = SparkEntry.indexWarmers.get(name)
    warmer.foreach { w => SparkEntry.clearMemos(); w(spark, sfDir) }
    (1 to reps).foreach { i =>
      // every rep must rebuild the full pipeline — session memos
      // (e.g. the q16/q39 shared pair index) would otherwise turn
      // reps 2..n into cached-checkpoint counts that measure nothing
      if (warmer.isEmpty) SparkEntry.clearMemos()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[benchone] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    spark.stop()
  }
}
