package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Multi-query micro-bench: `runMain graft.tools.BenchSweep <q1,q2,…> [reps]`.
  * Same per-query protocol as [[graft.BenchOne]] (memo clears between
  * reps, index-consumer warmers built once untimed) but amortizes the
  * JVM + session startup across a whole query list — the harness for
  * the per-round sf0.1→sf1 scaling sweeps, where one fresh JVM per
  * query × per scale factor would dominate the wall clock. Reads
  * `SPARK_GRAFT_SF_DIR` like Bench/BenchOne; prints one line per rep
  * plus a `best` line per query (rep 2+ is the steady state quoted in
  * BASELINE.md scaling tables).
  */
object BenchSweep {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .getOrElse(sys.error("usage: BenchSweep <q1,q2,...> [reps]"))
      .split(",").map(_.trim).filter(_.nonEmpty)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      val warmer = SparkEntry.indexWarmers.get(name)
      warmer.foreach { w => SparkEntry.clearMemos(); w(spark, sfDir) }
      var best = Double.MaxValue
      (1 to reps).foreach { i =>
        if (warmer.isEmpty) SparkEntry.clearMemos()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        if (i > 1 || reps == 1) best = math.min(best, s)
        println(f"[sweep] $name rep $i: $s%.3f s ($n rows)")
      }
      println(f"[sweep] $name best: $best%.3f s")
      results(name) = best
    }
    // machine-readable record for tools/scaling.py (SCALING.md is
    // regenerated from these instead of hand-copied console output)
    sys.env.get("SPARK_GRAFT_SWEEP_JSON").foreach { path =>
      val json = results
        .map { case (k, v) =>
          // explicit locale: %f under a comma-decimal default locale
          // would emit "0,123" and break the JSON for tools/scaling.py
          val num = String.format(java.util.Locale.ROOT, "%.3f",
            Double.box(v))
          s""""$k": $num"""
        }
        .mkString("{", ", ", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    }
    spark.stop()
  }
}
