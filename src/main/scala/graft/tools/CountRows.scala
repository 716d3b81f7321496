package graft.tools

import org.apache.spark.sql.SparkSession

/** Density-audit helper: prints the OUTPUT row count of named
  * `SparkEntry.queries` entries against a fixture dir — the number the
  * OUTPUT_BOUND whitelist in tools/scaling.py must cite (a pair-join
  * whose runtime grows superlinearly is only honest if its true-pair
  * OUTPUT grew the same way; see BASELINE.md's q88 25→256 convention).
  *
  * Usage: `runMain graft.tools.CountRows <sfDir> <query>...`
  */
object CountRows {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CountRows <sfDir> <query>...")
    val dir = args(0)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.drop(1).foreach { name =>
      val n = graft.SparkEntry.queries(name)(spark, dir).count()
      println(s"[count] $name $dir $n")
    }
    spark.stop()
  }
}
