package graft.tools

import org.apache.spark.sql.SparkSession

/** Readout helper for scale audits (the recall-vs-sf rows in
  * BASELINE.md): runs named `SparkEntry.queries` entries against a
  * fixture dir and prints up to 20 result rows each.
  *
  * Usage: `runMain graft.tools.ShowQuery <sfDir> <query>...`
  */
object ShowQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ShowQuery <sfDir> <query>...")
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
      val rows = graft.SparkEntry.queries(name)(spark, dir).limit(20).collect()
      rows.foreach(r => println(s"[show] $name $dir $r"))
    }
    spark.stop()
  }
}
