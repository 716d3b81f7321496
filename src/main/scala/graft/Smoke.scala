package graft
import org.apache.spark.sql.SparkSession
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions","4")
      .config("spark.sql.session.timeZone","UTC")
      .config("spark.ui.enabled","false")
      .config(GraftSession.localFileSystem).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS=" + df.count())
    df.show(5, false)
    spark.stop()
  }
}
