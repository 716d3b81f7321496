package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Reproducible density audit behind the 32-bit simhash fence caps (q31;
  * the retired q41 xx64 twin's numbers are in the BASELINE r17 row)
  * and q294's 64-bit fix (BASELINE.md r17): prints, for a given
  * simhash geometry/kernel over a fixture's `documents`, the hottest
  * (blk, v) bucket's posting count, its implied candidate-pair count
  * (n²), and the true output-pair count.
  *
  * Usage: `runMain graft.tools.SimhashAudit <sfDir> <bits> <md5|xx64>`
  */
object SimhashAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: SimhashAudit <sfDir> <bits> <md5|xx64>")
    val (dir, bits) = (args(0), args(1).toInt)
    val kind = if (args(2) == "xx64") graft.ops.Dedup.Xx64 else graft.ops.Dedup.Md5
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hexLen = bits / 4
    val blockChars = hexLen / 4
    val sh = graft.ops.Dedup.simhash(docs, "text", "doc_id", bits, kind)
    val ex = sh.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(lit(b).as("blk"),
        substring(col("simhash"), b * blockChars + 1, blockChars).as("v"))): _*))
        .as("bb"))
      .select(col("bb.blk").as("blk"), col("bb.v").as("v"))
    val hot = ex.groupBy("blk", "v").count()
      .orderBy(col("count").desc).limit(3).collect()
    hot.foreach(r => println(s"[audit] $dir bits=$bits ${args(2)} bucket " +
      s"(${r.get(0)},${r.get(1)}) postings=${r.getLong(2)} " +
      s"pairs=${r.getLong(2) * r.getLong(2)}"))
    val pairs = graft.ops.Dedup.simhashNearDups(docs, "text", "doc_id",
      bits = bits, blocks = 4, maxHamming = 3, kind = kind,
      maxBucketPairs = Long.MaxValue).count()
    println(s"[audit] $dir bits=$bits ${args(2)} output_pairs=$pairs")
    // stop-bucket recall cost (optional 4th arg = maxBucketPostings):
    // the CONTINUE path drops saturated buckets; this prints how many
    // buckets/postings drop and the true-pair recall that survives —
    // the accounting a capped deployment budgets against
    args.drop(3).headOption.map(_.toLong).foreach { cap =>
      val dropped = graft.ops.Fences.bucketDropReport(ex, Seq("blk", "v"), cap)
        .agg(count(lit(1)), sum("n_postings")).head()
      val kept = graft.ops.Dedup.simhashNearDups(docs, "text", "doc_id",
        bits = bits, blocks = 4, maxHamming = 3, kind = kind,
        maxBucketPairs = Long.MaxValue, maxBucketPostings = cap).count()
      println(s"[audit] $dir bits=$bits ${args(2)} stop_cap=$cap " +
        s"dropped_buckets=${dropped.get(0)} dropped_postings=${dropped.get(1)} " +
        f"kept_pairs=$kept recall_vs_uncapped=${kept.toDouble / math.max(1L, pairs)}%.4f")
    }
    spark.stop()
  }
}
