package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Deterministic scale-up generator for the `documents` / `embeddings`
  * fixtures: extends the driver corpus's synthesis recipe (uniform
  * 30-word vocab, 10–100 words/doc, 20 round-robin sources, weighted
  * 5-lang mix, ~5% of docs a near-dup of an earlier doc, ~0.2% exact
  * dups, occasional template-chunk splicing — the mechanism behind the
  * observed LSH pair-density growth) to larger scale factors, so the
  * per-regime scaling table in BASELINE.md gets a third decade of
  * evidence without touching the read-only driver fixtures.
  *
  * Usage: `runMain graft.tools.ScaleGen <mult> <outDir>` — generates
  * `mult × sf0.1` rows (5000·mult docs, 2000·mult vectors) into
  * `outDir/documents.parquet` and `outDir/embeddings.parquet`
  * (directories — Spark reads them identically to the driver's single
  * files). Deterministic for a given mult: a single seeded PRNG drives
  * the whole generation, so reruns byte-match.
  *
  * Also scales `events` (5 uniform types, users ∝ scale at ~67
  * events/user, one fixed 30-day window that DENSIFIES with scale —
  * the funnel/retention/sessionization shape) and `customer`
  * (profiled driver recipe), both generated distributed with every
  * column derived from `xxhash64(row_id, salt)` — deterministic
  * independent of partition layout, no driver-side row buffers. The
  * remaining TPC-H-ish tables are NOT scaled (no query's scaling
  * claim depends on them); copy them from sf0.1 so every
  * `SparkEntry.queries` entry still runs against the scaled dir.
  */
object ScaleGen {
  private val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val Langs: Array[(String, Double)] =
    Array("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  private def pickLang(rng: Random): String = {
    val p = rng.nextDouble()
    var acc = 0.0
    Langs.foreach { case (l, w) => acc += w; if (p < acc) return l }
    Langs.last._1
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <mult> <outDir>")
    val mult = args(0).toInt
    val outDir = args(1)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.localFileSystem)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nDocs = 5000 * mult
    val rng = new Random(20260401L + mult)

    // --- documents ---------------------------------------------------
    val texts = new ArrayBuffer[String](nDocs)
    var i = 0
    while (i < nDocs) {
      val p = rng.nextDouble()
      val text =
        if (p < 0.05 && texts.nonEmpty) {
          // near-dup of an earlier doc: mutate ~8% of tokens (this is
          // what keeps verified-pair count ∝ docs, the sf0.01→sf0.1
          // observed regime)
          val base = texts(rng.nextInt(texts.length)).split(" ")
          base.map(w =>
            if (rng.nextDouble() < 0.08) Vocab(rng.nextInt(Vocab.length)) else w)
            .mkString(" ")
        } else if (p < 0.052 && texts.nonEmpty) {
          texts(rng.nextInt(texts.length)) // exact dup (~0.2%)
        } else {
          val len = 10 + rng.nextInt(91)
          val words = Array.fill(len)(Vocab(rng.nextInt(Vocab.length)))
          // template splice: share a contiguous chunk with an earlier
          // doc (the boilerplate mechanism behind dup-span detection)
          if (rng.nextDouble() < 0.20 && texts.nonEmpty) {
            val src = texts(rng.nextInt(texts.length)).split(" ")
            if (src.length >= 12) {
              val cl = 8 + rng.nextInt(math.min(13, src.length - 8))
              val from = rng.nextInt(src.length - cl + 1)
              val at = rng.nextInt(math.max(1, words.length - cl))
              System.arraycopy(src, from, words, at, math.min(cl, words.length - at))
            }
          }
          words.mkString(" ")
        }
      texts += text
      i += 1
    }
    val docRows = (0 until nDocs).map { id =>
      val t = texts(id)
      Row(id.toLong, t, pickLang(rng), s"src${id % 20}", t.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("lang", StringType, nullable = true),
      StructField("source", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(docRows, 32), docSchema)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // --- embeddings --------------------------------------------------
    // 64-dim unit vectors in 10 weak clusters (per-label mean norm
    // ~0.07 in the driver fixture): v = normalize(0.07·μ_l + g/‖g‖)
    val dims = 64
    val centers = Array.tabulate(10) { l =>
      val cr = new Random(777L + l)
      val c = Array.fill(dims)(cr.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(x => (x / n).toFloat)
    }
    val nVecs = 2000 * mult
    val vecRows = (0 until nVecs).map { id =>
      val label = rng.nextInt(10)
      val g = Array.fill(dims)(rng.nextGaussian())
      val gn = math.sqrt(g.map(x => x * x).sum)
      val raw = Array.tabulate(dims)(d => 0.07 * centers(label)(d) + g(d) / gn)
      val rn = math.sqrt(raw.map(x => x * x).sum)
      Row(id.toLong, raw.map(x => (x / rn).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(vecRows, 32), vecSchema)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // --- events ------------------------------------------------------
    // Driver recipe (profiled from sf0.1): 5 uniform event types,
    // users ∝ scale at ~67 events/user, ONE 30-day window (Jan 2024,
    // UTC — the window stays fixed and densifies as scale grows, the
    // right shape for funnel/retention), value ~ Exp(mean 50) to
    // cents, props = {"k": 0..99}. Generated DISTRIBUTED and
    // partition-layout-independent: every column derives from
    // xxhash64(event_id, salt), no driver-side rows, no closures.
    {
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.functions._
      val nEvents = 100000L * mult
      val nUsers = 1500L * mult
      val id = col("id")
      def u(salt: Int): Column = // uniform [0,1) from a salted row hash
        pmod(xxhash64(id, lit(salt)), lit(1L << 40)).cast("double") / (1L << 40).toDouble
      spark.range(0L, nEvents, 1L, 32)
        .select(
          id.as("event_id"),
          timestamp_millis((lit(1704067200000L) + // 2024-01-01T00:00:00Z
            (u(2) * lit(30.0 * 86400 * 1000)).cast("long"))).as("ts"),
          pmod(xxhash64(id, lit(3)), lit(nUsers)).as("user_id"),
          element_at(
            array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*),
            (pmod(xxhash64(id, lit(4)), lit(5)) + 1).cast("int")).as("event_type"),
          round(-lit(50.0) * log(lit(1.0) - u(5)), 2).as("value"),
          concat(lit("{\"k\": "), pmod(xxhash64(id, lit(6)), lit(100)), lit("}"))
            .as("props"))
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")

      // --- customer --------------------------------------------------
      val nCust = 15000L * mult
      spark.range(0L, nCust, 1L, 32)
        .select(
          id.as("c_custkey"),
          concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
          pmod(xxhash64(id, lit(11)), lit(25)).cast("int").as("c_nationkey"),
          round(lit(-999.99) + u(12) * lit(10999.98), 2).as("c_acctbal"),
          element_at(
            array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
              "MACHINERY").map(lit): _*),
            (pmod(xxhash64(id, lit(13)), lit(5)) + 1).cast("int")).as("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
      println(s"[scalegen] wrote $nEvents events + $nCust customers to $outDir")
    }

    println(s"[scalegen] wrote $nDocs docs + $nVecs vectors to $outDir")
    spark.stop()
  }
}
