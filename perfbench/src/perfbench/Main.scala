package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 * {{{
 * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *                [--trace-file <spans.jsonl>]
 * perfbench.Main --self-test --work <dir>
 * perfbench.Main --train --work <dir>
 * }}}
 * Prints one human-readable summary line, then (last line of stdout) the
 * JSON result. Exits 1 on any failed call or wrong output.
 */
object Main {
  val Workloads: Seq[String] = Seq("medallion_daily", "curation_dedup", "vector_serving")

  /** Input-generation repetitions per run; set-up time counts their median. */
  val SetupReps = 3
  /** Past the minimum, never start a unit of work after this many seconds
    * of process time, whatever `--seconds` says: a run must end well
    * inside 180 s. */
  val HardStopS = 140.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traceFile: Option[Path], selfTest: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val work = Paths.get(kv.getOrElse("--work", sys.error("--work is required")))
    if (argv.contains("--self-test") || argv.contains("--train"))
      Args("", 0, 0, trace = false, work, None, selfTest = argv.contains("--self-test"))
    else {
      val w = kv.getOrElse("--workload", sys.error("--workload is required"))
      require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
      Args(w, kv.getOrElse("--seed", "42").toLong, kv.getOrElse("--seconds", "10").toInt,
        kv.getOrElse("--trace", "0") == "1", work, kv.get("--trace-file").map(Paths.get(_)),
        selfTest = false)
    }
  }

  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.builder("perfbench")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    if (args.selfTest) sys.exit(SelfTest.run(args.work))
    if (args.workload.isEmpty) sys.exit(train(args.work))
    val code =
      try run(args)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  /** Heap in use after a collection. Spark frees blocks of unreachable
    * checkpoints asynchronously once a GC has found them, so: collect, let
    * the cleaner run, collect again. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Build-time training run for the class-data-sharing archive: one
    * tiny traced unit of each workload in `BENCHMARK.json`, so the
    * archive holds the classes a real run loads (`curation_dedup` loads
    * its own few on top). Kept small: it is paid on every build. Prints
    * nothing on stdout. */
  def train(work: Path): Int = {
    val spark = session(work)
    val tracer = new Tracer(spark)
    val rec = new Recorder
    Seq[Workload](
      new MedallionDaily(spark, tracer, rec, 1, work.resolve("m"), records = 1000, pageSize = 250),
      new VectorServing(spark, tracer, rec, 1, baseVectors = 500, maxCycles = 1)
    ).zipWithIndex.foreach { case (w, k) =>
      w.generate(0, work.resolve(s"in_$k"))
      w.init()
      tracer.begin(0)
      try w.unit(-1) finally tracer.end()
    }
    spark.stop()
    if (rec.problems.isEmpty) 0 else 1
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(a.work)
    val sessionS = sinceStartS
    val tracer = new Tracer(spark)
    val rec = new Recorder
    val w: Workload = a.workload match {
      case "medallion_daily" =>
        new MedallionDaily(spark, tracer, rec, a.seed, a.work, records = 50000, pageSize = 5000)
      case "curation_dedup" =>
        new CurationDedup(spark, tracer, rec, a.seed, a.work, docs = 15000)
      case "vector_serving" =>
        new VectorServing(spark, tracer, rec, a.seed, baseVectors = 4000, maxCycles = 40)
    }

    // set-up: session; input generation, repeated (the median repetition
    // counts); standing state; checked warm-up units
    val repS = ArrayBuffer.empty[Double]
    val digests = ArrayBuffer.empty[String]
    (0 until SetupReps).foreach { r =>
      val t0 = System.nanoTime()
      digests += w.generate(r, a.work.resolve(s"setup_$r"))
      repS += (System.nanoTime() - t0) / 1e9
    }
    rec.check(digests.distinct.length == 1, "the same seed generated different inputs")
    val ti = System.nanoTime()
    w.init()
    val initS = (System.nanoTime() - ti) / 1e9
    (1 to w.warmupUnits).foreach(k => w.unit(-k))
    val warmS = (System.nanoTime() - ti) / 1e9
    val setupS = sessionS + Stats.median(repS.toSeq) + warmS

    // timed units; a traced run alternates traced and untraced units so
    // the tracing overhead is measured within the run
    val heap = ArrayBuffer(liveHeapMb())
    rec.recording = true
    // at least two: a median needs them, and a traced run alternates
    val minUnits = 2
    val t0 = System.nanoTime()
    var i = 0
    while (i < minUnits || ((System.nanoTime() - t0) / 1e9 < a.seconds && sinceStartS < HardStopS)) {
      val traced = a.trace && i % 2 == 1
      if (traced) tracer.begin(i)
      try w.unit(i)
      finally tracer.end()
      heap += liveHeapMb()
      i += 1
    }
    rec.recording = false
    w.finish()
    val tail = Stats.tail(rec.latencyMs.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) PerLayer.metrics(tracer, rec)
      else Seq(
        ("setup_s", setupS, "s"),
        ("batch_s", Stats.median(rec.unitS.toSeq), "s"),
        ("latency_p50_ms", Stats.median(rec.latencyMs.toSeq), "ms"),
        ("latency_tail_ms", tail.value, "ms"),
        ("freshness_p50_ms", Stats.median(rec.freshnessMs.toSeq), "ms"),
        ("items_per_s", rec.items / rec.unitS.sum, "1/s"),
        ("live_heap_mb", heap.max, "MB"))
    if (a.trace) a.traceFile.foreach(tracer.writeJsonl)
    spark.stop()

    val correct = rec.problems.isEmpty && rec.failed == 0
    println(f"[perfbench] workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"units=$i session_s=$sessionS%.3f setup_reps_s=${repS.map(x => f"$x%.3f").mkString("/")} init_s=$initS%.3f init_warmup_s=$warmS%.3f " +
      f"latency_tail=p${tail.percentile}%.1f(n=${tail.n}${if (tail.supported) "" else ", max: fewer than 20 samples"}) " +
      s"units_s=${rec.unitS.map(x => f"$x%.3f").mkString("/")} " +
      s"inputs_sha256=${digests.head.take(16)} problems=${rec.problems.length}")
    val ms = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": $ms}""")
    if (correct) 0 else 1
  }
}
