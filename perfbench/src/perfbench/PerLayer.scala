package perfbench

import scala.collection.mutable.ArrayBuffer

/**
 * The per-layer metrics of a traced run, each the median over the traced
 * occurrences of its span (or of the count the benchmark recorded).
 * Every traced run reports every name; a layer the workload never calls
 * reports 0.
 */
object PerLayer {
  private val Stages: Seq[String] =
    Seq("fetch_data_bronze", "transform_silver", "aggregate_gold", "validate_gold_quality")
  private val WritingStages = Stages.take(3)
  /** The span that wraps one unit of work, per workload. */
  private val UnitSpans = Seq("pipeline.batch", "curation.batch", "serving.cycle")

  def metrics(t: Tracer, rec: Recorder): Seq[(String, Double, String)] = {
    val out = ArrayBuffer.empty[(String, Double, String)]
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def over(span: String)(f: Span => Double): Double = med(t.named(span).map(f))
    def counted(name: String): Double = med(rec.layer.get(name).fold(Seq.empty[Double])(_.toSeq))
    def busy(span: String): Unit = {
      out += ((s"$span.busy_s", over(span)(_.durS), "s"))
      out += ((s"$span.executor_cpu_s", over(span)(s => t.work(s).cpuS), "s"))
    }

    Stages.foreach(st => busy(s"pipeline.$st"))
    out += (("pipeline.overhead_s", over("pipeline.batch") { b =>
      b.durS - t.children(b).filter(c => Stages.exists(st => c.name == s"pipeline.$st")).map(_.durS).sum
    }, "s"))
    out += (("sources.paged.scan_s", over("sources.paged.scan")(_.durS), "s"))
    out += (("sources.paged.pages", over("sources.paged.scan")(s => t.work(s).tasks.toDouble), "count"))
    WritingStages.foreach { st =>
      out += ((s"io.write.$st.files", over(s"pipeline.$st")(s => t.work(s).writeFiles.toDouble), "count"))
      out += ((s"io.write.$st.bytes", over(s"pipeline.$st")(s => t.work(s).writeBytes.toDouble), "bytes"))
      out += ((s"io.write.$st.commit_s", over(s"pipeline.$st")(s => t.work(s).commitS), "s"))
    }
    val units = UnitSpans.flatMap(t.named)
    def perUnit(f: Work => Double): Double = med(units.map(u => f(t.work(u))))
    out += (("io.write.files", perUnit(_.writeFiles.toDouble), "count"))
    out += (("io.write.bytes", perUnit(_.writeBytes.toDouble), "bytes"))
    out += (("io.write.commit_s", perUnit(_.commitS), "s"))
    out += (("io.scan.files", perUnit(_.scanFiles.toDouble), "count"))

    val probe = "io.VectorIndex.probeBatch"
    busy(probe)
    out += ((s"$probe.jobs", over(probe)(s => t.work(s).jobs.toDouble), "count"))
    out += ((s"$probe.driver_s", over(probe)(t.driverS), "s"))
    out += ((s"$probe.rows_scanned_per_result", over(probe) { s =>
      val results = s.counts.getOrElse("results", 0.0)
      if (results > 0) t.work(s).scanRows / results else 0.0
    }, "ratio"))
    out += (("io.VectorIndex.live_files",
      rec.layer.get("io.VectorIndex.live_files").fold(0.0)(_.max), "count"))
    out += (("io.VectorIndex.recall_at_10", counted("io.VectorIndex.recall_at_10"), "ratio"))

    busy("ops.Dedup.verifiedNearDups")
    busy("ops.Dedup.components")
    busy("ops.Packing.packSequences")
    out += (("ops.Dedup.candidate_pairs", counted("ops.Dedup.candidate_pairs"), "count"))
    out += (("ops.Dedup.verified_pairs", counted("ops.Dedup.verified_pairs"), "count"))
    out += (("ops.Dedup.lsh_precision", counted("ops.Dedup.lsh_precision"), "ratio"))

    busy("streaming.maintainVectors")
    out += (("streaming.drain_s",
      over("streaming.maintainVectors")(s => t.work(s).streamingJobS), "s"))

    val traced = rec.overheadMs(true).toSeq
    val untraced = rec.overheadMs(false).toSeq
    out += (("trace.overhead_ms",
      if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(untraced),
      "ms"))
    out.toSeq
  }
}
