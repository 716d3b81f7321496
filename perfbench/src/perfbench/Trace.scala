package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region around a call into a layer. Times are wall-clock
  * milliseconds (the clock Spark stamps job events with) plus a
  * nanosecond duration for the span itself. */
final class Span(
    val id: Int, val name: String, val parent: Int, val iter: Int,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  /** Counts the benchmark itself records at this boundary. */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def durS: Double = (endNs - startNs) / 1e9
}

/** A Spark job, charged to the span that was open when it was submitted. */
final class JobRec(
    val span: Int, val execId: Long, val streaming: Boolean, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** File-write and scan SQL metrics of one finished query execution. */
final case class ExecRec(
    writeFiles: Long, writeBytes: Long, commitMs: Long, scanFiles: Long, scanRows: Long)

/** Totals over a set of jobs and query executions. */
final case class Work(
    jobs: Int, tasks: Int, cpuS: Double, shuffleWriteBytes: Long, spillBytes: Long,
    writeFiles: Long, writeBytes: Long, commitS: Double, scanFiles: Long, scanRows: Long,
    streamingJobS: Double)

object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }

  def execRec(qe: QueryExecution): ExecRec = {
    var wf, wb, cm, sf, sr = 0L
    def m(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    nodes(qe.executedPlan).foreach {
      case w: DataWritingCommandExec =>
        val cm2 = w.cmd.metrics
        def c(k: String) = cm2.get(k).map(_.value).getOrElse(0L)
        wf += c("numFiles"); wb += c("numOutputBytes")
        cm += c("taskCommitTime") + c("jobCommitTime")
      case s: FileSourceScanLike =>
        sf += m(s, "numFiles"); sr += m(s, "numOutputRows")
      case _ =>
    }
    ExecRec(wf, wb, cm, sf, sr)
  }
}

/**
 * Span recorder plus the two listeners that charge Spark's work to
 * spans. `span` sets the `perfbench.span` local property, so every job
 * submitted inside it (also from threads it starts, such as a streaming
 * query's) carries the span id; the SparkListener books job times and
 * task metrics by that id, and the QueryExecutionListener books write and
 * scan metrics per query, linked to the jobs' SQL execution id when the
 * execution ends. Spans live in memory until [[writeJsonl]].
 *
 * Calls are lazy: work a call only plans runs in the span of whichever
 * call consumes it, and is booked there.
 */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var on = false
  private var iter = -1
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** QueryExecution id → its file-write and scan metrics. */
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  /** SQL execution id (on jobs) → QueryExecution id. */
  private val execQuery = new ConcurrentHashMap[Long, Long]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { sid =>
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
        jobs.put(e.jobId, new JobRec(sid.toInt, exec, streaming, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.queryId(end).foreach(q => execQuery.put(end.executionId, q))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execs.put(qe.id, PlanWalk.execRec(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def enabled: Boolean = on

  /** Start recording iteration `i`: listeners attach only while on, so
    * untraced iterations run exactly as without the tracer. */
  def begin(i: Int): Unit = {
    iter = i
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  /** Stop recording: wait for every event of the iteration, detach. */
  def end(): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.length, name, stack.headOption.fold(-1)(_.id), iter,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack ::= s
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Record a count at the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.counts(name) = s.counts.getOrElse(name, 0.0) + v)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = {
    val out = ArrayBuffer(s)
    var i = 0
    while (i < out.length) { out ++= children(out(i)); i += 1 }
    out.toSeq
  }

  def selfS(s: Span): Double = selfTime(s, children(s))

  private def jobsOf(ids: Set[Int]): Seq[JobRec] =
    jobs.values().asScala.filter(j => ids(j.span)).toSeq

  /** Work charged to `s` and (when `deep`) every span below it. */
  def work(s: Span, deep: Boolean = true): Work = {
    val ids = (if (deep) subtree(s) else Seq(s)).map(_.id).toSet
    val js = jobsOf(ids)
    val ex = js.map(_.execId).filter(_ >= 0).distinct
      .flatMap(e => Option(execQuery.get(e))).flatMap(q => Option(execs.get(q)))
    Work(
      jobs = js.length, tasks = js.map(_.tasks).sum, cpuS = js.map(_.cpuNs).sum / 1e9,
      shuffleWriteBytes = js.map(_.shuffleWriteBytes).sum, spillBytes = js.map(_.spillBytes).sum,
      writeFiles = ex.map(_.writeFiles).sum, writeBytes = ex.map(_.writeBytes).sum,
      commitS = ex.map(_.commitMs).sum / 1e3, scanFiles = ex.map(_.scanFiles).sum,
      scanRows = ex.map(_.scanRows).sum,
      streamingJobS = js.filter(_.streaming).map(j => (j.endMs - j.startMs) / 1e3).sum)
  }

  /** Span time not covered by any of its (and its subtree's) jobs: the
    * driver-side share of a call. */
  def driverS(s: Span): Double = {
    val ids = subtree(s).map(_.id).toSet
    val covered = Stats.coveredWithin(s.startMs, s.endMs,
      jobsOf(ids).map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)))
    math.max(0.0, s.durS - covered / 1e3)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = work(s, deep = false)
      val counts = s.counts.map { case (k, v) => s""""$k": ${Json.num(v)}""" }
      (Seq(
        s""""id": ${s.id}""", s""""name": ${Json.str(s.name)}""", s""""parent": ${s.parent}""",
        s""""iter": ${s.iter}""", s""""start_ms": ${s.startMs}""", s""""end_ms": ${s.endMs}""",
        s""""dur_s": ${Json.num(s.durS)}""", s""""self_s": ${Json.num(selfS(s))}""",
        s""""jobs": ${w.jobs}""", s""""tasks": ${w.tasks}""",
        s""""executor_cpu_s": ${Json.num(w.cpuS)}""",
        s""""shuffle_write_bytes": ${w.shuffleWriteBytes}""",
        s""""spill_bytes": ${w.spillBytes}""",
        s""""write_files": ${w.writeFiles}""", s""""write_bytes": ${w.writeBytes}""",
        s""""commit_s": ${Json.num(w.commitS)}""", s""""scan_files": ${w.scanFiles}""",
        s""""scan_rows": ${w.scanRows}""") ++ counts).mkString("{", ", ", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time: a span's duration minus the part of it its children
    * cover (children of one driver thread never overlap, but the union
    * keeps the arithmetic right if they did). */
  def selfTime(s: Span, kids: Seq[Span]): Double = {
    val covered = Stats.coveredWithin(s.startNs, s.endNs, kids.map(k => (k.startNs, k.endNs)))
    (s.endNs - s.startNs - covered) / 1e9
  }
}
