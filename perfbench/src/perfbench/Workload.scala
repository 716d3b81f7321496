package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Everything a run measures and checks, shared by all workloads. */
final class Recorder {
  /** Wall time of each unit of work (a batch, or a serving cycle). */
  val unitS = ArrayBuffer.empty[Double]
  /** Latency of each call users wait on; a failed call is +Inf. */
  val latencyMs = ArrayBuffer.empty[Double]
  /** Time from input landing to its result being visible, per unit. */
  val freshnessMs = ArrayBuffer.empty[Double]
  /** Items (records, docs, queries) the timed units processed. */
  var items = 0L
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  /** The latency the tracing overhead is judged on (a batch, or a
    * probe), split by whether the unit was traced. */
  val overheadMs = Map(true -> ArrayBuffer.empty[Double], false -> ArrayBuffer.empty[Double])
  /** Counts the benchmark measures at layer boundaries, per occurrence. */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def layerValue(name: String, v: Double): Unit = if (recording)
    layer.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  /** Off during set-up: warm-up calls are counted and checked but their
    * timings are not samples. */
  var recording = false

  def sample(buf: ArrayBuffer[Double], v: Double): Unit = if (recording) buf += v

  /** Time one call in ms; a throwing call counts as failed and as
    * missing any latency limit (+Inf). */
  def call[T](body: => T): (Option[T], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      (Some(r), (System.nanoTime() - t0) / 1e6)
    } catch {
      case NonFatal(e) =>
        failed += 1
        problems += s"call failed: $e"
        System.err.println(s"[perfbench] call failed: $e")
        e.printStackTrace()
        (None, Double.PositiveInfinity)
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      problems += what
      System.err.println(s"[perfbench] check failed: $what")
    }
}

/**
 * One benchmark workload. `generate` runs several times per run (its time
 * enters set-up time as the median repetition) and writes the seeded
 * inputs to files; the last repetition's files are the ones used. `init`
 * then builds any standing state once. `unit` runs one unit of work —
 * negative units are the untimed warm-up — recording timings into the
 * [[Recorder]] and checking outputs outside the timed region.
 */
trait Workload {
  /** Returns the SHA-256 of every input byte the repetition generated. */
  def generate(rep: Int, dir: Path): String
  def init(): Unit = ()
  def unit(i: Int): Unit
  /** Checks that need the whole run, after the last unit. */
  def finish(): Unit = ()
  /** Untimed, checked units before timing starts (the JIT needs them). */
  def warmupUnits: Int = 2
}

object Workload {
  /** Each unit publishes into a fresh directory; drop it once checked. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
