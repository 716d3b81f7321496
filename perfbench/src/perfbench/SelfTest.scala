package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** Harness self-tests (no Spark): the tail-percentile rule, span
  * self-time arithmetic and generator determinism. Returns the exit code. */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"[self-test] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += what
  }

  private def span(id: Int, parent: Int, s: Long, e: Long): Span = {
    val x = new Span(id, s"s$id", parent, 0, s, s * 1000000L)
    x.endMs = e; x.endNs = e * 1000000L
    x
  }

  def run(work: Path): Int = {
    failures.clear()
    // tail: highest percentile with at least 10 samples beyond it
    val hundred = (1 to 100).map(_.toDouble)
    val t100 = Stats.tail(hundred)
    expect(t100.value == 90.0 && t100.percentile == 90.0 && t100.supported,
      s"100 samples: tail is p90 = 90 (got p${t100.percentile} = ${t100.value})")
    val t20 = Stats.tail((1 to 20).map(_.toDouble))
    expect(t20.value == 10.0 && t20.percentile == 50.0 && t20.supported,
      s"20 samples: tail is p50 = 10 (got p${t20.percentile} = ${t20.value})")
    val t19 = Stats.tail((1 to 19).map(_.toDouble))
    expect(!t19.supported && t19.value == 19.0,
      "19 samples: the rule would land below the median; the maximum is reported, flagged")
    val withFail = Stats.tail((1 to 30).map(_.toDouble) :+ Double.PositiveInfinity)
    expect(withFail.value == 21.0, s"a failed call (+Inf) shifts the tail (got ${withFail.value})")
    expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median interpolates")

    // self time: duration minus the union of the children's intervals
    val parent = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 30), span(2, 0, 40, 70))
    expect(math.abs(Tracer.selfTime(parent, kids) - 0.050) < 1e-9, "self time = 100 - 20 - 30 ms")
    val overlapping = Seq(span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 0, 90, 120))
    expect(math.abs(Tracer.selfTime(parent, overlapping) - 0.050) < 1e-9,
      "overlapping and overhanging children are counted once, clipped to the parent")
    expect(Tracer.selfTime(parent, Nil) == 0.1, "a leaf's self time is its duration")
    expect(Stats.coveredLength(Seq((0L, 5L), (5L, 10L), (20L, 25L))) == 15L, "interval union")

    // generators: same seed, same bytes; another seed, other bytes
    def gen(seed: Long, tag: String): Seq[String] = {
      val d = work.resolve(s"gen_${tag}_$seed")
      Files.createDirectories(d)
      val b = Gen.breweries(seed, 3000, d.resolve("api.jsonl")).sha256
      val c = Gen.corpus(seed, 2000, d.resolve("docs.jsonl")).sha256
      val v = Gen.vectors(seed, 500, 64, 3, 50, 8, d.resolve("vec")).sha256
      b +: c +: v
    }
    val a1 = gen(42, "a")
    val a2 = gen(42, "b")
    val b1 = gen(43, "a")
    expect(a1 == a2, "seed 42 twice: byte-identical inputs for every generator")
    expect(a1.zip(b1).forall { case (x, y) => x != y }, "seed 43: different inputs")
    val truth = Gen.breweries(42, 3000, work.resolve("gen_t.jsonl"))
    val lines = Files.readAllLines(work.resolve("gen_t.jsonl"))
    val complete = lines.toArray(new Array[String](0)).filter(l =>
      !l.contains("\"id\": null") && !l.contains("\"name\": null") &&
        !l.contains("\"state\": null") && !l.contains("\"country\": null"))
      .map(l => l.substring(8, l.indexOf('"', 8))).distinct.length
    expect(truth.expectedSilver == complete,
      s"brewery truth: ${truth.expectedSilver} expected silver rows = distinct complete ids ($complete)")
    val corpus = Gen.corpus(42, 2000, work.resolve("gen_c.jsonl"))
    expect(corpus.exactDups.nonEmpty && corpus.exactDups.forall { case (d, s) =>
      corpus.texts(d.toInt) == corpus.texts(s.toInt) }, "planted exact dups are exact")
    expect(Gen.jaccard("a b c d", "a b c d") == 1.0 && Gen.jaccard("a b c d", "a b c e") == 1.0 / 3,
      "driver-side shingle Jaccard")

    println(s"[self-test] ${if (failures.isEmpty) "all passed" else s"${failures.length} failed"}")
    if (failures.isEmpty) 0 else 1
  }
}
