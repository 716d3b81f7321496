package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{CorpusFilters, Dedup, Packing}

/**
 * `curation_dedup`: one LLM-curation batch over a generated corpus —
 * one scan, the document filter chain, MinHash-LSH near-dup detection
 * verified at Jaccard ≥ 0.8, connected components into dedup decisions,
 * sequence packing of the kept docs and one parquet write. Each stage's
 * result is materialized inside its own span, so a stage's cost lands in
 * its span rather than in whichever later call would consume it.
 */
final class CurationDedup(
    spark: SparkSession, tracer: Tracer, rec: Recorder, seed: Long, work: Path,
    docs: Int) extends Workload {
  import CurationDedup._

  private var file: Path = _
  private var truth: Gen.Corpus = _
  private var keptCount = -1L

  def generate(rep: Int, dir: Path): String = {
    Files.createDirectories(dir)
    file = dir.resolve("docs.jsonl")
    truth = Gen.corpus(seed, docs, file)
    truth.sha256
  }

  def unit(i: Int): Unit = batch(work.resolve(f"batches/batch_$i%04d"))

  private final case class Out(kept: DataFrame, pairs: DataFrame, labels: DataFrame,
      decisions: DataFrame)

  private def batch(out: Path): Unit = {
    val (res, ms) = rec.call {
      tracer.span("curation.batch") {
        val corpus = tracer.span("io.scan") {
          spark.read.schema(DocSchema).json(file.toString).localCheckpoint()
        }
        val kept = tracer.span("ops.CorpusFilters.decide") {
          val d = CorpusFilters.decide(corpus, "text", "doc_id", Filters)
          corpus.join(d.filter(col("kept")).select("doc_id"), "doc_id").localCheckpoint()
        }
        val pairs = tracer.span("ops.Dedup.verifiedNearDups") {
          Dedup.verifiedNearDups(kept, "text", "doc_id", Threshold).localCheckpoint()
        }
        val labels = tracer.span("ops.Dedup.components")(Dedup.components(pairs))
        val decisions = tracer.span("ops.Dedup.dedupDecisions") {
          Dedup.dedupDecisions(kept, "doc_id", labels)
        }
        tracer.span("ops.Packing.packSequences") {
          val finalDocs = kept.join(decisions.filter(col("keep")).select("doc_id"), "doc_id")
          val packed = Packing.packSequences(finalDocs, "text", "lang", "doc_id", Budget)
          tracer.span("io.write")(packed.write.mode("overwrite").parquet(out.toString))
        }
        Out(kept, pairs, labels, decisions)
      }
    }
    rec.sample(rec.unitS, ms / 1e3)
    rec.sample(rec.latencyMs, ms)
    rec.sample(rec.freshnessMs, ms)
    rec.sample(rec.overheadMs(tracer.enabled), ms)
    if (rec.recording && res.isDefined) rec.items += docs
    res.foreach { o =>
      if (tracer.enabled) tracer.span("ops.Dedup.candidatePairs") {
        // traced runs only, outside the timed batch: LSH candidates at
        // the same settings verifiedNearDups uses, for its precision
        val cand = Dedup.candidatePairs(o.kept, "text", "doc_id").count().toDouble
        val verified = o.pairs.count().toDouble
        rec.layerValue("ops.Dedup.candidate_pairs", cand)
        rec.layerValue("ops.Dedup.verified_pairs", verified)
        rec.layerValue("ops.Dedup.lsh_precision", if (cand > 0) verified / cand else 0.0)
      }
      check(o, out)
    }
    Workload.deleteTree(out)
  }

  private def check(o: Out, out: Path): Unit = {
    val pairs = o.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rec.check(pairs.nonEmpty, "no verified near-dup pairs")
    pairs.foreach { case (a, b, j) =>
      val exact = Gen.jaccard(truth.texts(a.toInt), truth.texts(b.toInt))
      rec.check(exact >= Threshold - 1e-6 && math.abs(exact - j) < 1e-5,
        s"pair ($a, $b): reported Jaccard $j, driver recomputes $exact")
    }
    val label = o.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keptIds = o.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = truth.exactDups.filter { case (d, s) => keptIds(d) && keptIds(s) }
    rec.check(planted.nonEmpty, "no planted exact dup survived the filters")
    planted.foreach { case (d, s) =>
      rec.check(label.contains(d) && label.get(d) == label.get(s),
        s"exact dups $d and $s are not in one component")
    }
    val keptNow = o.decisions.filter(col("keep")).count()
    if (keptCount < 0) keptCount = keptNow
    rec.check(keptNow == keptCount, s"kept $keptNow docs, an earlier batch kept $keptCount")
    val packedDocs = spark.read.parquet(out.toString).select("doc_id").distinct().count()
    rec.check(packedDocs == keptNow, s"packed $packedDocs docs, kept $keptNow")
  }
}

object CurationDedup {
  val DocSchema: StructType =
    StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING")
  val Threshold = 0.8
  val Budget = 2048L
  /** Structural filters that suit the generated vocabulary. */
  val Filters: Seq[CorpusFilters.Filter] = Seq(
    CorpusFilters.MinTokens(15), CorpusFilters.MaxTokens(95),
    CorpusFilters.MeanWordLenBand(3.0, 10.0), CorpusFilters.MaxRepetition(0.2))
}
