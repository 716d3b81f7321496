package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.VectorIndex
import graft.streaming.CorpusIngest

/**
 * `vector_serving`: one closed-loop client against a durable IVF index.
 * Set-up builds the index over the generated corpus. Each cycle runs
 * [[ProbesPerCycle]] `probeBatch` calls (32 held-out queries, k=10,
 * nprobe=4), then lands one pre-generated JSON batch and drains it with
 * `CorpusIngest.maintainVectors`, which screens it against the index
 * (semantic dedup) and appends it. Reads and writes hit the same index,
 * so the list files each ingest adds show up in later probes.
 */
final class VectorServing(
    spark: SparkSession, tracer: Tracer, rec: Recorder, seed: Long,
    baseVectors: Int, maxCycles: Int) extends Workload {
  import VectorServing._

  private var dir: Path = _
  private var data: Gen.Vectors = _
  private var querySets: IndexedSeq[(DataFrame, Array[Array[Float]])] = _
  private val live = ArrayBuffer.empty[(Long, Array[Float])]
  private val ingested = ArrayBuffer.empty[Int]
  private var nextBatch = 0

  private def index = dir.resolve("index").toString

  /** The index build and the first ingests warm most code paths. */
  override def warmupUnits: Int = 1

  def generate(rep: Int, d: Path): String = {
    dir = d
    Files.createDirectories(dir)
    data = Gen.vectors(seed, baseVectors, QuerySets * QueriesPerProbe, maxCycles + warmupUnits,
      BatchSize, Clusters, dir.resolve("in"))
    data.sha256.mkString(",")
  }

  override def init(): Unit = {
    VectorIndex.build(
      spark.read.schema(VecSchema).json(dir.resolve("in/base.jsonl").toString),
      "id", "embedding", index, Clusters, KmeansIters)
    live ++= data.base.indices.map(i => (i.toLong, data.base(i)))
    querySets = (0 until QuerySets).map { s =>
      val qs = data.queries.slice(s * QueriesPerProbe, (s + 1) * QueriesPerProbe)
      val rows = qs.indices.map(i => Row(i.toLong, qs(i).toSeq))
      (spark.createDataFrame(rows.asJava, QuerySchema), qs)
    }
    Files.createDirectories(dir.resolve("landing"))
  }

  /** One cycle; warm-up cycles included, cycle `b` lands batch `b`. */
  def unit(i: Int): Unit = {
    var cycleMs = 0.0
    val probes = ArrayBuffer.empty[(Array[Row], Array[Array[Float]])]
    require(nextBatch < data.batches.length, "out of pre-generated landing batches")
    val b = nextBatch
    nextBatch += 1
    val decisions = tracer.span("serving.cycle") {
      (0 until ProbesPerCycle).foreach { p =>
        val (qdf, qs) = querySets((b * ProbesPerCycle + p) % QuerySets)
        val (res, ms) = rec.call {
          tracer.span("io.VectorIndex.probeBatch") {
            val df = VectorIndex.probeBatch(qdf, "qid", index, K, NProbe)
            val rows = tracer.span("io.VectorIndex.probeBatch.consume")(df.collect())
            tracer.count("results", rows.length)
            rows
          }
        }
        cycleMs += ms
        rec.sample(rec.latencyMs, ms)
        rec.sample(rec.overheadMs(tracer.enabled), ms)
        res.foreach { rows =>
          if (rec.recording) rec.items += qs.length
          probes += ((rows, qs))
        }
      }
      // the batch lands: an atomic move into the directory the drain reads
      Files.move(dir.resolve(f"in/landing/batch_$b%04d.jsonl"),
        dir.resolve(f"landing/batch_$b%04d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
      val (decisions, ms) = rec.call {
        tracer.span("streaming.maintainVectors") {
          CorpusIngest.maintainVectors(spark, dir.resolve("landing").toString, VecSchema,
            "id", "embedding", dir.resolve("silver").toString, dir.resolve("checkpoint").toString,
            index, DedupThreshold, NProbe, Clusters, KmeansIters).collect()
        }
      }
      cycleMs += ms
      rec.sample(rec.freshnessMs, ms)
      decisions
    }
    rec.sample(rec.unitS, cycleMs / 1e3)
    probes.foreach { case (rows, qs) => checkRecall(rows, qs) }
    decisions.foreach(d => checkIngest(b, d))
    if (tracer.enabled) rec.layerValue("io.VectorIndex.live_files", liveFiles().toDouble)
  }

  /** Recall@10 of one probe against brute force over every live vector. */
  private def checkRecall(rows: Array[Row], qs: Array[Array[Float]]): Unit = {
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = qs.indices.map { q =>
      val truth = bruteTopK(qs(q), K)
      got.getOrElse(q.toLong, Set.empty[Long]).count(truth.contains).toDouble / K
    }
    val r = recalls.sum / recalls.length
    rec.layerValue("io.VectorIndex.recall_at_10", r)
    rec.check(r >= MinRecall, f"recall@10 $r%.3f below $MinRecall")
    rec.check(rows.length == qs.length * K, s"probe returned ${rows.length} rows")
  }

  private def bruteTopK(q: Array[Float], k: Int): Set[Long] = {
    val scored = live.map { case (id, v) => (id, cosine(q, v)) }
    scored.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
  }

  /** Planted near-dups are flagged, fresh vectors kept. */
  private def checkIngest(b: Int, decisions: Array[Row]): Unit = {
    val batch = data.batches(b)
    val keep = decisions.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    rec.check(keep.size == batch.length, s"batch $b: ${keep.size} decisions for ${batch.length}")
    batch.foreach { case (id, _, dup) =>
      rec.check(keep.get(id).contains(!dup),
        s"batch $b: vector $id (planted dup: $dup) decided keep=${keep.get(id)}")
    }
    live ++= batch.map { case (id, v, _) => (id, v) }
    ingested += b
  }

  /** Every ingested vector that is not a duplicate is its own nearest
    * neighbour in the index: one k=1 probe over all of them, at the end
    * of the run so it costs the loop nothing. */
  override def finish(): Unit = if (ingested.nonEmpty) {
    val fresh = ingested.toSeq.flatMap(b => data.batches(b).filter(x => !x._3))
    val qdf = spark.createDataFrame(
      fresh.map { case (id, v, _) => Row(id, v.toSeq) }.asJava, QuerySchema)
    val top = VectorIndex.probeBatch(qdf, "qid", index, 1, NProbe).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val wrong = fresh.filterNot { case (id, _, _) => top.get(id).contains(id) }
    rec.check(wrong.isEmpty, s"${wrong.length} of ${fresh.length} ingested vectors do not " +
      s"probe to themselves, e.g. ${wrong.take(3).map(x => x._1 -> top.get(x._1)).mkString(", ")}")
  }

  private def liveFiles(): Long = {
    val s = Files.walk(dir.resolve("index/lists"))
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }
}

object VectorServing {
  val Clusters = 32
  val KmeansIters = 2
  val K = 10
  val NProbe = 4
  val QueriesPerProbe = 32
  val QuerySets = 8
  val ProbesPerCycle = 4
  val BatchSize = 200
  val DedupThreshold = 0.95
  val MinRecall = 0.9

  val VecSchema: StructType = StructType.fromDDL("id BIGINT, embedding ARRAY<FLOAT>")
  val QuerySchema: StructType = StructType.fromDDL("qid BIGINT, embedding ARRAY<FLOAT>")

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
