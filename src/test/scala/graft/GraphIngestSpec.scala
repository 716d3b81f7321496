package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Commits, GraphIndex}
import graft.streaming.GraphIngest

/** The streaming nav-graph maintainer: bootstrap build, O(drain)
  * folded-files batches, search-then-link insert visibility, crash
  * heal, and the visible-failure claim contract. */
class GraphIngestSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val vschema = graft.schema.Metadata.structFromSpec(
    """
    vec_id: long
    embedding: array<float>
    """)

  private def unit(axis: Int, eps: Double): Seq[Float] = {
    val v = Array.fill(4)(eps.toFloat); v(axis) = 1.0f; v.toSeq
  }

  private def landVecs(
      dir: java.io.File, name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(dir, name))
    try rows.foreach { case (id, v) =>
      w.println(s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}""")
    } finally w.close()
  }

  test("maintainGraph: bootstrap, O(drain) folds, inserted vectors findable, heal") {
    val base = TestSpark.tmpDir("graph_ingest")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    def drain() = GraphIngest.maintainGraph(
      spark, landing.getPath, vschema, "vec_id", "embedding",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", dims = 4, k = 2,
      planesPerBand = 2, bands = 2, nEntries = 2, beamWidth = 4, maxSteps = 4)
    def silver() = spark.read.schema(vschema).parquet(s"$base/silver")

    assert(drain() == 0L, "drain before anything lands is a clean no-op")

    // bootstrap wave builds the graph
    landVecs(landing, "w1.jsonl",
      Seq(1L -> unit(0, 0.0), 2L -> unit(0, 0.001), 10L -> unit(1, 0.0)))
    assert(drain() == 3L)
    assert(GraphIndex.storedIds(spark, s"$base/index")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 10L))

    // replay with nothing new: folded record short-circuits
    assert(drain() == 0L)

    // wave 2 inserts by search-then-link; the new vector is findable
    landVecs(landing, "w2.jsonl", Seq(20L -> unit(0, 0.002)))
    assert(drain() == 1L)
    val top = GraphIndex.search(spark, s"$base/index", silver(),
        silver().filter(col("vec_id") === 20L), k = 2)
      .collect().head
    assert(top.getLong(0) == 20L && top.getDouble(1) == 1.0,
      "an inserted vector must be reachable from the maintained graph")

    // CRASH SIMULATION: wave 3 reaches silver (drainOnce committed)
    // but the process dies before the fold — the folded-files diff
    // re-enters those files and the graph ledger anti-join inserts
    // exactly the stranded vectors
    landVecs(landing, "w3.jsonl", Seq(30L -> unit(2, 0.0)))
    graft.streaming.IngestStream.drainOnce(spark, landing.getPath, vschema,
      requiredCols = Seq("vec_id", "embedding"), normalizeCols = Nil,
      outDir = s"$base/silver", checkpointDir = s"$base/ckpt")
    assert(drain() == 1L,
      "vectors stranded in silver by a crash must link on the next drain")
    assert(GraphIndex.storedIds(spark, s"$base/index")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 10L, 20L, 30L))

    // concurrent drain fails visibly under the index claim
    Commits.acquireClaim(spark, s"$base/index")
    intercept[Commits.ConcurrentWriteException] { drain() }
    Commits.forceReleaseClaim(spark, s"$base/index")
    assert(drain() == 0L)

    // O(drain) contract: the folded record covers every silver file
    val silverFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$base/silver")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    assert(Commits.readVersioned(spark, s"$base/index/folded")
      .get._2.collect().map(_.getString(0)).toSet == silverFiles)
  }

  test("maintainGraph folds only the part files the silver sink log committed") {
    val base = TestSpark.tmpDir("graph_ingest_sinklog")
    val landing = new java.io.File(base, "landing"); landing.mkdirs()
    landVecs(landing, "w1.jsonl",
      Seq(1L -> unit(0, 0.0), 2L -> unit(0, 0.001), 10L -> unit(1, 0.0)))
    graft.streaming.IngestStream.drainOnce(spark, landing.getPath, vschema,
      requiredCols = Seq("vec_id", "embedding"), normalizeCols = Nil,
      outDir = s"$base/silver", checkpointDir = s"$base/ckpt")
    // a crashed micro-batch's leftover: a part file the log never committed
    val silver = new java.io.File(s"$base/silver")
    val committed = silver.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(committed.toPath,
      new java.io.File(silver, "part-00000-uncommitted.c000.snappy.parquet").toPath)
    val n = GraphIngest.maintainGraph(
      spark, landing.getPath, vschema, "vec_id", "embedding",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", dims = 4, k = 2,
      planesPerBand = 2, bands = 2, nEntries = 2, beamWidth = 4, maxSteps = 4)
    assert(n == 3L)
    assert(GraphIndex.storedIds(spark, s"$base/index").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 10L))
  }

  test("maintainGraph: α policy rides the bootstrap into the meta; drains RobustPrune") {
    val base = TestSpark.tmpDir("graph_ingest_alpha")
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    def drain() = GraphIngest.maintainGraph(
      spark, landing.getPath, vschema, "vec_id", "embedding",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", dims = 4, k = 2,
      planesPerBand = 2, bands = 2, nEntries = 2, beamWidth = 4,
      maxSteps = 4, candidateK = 4, alphaNum = 12, alphaDen = 10)
    landVecs(landing, "w1.jsonl",
      Seq(1L -> unit(0, 0.0), 2L -> unit(0, 0.001), 10L -> unit(1, 0.0)))
    assert(drain() == 3L)
    val m = GraphIndex.meta(spark, s"$base/index")
    assert((m.candidateK, m.alphaNum, m.alphaDen) == (4, 12, 10),
      "the bootstrap must commit the α policy into the index meta")
    // a later wave drains through the α MERGE path: 11's walk finds
    // the near-duplicate pair {1, 2} (cos(1,2) ≈ 1), and RobustPrune
    // keeps only the closer one — 2 OCCLUDES 1 (plain top-k at k=2
    // would keep both, spending the whole budget on one direction)
    landVecs(landing, "w2.jsonl", Seq(11L -> unit(1, 0.001)))
    assert(drain() == 1L)
    val adj11 = GraphIndex.edges(spark, s"$base/index")
      .filter(col("id") === 11L).collect().map(_.getLong(1)).toSet
    assert(adj11 == Set(2L),
      "the drain must RobustPrune its links: 2 occludes the near-dup 1")
    // the inserted vector is findable through the merged graph
    val top = GraphIndex.search(spark, s"$base/index",
        spark.read.schema(vschema).parquet(s"$base/silver"),
        Seq(Tuple1(unit(1, 0.0005))).toDF("embedding"), k = 1)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(11L))
    // degree bound holds through the α merge
    assert(GraphIndex.edges(spark, s"$base/index")
      .groupBy("id").count().filter(col("count") > 2).count() == 0)

    // drift sentinels are PER FIELD: a drain passing the correct α
    // with candidateK left at the default 0 ("use the committed
    // policy") must NOT trip the candidate_k comparison...
    landVecs(landing, "w3.jsonl", Seq(12L -> unit(0, 0.002)))
    assert(GraphIngest.maintainGraph(
      spark, landing.getPath, vschema, "vec_id", "embedding",
      silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
      indexDir = s"$base/index", dims = 4, k = 2,
      planesPerBand = 2, bands = 2, nEntries = 2, beamWidth = 4,
      maxSteps = 4, candidateK = 0, alphaNum = 12, alphaDen = 10) == 1L)
    // ...a drifting α fails naming alpha...
    landVecs(landing, "w4.jsonl", Seq(13L -> unit(1, 0.002)))
    val eA = intercept[IllegalArgumentException] {
      GraphIngest.maintainGraph(
        spark, landing.getPath, vschema, "vec_id", "embedding",
        silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
        indexDir = s"$base/index", dims = 4, k = 2,
        planesPerBand = 2, bands = 2, nEntries = 2, beamWidth = 4,
        maxSteps = 4, candidateK = 0, alphaNum = 15, alphaDen = 10)
    }
    assert(eA.getMessage.contains("alpha=15/10"), eA.getMessage)
    assert(!eA.getMessage.contains("candidate_k="), eA.getMessage)
    // ...and a drifting candidate_k fails naming candidate_k
    val eK = intercept[IllegalArgumentException] {
      GraphIngest.maintainGraph(
        spark, landing.getPath, vschema, "vec_id", "embedding",
        silverDir = s"$base/silver", checkpointDir = s"$base/ckpt",
        indexDir = s"$base/index", dims = 4, k = 2,
        planesPerBand = 2, bands = 2, nEntries = 2, beamWidth = 4,
        maxSteps = 4, candidateK = 6, alphaNum = 12, alphaDen = 10)
    }
    assert(eK.getMessage.contains("candidate_k=6"), eK.getMessage)
  }
}
