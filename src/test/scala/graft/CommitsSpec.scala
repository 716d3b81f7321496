package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Commits

/** The durable-index protocol pieces of [[Commits]]: swap, heal /
  * resolve, committed batches, batch tag and meta I/O. */
class CommitsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def fs(dir: String) = Commits.fsOf(spark, new Path(dir))

  private def writeFile(dir: Path, name: String, body: String): Unit = {
    val d = new File(dir.toUri.getPath)
    d.mkdirs()
    Files.writeString(new File(d, name).toPath, body)
  }

  private def readFile(dir: Path, name: String): String =
    Files.readString(new File(dir.toUri.getPath, name).toPath)

  test("swap: the staged rewrite becomes live, prev and stage are gone") {
    val dir = TestSpark.tmpDir("commits_swap")
    val d = Commits.SwapDirs(dir, "store", "staging")
    writeFile(d.live, "data", "v1")
    writeFile(d.stage, "junk", "half-written by a crashed attempt")
    Commits.swap(fs(dir), d, "rewrite") { stage =>
      assert(!fs(dir).exists(new Path(stage, "junk")),
        "the stage is emptied before the write")
      writeFile(stage, "data", "v2")
    }
    assert(readFile(d.live, "data") == "v2")
    assert(!fs(dir).exists(d.prev) && !fs(dir).exists(d.stage))
  }

  test("a crash between the swap renames: resolve reads prev untouched, heal restores it") {
    val dir = TestSpark.tmpDir("commits_crash")
    val d = Commits.SwapDirs(dir, "store", "staging")
    // the window: live already retired to prev, the stage not promoted
    writeFile(d.prev, "data", "v1")
    writeFile(d.stage, "data", "v2-partial")
    val f = fs(dir)
    assert(Commits.resolve(f, d) == d.prev)
    assert(!f.exists(d.live) && f.exists(d.prev) && f.exists(d.stage),
      "resolve must not touch the store")
    Commits.heal(f, d)
    assert(readFile(d.live, "data") == "v1")
    assert(!f.exists(d.prev) && !f.exists(d.stage),
      "heal drops the half-written stage")
    // steady state: both are no-ops on the live dir
    assert(Commits.resolve(f, d) == d.live)
    Commits.heal(f, d)
    assert(readFile(d.live, "data") == "v1")
  }

  test("committed batches: a batch dir without the marker is invisible") {
    val root = TestSpark.tmpDir("commits_batches")
    val committed = new Path(s"$root/batch=b1x2a")
    writeFile(committed, "part-0", "x")
    Commits.commitBatch(fs(root), committed)
    writeFile(new Path(s"$root/batch=b2x3b"), "part-0", "orphan of a crashed append")
    writeFile(new Path(s"$root/folded"), "part-0", "not a batch")
    val live = Commits.committedBatches(spark, root)
    assert(live.map(Commits.tagOf) == Seq("b1x2a"))
    assert(Commits.committedBatches(spark, s"$root/missing").isEmpty)
  }

  test("batchTag: insensitive to row order, pinned on-disk name") {
    val ids = Seq("img-1", "img-2", "img-3")
    val a = Commits.batchTag(ids.toDF("media_id"), "media_id")
    val b = Commits.batchTag(ids.reverse.toDF("media_id").repartition(3), "media_id")
    assert(a == b)
    // a changed tag scheme would orphan every stored batch on replay
    assert(a == "b3x719f4990729de0b7")
    // numeric ids hash by their string form
    assert(Commits.batchTag(Seq(1L, 2L).toDF("id"), "id") ==
      Commits.batchTag(Seq("1", "2").toDF("id"), "id"))
    assert(Commits.batchTag(Seq.empty[String].toDF("id"), "id") == "b0x0")
  }

  test("meta: round trip by key, fail-loud reads of a missing index or key") {
    val dir = TestSpark.tmpDir("commits_meta")
    assert(intercept[IllegalArgumentException](Commits.readMeta(spark, dir, "vector"))
      .getMessage.contains(s"no vector index at $dir"))
    assert(!Commits.hasMeta(spark, dir))
    Commits.writeMeta(spark, dir, "id_col" -> "doc_id", "n" -> 3)
    assert(Commits.hasMeta(spark, dir))
    assert(readFile(new Path(dir), "_graft_index.json") ==
      """{"id_col": "doc_id", "n": 3}""")
    val m = Commits.readMeta(spark, dir, "window")
    assert(m.str("id_col") == "doc_id" && m.num("n") == 3)
    assert(m.numOr("alpha_num", 7) == 7)
    assert(intercept[RuntimeException](m.num("k")).getMessage ==
      "bad window index meta: missing k")
  }
}
