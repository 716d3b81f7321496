package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.AudioDedup

/**
 * Durable audio-fingerprint index — the published-layer twin of the
 * constellation near-dup family ([[AudioDedup]]), closing the one
 * modality that had no durable store (text has [[SignatureIndex]]/
 * [[WindowIndex]], vectors [[VectorIndex]], graphs [[GraphIndex]],
 * images the ImageIngest hash store). In production the Shazam
 * construction (Wang 2003) IS a durable inverted index — fp → doc
 * postings probed per query batch; recomputing the corpus's landmarks
 * per question is exactly the cost an index exists to avoid (q279
 * re-decodes and re-fingerprints the corpus on every run; at 100 TB
 * that is the whole corpus's decode per query).
 *
 * Store layout (the [[SignatureIndex]] lifecycle):
 *  - `fps/` parquet of (idCol, t, fp) landmark rows, fp-sorted within
 *    files so the fp-keyed probe scan gets tight min/max footers (at
 *    cluster scale, bucket by fp range so a probe is a partition
 *    read);
 *  - the [[Commits]] index meta — the fingerprint geometry (frameLen,
 *    bins, fanout) is the index's IDENTITY: a probe hashed with
 *    different parameters silently finds nothing, so the parameters
 *    are written once at build and every operation reads them back —
 *    callers cannot drift. Meta commits LAST: a crashed build leaves
 *    no readable index.
 *
 * Writers (build/append/delete/compact/ingestBatch) serialize under
 * the store's drain claim ([[Commits.withClaim]] — the r16 VectorIndex
 * convention); concurrent writers fail visibly. Probes are read-only
 * and never shuffle the store: the batch decodes map-side, its
 * landmarks join the store's postings on fp (batch×store and
 * batch-internal — never store×store).
 */
object AudioIndex {

  /** Index identity, fixed at build time. */
  final case class Meta(idCol: String, frameLen: Int, bins: Int, fanout: Int)

  private def fpsPath(dir: String) = s"$dir/fps"
  private def fpsDirs(dir: String) = Commits.SwapDirs(dir, "fps", "rewriting")
  private def fsOf(spark: SparkSession, dir: String) =
    Commits.fsOf(spark, new Path(dir))

  /** [[Commits.heal]] a crashed [[compact]]/[[delete]] swap. MUTATING —
    * called only by writers that hold the store claim (a claim-free
    * heal would race a LIVE delete/compact between its renames and
    * discard its staged rewrite); no-op in the steady state. */
  private def ensureLive(spark: SparkSession, dir: String): Unit =
    Commits.heal(fsOf(spark, dir), fpsDirs(dir))

  /** The readable fps dir WITHOUT mutating ([[Commits.resolve]]):
    * reads hold no claim, so they must not race a live rewrite's
    * renames (or each other) — the next claim-holding writer heals. */
  private def livePath(spark: SparkSession, dir: String): String =
    Commits.resolve(fsOf(spark, dir), fpsDirs(dir)).toString

  /** Build the index from scratch: decode + fingerprint every payload
    * in `media` ONCE, write the landmark table, then commit the meta
    * file. Overwrites any previous index at `dir`. */
  def build(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      dir: String,
      frameLen: Int = 32,
      bins: Int = 8,
      fanout: Int = 3): Unit = {
    require(idCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"idCol '$idCol' must be a plain identifier (stored in index meta)")
    val spark = media.sparkSession
    Commits.withClaim(spark, dir) {
      val fs = fsOf(spark, dir)
      // REBUILD over an existing index: retire the meta FIRST, so a
      // crash mid-overwrite leaves the documented fail-loud
      // missing-meta state — never stale geometry over new landmarks
      // (a probe against that would silently find nothing)
      fs.delete(Commits.metaPath(dir), false)
      // a full rebuild owns the dir: drop crash artifacts of any
      // previous delete/compact so they can't be "healed" over the
      // fresh index later
      fs.delete(fpsDirs(dir).prev, true)
      fs.delete(fpsDirs(dir).stage, true)
      AudioDedup.fingerprints(media, idCol, payloadCol, frameLen, bins, fanout)
        .sortWithinPartitions("fp") // probe-key clustering: tight fp footers
        .write.mode("overwrite").parquet(fpsPath(dir))
      Commits.writeMeta(spark, dir, "id_col" -> idCol, "frame_len" -> frameLen,
        "bins" -> bins, "fanout" -> fanout)
    }
  }

  /** Read the index identity. Fails if `dir` holds no committed index. */
  def meta(spark: SparkSession, dir: String): Meta = {
    val j = Commits.readMeta(spark, dir, "audio")
    Meta(j.str("id_col"), j.num("frame_len"), j.num("bins"), j.num("fanout"))
  }

  /** The stored landmark table (meta.idCol, t, fp). Read-only — a
    * crashed rewrite window resolves to `fps_prev` without mutating
    * (see [[livePath]]). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(livePath(spark, dir))

  /**
   * Near-dup pairs between `batch` (raw payloads — decoded and
   * fingerprinted here, with the STORED geometry) and everything
   * indexed at `dir`, plus batch-internal pairs
   * ([[AudioDedup.sharedFingerprintProbe]] semantics: every pair
   * touches the batch; the store is never self-joined). Batch ids
   * must be disjoint from stored ids.
   */
  def probe(
      batch: DataFrame,
      payloadCol: String,
      dir: String,
      minShared: Long,
      maxDocsPerFp: Long = 0L): DataFrame = {
    val spark = batch.sparkSession
    val m = meta(spark, dir)
    val batchFps = AudioDedup.fingerprints(
      batch, m.idCol, payloadCol, m.frameLen, m.bins, m.fanout)
    AudioDedup.sharedFingerprintProbe(
      batchFps, fingerprints(spark, dir), m.idCol, minShared, maxDocsPerFp)
  }

  /** Append `batch`'s landmarks so future probes see them. Geometry
    * comes from the stored meta — a batch CANNOT be appended with
    * drifted parameters. Call after a successful [[probe]]. */
  def append(batch: DataFrame, payloadCol: String, dir: String): Unit = {
    val spark = batch.sparkSession
    Commits.withClaim(spark, dir) {
      ensureLive(spark, dir)
      val m = meta(spark, dir)
      AudioDedup.fingerprints(
          batch, m.idCol, payloadCol, m.frameLen, m.bins, m.fanout)
        .sortWithinPartitions("fp")
        .write.mode("append").parquet(fpsPath(dir))
    }
  }

  /** The daily-batch operation: probe the CURRENT index for the new
    * batch's near-dups, then append the batch's landmarks — decode
    * runs ONCE (the landmark frame is materialized and feeds both).
    * Returns the verified pairs (reflecting the pre-append index). */
  def ingestBatch(
      batch: DataFrame,
      payloadCol: String,
      dir: String,
      minShared: Long,
      maxDocsPerFp: Long = 0L): DataFrame = {
    val spark = batch.sparkSession
    Commits.withClaim(spark, dir) {
      ensureLive(spark, dir)
      val m = meta(spark, dir)
      val batchFps = AudioDedup.fingerprints(
          batch, m.idCol, payloadCol, m.frameLen, m.bins, m.fanout)
        .localCheckpoint() // one decode: feeds the probe AND the append
      val pairs = AudioDedup.sharedFingerprintProbe(
          batchFps, fingerprints(spark, dir), m.idCol, minShared, maxDocsPerFp)
        .localCheckpoint() // judged against the PRE-append store
      batchFps.sortWithinPartitions("fp")
        .write.mode("append").parquet(fpsPath(dir))
      pairs
    }
  }

  /**
   * Remove docs from the index — the takedown / right-to-be-forgotten
   * pass. Landmarks are per-doc, so dropping their rows IS the
   * rebuild: one anti-join rewrite of the fps store (the deleted-id
   * side broadcasts), behind the crash-safe [[Commits.swap]]
   * ([[ensureLive]] heals the window). After this, [[probe]]
   * can never pair a batch with a deleted doc — equivalent to an
   * index built from the corpus minus the deleted docs (spec-pinned).
   */
  def delete(deletedIds: DataFrame, dir: String): Unit = {
    require(deletedIds.columns.length == 1,
      s"delete takes a single-column id frame (got " +
        s"${deletedIds.columns.mkString(", ")}) — a takedown must not " +
        "guess which column holds the ids")
    val spark = deletedIds.sparkSession
    Commits.withClaim(spark, dir) {
      ensureLive(spark, dir)
      val m = meta(spark, dir)
      Commits.rewrite(spark, fpsDirs(dir), "delete")(_.join(
        broadcast(deletedIds.select(col(deletedIds.columns.head).as(m.idCol))),
        Seq(m.idCol), "left_anti"))
    }
  }

  /** Rewrite the store as `numFiles` fp-range-clustered files — the
    * maintenance pass for append-per-batch small-file accretion; range
    * clustering by fp keeps the probe scan pruned. Crash-safe via the
    * same swap as [[delete]]. */
  def compact(spark: SparkSession, dir: String, numFiles: Int): Unit =
    Commits.withClaim(spark, dir) {
      ensureLive(spark, dir)
      Commits.rewrite(spark, fpsDirs(dir), "compact")(
        _.repartitionByRange(numFiles, col("fp")).sortWithinPartitions("fp"))
    }

  /** [[compact]] only when the store has fragmented past
    * `2 × targetFiles` ([[Commits.fragmented]]) — idempotent
    * steady-state no-op (one listing). Returns true when a compaction
    * ran. */
  def compactIfFragmented(
      spark: SparkSession, dir: String, targetFiles: Int): Boolean = {
    val fragmented = Commits.fragmented(
      spark, dir, "audio", fpsDirs(dir), targetFiles)(identity)
    if (fragmented) compact(spark, dir, targetFiles)
    fragmented
  }
}
