package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Durable per-batch PAIR REPORTS for the media ingest gate
 * ([[MediaIngest]], which [[ImageIngest]], [[AudioIngest]] and
 * [[VideoIngest]] drain through) — closing the
 * crash window between a batch's index marker and its folded-record
 * commit (`/root/reference` has no streaming at all — north-star
 * crash armor, the [[graft.io.Commits]] family).
 *
 * The window: a drain probes the standing index, appends its batch
 * (marker-committed), then crashes BEFORE `commitFolded()`. The next
 * drain re-reads the same silver files, but its index-as-ledger
 * anti-join sees every id already standing, so the delta — and the
 * returned pair frame — is EMPTY: the crashed drain's near-dup pairs
 * were computed but never surfaced to any caller, and those
 * duplicates silently pass the gate. The fix is the meta-last
 * convention applied to the REPORT: each batch persists its verified
 * pairs AND its source-file list under `index/pairs/batch=<tag>`
 * BEFORE the batch marker commits (marker covers both), and a
 * replaying drain re-reads the stored report for any batch built
 * from files the folded record still hasn't covered.
 *
 * Replay detection is COMMIT STATE, not id overlap: a batch is
 * inside the window exactly when it is marker-committed but its
 * source silver files are not yet in the folded record — i.e. they
 * are still among the drain's fresh files. (The first draft inferred
 * the window from "a fresh id is already standing", but an
 * at-least-once producer re-delivering an id in a NEW silver file is
 * indistinguishable from a crash under that test and would re-emit a
 * long-folded batch's whole report — silent duplicate pair delivery.)
 *
 * Scan order and cost: batches are checked newest-first by dir mtime
 * and the scan stops once it clears a fully-folded batch — but the
 * stop NEVER trusts mtime ordering beyond strict inequality: every
 * batch whose mtime TIES the stop batch is still examined, so a
 * filesystem with coarse (or absent — object-store prefixes report 0)
 * directory mtimes degrades to a correct full metadata scan instead
 * of silently skipping an unfolded batch that sorted behind a folded
 * one. On a POSIX store the steady state reads ONE tiny sidecar per
 * drain.
 *
 * Pre-upgrade batches (persisted before source-list sidecars) are
 * healed through the LEGACY test: the batch's stored ids are
 * intersected with the drain's fresh ids — the r18 detection, with
 * its at-least-once false-positive accepted for ONE test per legacy
 * batch, because the scan BACKFILLS the sidecar it just derived
 * (verified-folded → the non-empty folded token; in-window → the
 * current fresh set, whose files this drain's fold commits — so a
 * re-crash still re-heals and a success closes it). Without the backfill, a
 * coarse-mtime store (every batch ties the stop mtime) would re-run
 * the legacy id test on every legacy batch on every drain, forever —
 * re-exposing the false positive indefinitely. `healed` runs inside
 * the drain under the index claim, so the backfill write is
 * claim-serialized like every other index mutation (the
 * reads-never-mutate rule binds free-standing READERS, not the
 * drain's own maintenance path).
 */
object PairReports {

  private val sourcesName = "_graft_sources" // `_` prefix: parquet readers skip it

  /** Sidecar token marking a legacy batch the heal scan VERIFIED as
    * folded. A real silver path can never equal it, so the reader's
    * `srcs.exists(fresh)` naturally reads it as "not in window" — and
    * unlike the first draft's EMPTY sidecar, a crash-truncated file
    * (zero bytes) is now DISTINGUISHABLE: no token, no paths → fall
    * back to the legacy id-overlap test instead of treating the batch
    * as folded forever (r19 advice). */
  private val foldedToken = "__graft_verified_folded__"

  private def reportDir(indexDir: String, tag: String): String =
    s"$indexDir/pairs/batch=$tag"

  /** Persist a batch's verified pair report plus the silver files it
    * was built from — call BEFORE the batch marker commits, so a
    * marker-committed batch always has a re-readable report (a
    * replayed orphan overwrites its own). The sources sidecar lands
    * AFTER the parquet write (overwrite mode clears the dir). */
  def persist(
      pairs: DataFrame,
      indexDir: String,
      tag: String,
      sourceFiles: Seq[String]): Unit = {
    val dir = reportDir(indexDir, tag)
    pairs.write.mode("overwrite").parquet(dir)
    val p = new Path(dir, sourcesName)
    val fs = p.getFileSystem(
      pairs.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(sourceFiles.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /**
   * The stored pair reports of marker-committed batches whose SOURCE
   * FILES are still among `freshFiles` (the drain's not-yet-folded
   * silver files) — exactly the marker-committed / folded-uncommitted
   * crash signature. `freshIds` (one `media_id` column — the drain's
   * fresh files' ids, pre-anti-join) feeds ONLY the legacy test for
   * pre-sidecar batches. Returns an empty `pairSchema` frame in the
   * steady state.
   */
  def healed(
      spark: SparkSession,
      indexDir: String,
      committedBatches: Seq[Path],
      freshFiles: Seq[String],
      freshIds: DataFrame,
      pairSchema: StructType): DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pairSchema)
    if (committedBatches.isEmpty || freshFiles.isEmpty) return empty
    val fresh = freshFiles.toSet
    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a batch dir can vanish between the caller's listing and this
    // stat (concurrent compaction/cleanup) — skip it like the report
    // scan's fs.exists filter does, instead of aborting the whole
    // drain on FileNotFoundException (r19 advice)
    val byAge = committedBatches
      .flatMap { b =>
        try Some(b -> fs.getFileStatus(b).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      }
      .sortBy { case (b, t) => (-t, b.getName) }
    val touched = scala.collection.mutable.Buffer.empty[String]
    // stopAt = mtime of the first fully-folded batch seen; batches
    // STRICTLY older stop the scan, TIES are still examined (see
    // scaladoc — never trust mtime beyond strict inequality)
    var stopAt: Option[Long] = None
    val it = byAge.iterator
    var done = false
    while (it.hasNext && !done) {
      val (b, mtime) = it.next()
      if (stopAt.exists(mtime < _)) done = true
      else {
        val tag = graft.io.Commits.tagOf(b)
        val srcP = new Path(reportDir(indexDir, tag), sourcesName)
        // a zero-line sidecar is treated as ABSENT: the only writers
        // emit either source paths or the folded token, so no lines
        // means a truncated write — re-derive, never trust it
        val srcs: Option[Set[String]] =
          if (!fs.exists(srcP)) None
          else {
            val in = fs.open(srcP)
            val lines =
              try scala.io.Source.fromInputStream(in, "UTF-8")
                .getLines().filter(_.nonEmpty).toSet
              finally in.close()
            if (lines.isEmpty) None else Some(lines)
          }
        val inWindow = srcs match {
          case Some(lines) => lines.exists(fresh)
          case None =>
            // legacy pre-sidecar batch: the r18 id-overlap test,
            // batch-sized (one skinny media_id read) — then BACKFILL
            // the sidecar so this batch is never legacy-tested again
            // (see scaladoc; in-window batches record the current
            // fresh set, which this drain's fold commits; folded ones
            // the non-empty token). The backfill lands temp-then-
            // rename (the meta-last convention): a crash mid-write
            // leaves only the temp file, which the next drain ignores
            // and re-derives — never a truncated sidecar misread as
            // folded (r19 advice).
            val overlap = !spark.read.parquet(b.toString).select("media_id")
              .join(freshIds, Seq("media_id"), "left_semi").isEmpty
            val tmpP = new Path(srcP.getParent, s".${sourcesName}_tmp")
            val bf = fs.create(tmpP, true)
            try bf.write(
              (if (overlap) freshFiles else Seq(foldedToken))
                .mkString("\n").getBytes("UTF-8"))
            finally bf.close()
            // a zero-line sidecar may sit at the target — drop it so
            // the rename lands (a crash in between leaves the batch
            // sidecar-less: re-derived next drain, never misread)
            fs.delete(srcP, false)
            fs.rename(tmpP, srcP)
            overlap
        }
        if (inWindow) touched += tag
        else if (stopAt.isEmpty) stopAt = Some(mtime)
      }
    }
    val dirs = touched.toSeq.map(t => reportDir(indexDir, t))
      .filter(d => fs.exists(new Path(d)))
    if (dirs.isEmpty) empty
    else spark.read.schema(pairSchema).parquet(dirs: _*)
  }
}
