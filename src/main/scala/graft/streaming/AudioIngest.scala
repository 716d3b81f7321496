package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Commits
import graft.ops.AudioDedup

/**
 * Incremental AUDIO near-dup gating at the crawl front door — the
 * constellation-fingerprint member of the streaming-maintainer family
 * ([[ImageIngest]] is the perceptual-hash twin; `/root/reference` has
 * no streaming or audio at all — north-star surface): fetchers land
 * `.warc.gz` archives, each drain reads only the new archives
 * ([[WarcIngest.drainWarc]] — file ledger + record_id anti-join give
 * exactly-once silver), and the drain's not-yet-indexed audio
 * payloads decode → landmark fingerprints → probe the standing
 * fingerprint index for shared-landmark near-dups → append as one
 * committed batch.
 *
 * Ledger discipline (verbatim [[ImageIngest.maintainImages]]'s): the
 * batch is the silver FILES not yet folded into the index, judged
 * against a durable `folded/v=<n>` record ([[graft.io.FoldedFiles]])
 * — O(drain), never an O(silver) payload scan; the folded record
 * commits LAST so a crash anywhere re-scans the same files next
 * drain. Within the batch, the fingerprint index doubles as the
 * processed-audio ledger: fresh payloads anti-join against stored
 * ids, healing the crash window between the index append and the
 * folded commit without double-decoding. The batch commits
 * marker-last under a deterministic id-derived tag, so a replayed
 * batch overwrites its own orphan. Drains serialize under the index
 * claim ([[Commits.withClaim]]).
 *
 * Scale shape: decode cost ∝ the drain's payload bytes (landmarks are
 * 3 small ints per frame — the payload never leaves the projection);
 * the probe is [[AudioDedup.sharedFingerprintProbe]] — batch
 * landmarks against the store, never store×store; the store accretes
 * (media_id, t, fp) rows only (fp-cluster it at cluster scale so the
 * probe is a pruned read). Returns this drain's verified pairs
 * (id_a, id_b, n_shared) — batch×corpus and batch-internal.
 */
object AudioIngest {

  private val fpSchema = StructType(Seq(
    StructField("media_id", StringType, nullable = true),
    StructField("t", LongType, nullable = false),
    StructField("fp", LongType, nullable = false)))

  /** Write-once geometry record for the standing store (claim held by
    * the caller). Later drains fail loudly on drift instead of
    * silently probing nothing against unmatchable landmarks. */
  private def pinGeometry(
      spark: SparkSession, indexDir: String,
      frameLen: Int, bins: Int, fanout: Int): Unit = {
    val p = new Path(indexDir, "_graft_geometry.json")
    val fs = Commits.fsOf(spark, p)
    val want = s"""{"frame_len": $frameLen, "bins": $bins, "fanout": $fanout}"""
    if (!fs.exists(p)) Commits.writeText(fs, p, want, overwrite = false)
    else {
      val got = Commits.readText(fs, p)
      require(got == want,
        s"audio-ingest geometry drift at $indexDir: store pinned $got, " +
          s"this drain passed $want — a drifted drain would probe " +
          "nothing and poison the store; use the pinned parameters")
    }
  }

  /** The standing fingerprint index (media_id, t, fp) — committed
    * batches only; orphans of crashed appends stay invisible. */
  def readFingerprints(spark: SparkSession, indexDir: String): DataFrame = {
    val batches = Commits.committedBatches(spark, indexDir)
    if (batches.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fpSchema)
    else spark.read.schema(fpSchema).parquet(batches.map(_.toString): _*)
  }

  /**
   * Drain landed WARC archives and gate their audio through the
   * standing fingerprint index. Returns this drain's near-dup pairs;
   * an empty drain (or one with no decodable audio) returns an empty
   * frame and commits nothing.
   */
  def maintainAudio(
      spark: SparkSession,
      landingDir: String,
      silverDir: String,
      warcLedgerDir: String,
      indexDir: String,
      minShared: Long = 8L,
      bins: Int = 16,
      frameLen: Int = 32,
      fanout: Int = 3,
      maxDocsPerFp: Long = 0L): DataFrame = Commits.withClaim(spark, indexDir) {
    // geometry pinning (the AudioIndex `_graft_index.json` contract —
    // the fingerprint parameters are the standing store's IDENTITY): a
    // drain hashed with drifted parameters would silently probe
    // nothing AND poison the store with unmatchable landmarks. The
    // first drain writes the geometry; every later drain must match.
    pinGeometry(spark, indexDir, frameLen, bins, fanout)
    WarcIngest.drainWarc(spark, landingDir, silverDir, warcLedgerDir)
    val silverPath = new Path(silverDir)
    val sfs = silverPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id_a", StringType, nullable = true),
        StructField("id_b", StringType, nullable = true),
        StructField("n_shared", LongType, nullable = false))))
    if (!sfs.exists(silverPath)) empty
    else {
      val (fresh, commitFolded) =
        graft.io.FoldedFiles.fresh(spark, silverDir, s"$indexDir/folded")
      if (fresh.isEmpty) empty
      else {
        val audio = spark.read.parquet(fresh: _*)
          .filter(col("content_type").startsWith("audio/"))
          .select(col("record_id").as("media_id"), col("payload"))
        val standing = readFingerprints(spark, indexDir).localCheckpoint()
        val standingIds = standing.select("media_id").distinct()
        // index-as-ledger backstop: a crash between the index append
        // and the folded commit replays these files — the anti-join
        // keeps the replay from double-decoding/double-appending, and
        // the stored PAIR REPORT of any touched batch re-surfaces
        // (the crashed drain computed its pairs but never returned
        // them to a caller — [[PairReports]])
        val healed = PairReports.healed(spark, indexDir,
          Commits.committedBatches(spark, indexDir), fresh,
          audio.select("media_id").distinct(), empty.schema)
        val delta = audio.join(standingIds, Seq("media_id"), "left_anti")
        val fps = AudioDedup.fingerprintsStr(
            delta, "media_id", "payload", frameLen, bins, fanout)
          .localCheckpoint() // one decode: feeds the probe AND the append
        if (fps.isEmpty) { commitFolded(); healed }
        else {
          val pairs = AudioDedup.sharedFingerprintProbe(
              fps, standing, "media_id", minShared, maxDocsPerFp)
            .localCheckpoint() // judged against the PRE-append store
          // deterministic tag: a replayed batch overwrites its own orphan
          val tag = Commits.batchTag(fps.select("media_id").distinct(), "media_id")
          val dir = new Path(s"$indexDir/batch=$tag")
          fps.write.mode("overwrite").parquet(dir.toString)
          // pair report + source-file list BEFORE the marker: a
          // marker-committed batch is always re-readable on replay
          // (the meta-last convention)
          PairReports.persist(pairs, indexDir, tag, fresh)
          Commits.commitBatch(Commits.fsOf(spark, dir), dir) // index commit point
          commitFolded() // folded record LAST: crash before re-scans,
                         // the anti-join above heals the replay
          pairs.unionAll(healed)
        }
      }
    }
  }
}
