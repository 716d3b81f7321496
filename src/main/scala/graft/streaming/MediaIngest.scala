package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{Commits, FoldedFiles}

/**
 * The ONE drain gate of the media near-dup maintainers
 * ([[ImageIngest]] perceptual hashes, [[VideoIngest]] aligned frames,
 * [[AudioIngest]] landmarks): fetchers land `.warc.gz` archives, each
 * drain advances only the new archives into silver
 * ([[WarcIngest.drainWarc]] — its file ledger + record_id anti-join
 * give exactly-once silver), and the drain's not-yet-indexed payloads
 * of one content type hash → probe the standing store for near-dups →
 * append as one committed batch. The reference instead re-captures
 * the whole dataset per run (`breweries_fetch_bronze_notebook.py:71-107`).
 * A modality supplies only its [[Modality]] (content-type prefix,
 * store and pair schemas, hash kernel, probe); the drain below is
 * shared, so a ledger fix lands in every maintainer at once.
 *
 * Ledger discipline ([[SearchIngest.maintainIndex]]'s): the drain's
 * batch is the silver FILES not yet folded into the store, judged
 * against a durable `folded/v=<n>` record ([[FoldedFiles]]) — so each
 * drain reads only new files (O(drain), never an O(silver) payload
 * scan), and the folded record commits LAST so a crash anywhere
 * re-scans the same files next drain. Within the batch the store
 * doubles as the processed-media ledger: fresh payloads anti-join
 * against stored ids, healing the crash window between the store
 * append and the folded commit without double-hashing, and the stored
 * pair report of a batch built from still-fresh files re-surfaces
 * ([[PairReports]] — the crashed drain computed its pairs but never
 * returned them). The batch commits marker-last under a tag derived
 * from its DISTINCT ids ([[Commits.batchShape]], whose count also
 * tells an empty batch), so a replayed batch overwrites its own orphan
 * and an id carried twice cannot cancel out of the tag. The caller holds the store claim
 * ([[Commits.withClaim]]); concurrent drains fail visibly on the claim
 * or the folded-version CAS.
 */
private[streaming] object MediaIngest {

  /**
   * What a modality plugs into the gate.
   *
   * @param contentType silver `content_type` prefix the gate keeps
   * @param storeSchema rows of the standing store, `media_id` first
   * @param pairSchema  rows of a drain's pair report (id_a, id_b, …)
   * @param hash        (media_id, payload) rows → store rows; drops
   *                    undecodable payloads
   * @param probe       (batch store rows, standing store rows) → the
   *                    batch×corpus and batch-internal pairs
   */
  final case class Modality(
      contentType: String,
      storeSchema: StructType,
      pairSchema: StructType,
      hash: DataFrame => DataFrame,
      probe: (DataFrame, DataFrame) => DataFrame)

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def readBatches(
      spark: SparkSession, batches: Seq[Path], schema: StructType): DataFrame =
    if (batches.isEmpty) emptyOf(spark, schema)
    else spark.read.schema(schema).parquet(batches.map(_.toString): _*)

  /** The standing store — committed batches only; orphans of crashed
    * appends stay invisible. */
  def read(spark: SparkSession, indexDir: String, storeSchema: StructType): DataFrame =
    readBatches(spark, Commits.committedBatches(spark, indexDir), storeSchema)

  /** One drain (claim held by the caller). Returns this drain's pairs;
    * a drain with no new files, or none of this modality that decode,
    * returns an empty frame and commits no batch. */
  def drain(
      spark: SparkSession,
      landingDir: String,
      silverDir: String,
      warcLedgerDir: String,
      indexDir: String,
      m: Modality): DataFrame = {
    // advance landing → silver; the batch below deliberately
    // re-derives from silver rather than trusting this return
    WarcIngest.drainWarc(spark, landingDir, silverDir, warcLedgerDir)
    // a missing silver dir has no fresh files
    val (fresh, commitFolded) = FoldedFiles.fresh(spark, silverDir, s"$indexDir/folded")
    if (fresh.isEmpty) return emptyOf(spark, m.pairSchema)
    val media = spark.read.parquet(fresh: _*)
      .filter(col("content_type").startsWith(m.contentType))
      .select(col("record_id").as("media_id"), col("payload"))
    val batches = Commits.committedBatches(spark, indexDir)
    val standing = readBatches(spark, batches, m.storeSchema).localCheckpoint()
    val healed = PairReports.healed(spark, indexDir, batches, fresh,
      media.select("media_id").distinct(), m.pairSchema)
    val delta = media.join(
      standing.select("media_id").distinct(), Seq("media_id"), "left_anti")
    val hashed = m.hash(delta)
      .localCheckpoint() // one decode: feeds the probe AND the append
    // the tag's aggregate also counts the batch: no separate isEmpty job
    val shape = Commits.batchShape(hashed.select("media_id").distinct(), "media_id", lit(false))
    if (shape.count == 0) { commitFolded(); healed }
    else {
      val pairs = m.probe(hashed, standing)
        .localCheckpoint() // judged against the PRE-append store
      val dir = new Path(s"$indexDir/batch=${shape.tag}")
      hashed.write.mode("overwrite").parquet(dir.toString)
      // pair report + source-file list BEFORE the marker: a
      // marker-committed batch is always re-readable on replay
      PairReports.persist(pairs, indexDir, shape.tag, fresh)
      Commits.commitBatch(Commits.fsOf(spark, dir), dir) // store commit point
      commitFolded() // folded record LAST: crash before re-scans,
                     // the anti-join above heals the replay
      pairs.unionAll(healed)
    }
  }
}
