package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Spans}

/**
 * Durable exact-substring window-hash index — the parquet-backed store
 * behind incremental duplicate-span detection
 * ([[Spans.incrementalDuplicateSpans]]). Companion to
 * [[SignatureIndex]] (MinHash, doc granularity); this one works at
 * TOKEN-WINDOW granularity, so daily ingest can find verbatim
 * boilerplate between a new batch and a 100 TB corpus without
 * re-hashing the corpus ([[Spans.duplicateSpans]] rebuilds every
 * window of every doc per run — exactly the cost an index exists to
 * avoid).
 *
 * Store layout — [[Commits]] COMMITTED BATCHES:
 * {{{
 *   _graft_index.json                  index identity (id_col, n, kind)
 *   store/counts/batch=<tag>/          (hh, cnt) per distinct window hash
 *   store/docs/batch=<tag>/            (id) + commit marker  ← commit point
 * }}}
 * Every write lands under a per-batch partition pair whose tag is the
 * [[Commits.batchTag]] of the batch's doc ids, and a batch is LIVE
 * only once its docs side is committed (marker written last). That
 * pair of properties makes maintenance effectively exactly-once
 * without a transactional store:
 *
 *  - a crash between the counts write and the docs commit leaves an
 *    INVISIBLE orphan — readers (probe, [[counts]], [[processedIds]])
 *    filter to live tags, so nothing is double-counted and the
 *    batch's docs are still "unprocessed" (they re-enter the next
 *    delta);
 *  - a replay of the same delta recomputes the same tag and
 *    OVERWRITES the orphan in place (mode=overwrite per partition),
 *    then commits — no accretion, identical final state;
 *  - a replay with a GROWN delta (new files landed before the retry)
 *    writes a fresh tag covering the superset; the old orphan stays
 *    invisible until [[compact]] rewrites the store from live
 *    partitions only, dropping orphan garbage.
 *
 * The docs partition doubles as the PROCESSED-DOCS LEDGER (the
 * [[SignatureIndex]] "the index IS the ledger" invariant, recovered
 * here by committing ids and counts as one visibility unit):
 * [[processedIds]] drives the anti-join delta of
 * [[graft.streaming.CorpusIngest.maintainSpans]]. The store is still
 * ∝ distinct n-grams + doc IDS (never per-window rows, never text).
 *
 * Same single-writer / many-reader contract and crash-safe compaction
 * ([[Commits.swap]] of the ONE `store/` root: readers resolve the
 * crash window read-only, the next writer heals it) as the signature
 * store: every writer (append/compact/delete/ingestBatch) runs under
 * the store's drain claim ([[Commits.withClaim]]).
 */
object WindowIndex {

  /** Index identity, fixed at build time. */
  final case class Meta(idCol: String, n: Int, kind: Dedup.HashKind)

  private def kindName(k: Dedup.HashKind): String = k match {
    case Dedup.Md5  => "md5"
    case Dedup.Xx64 => "xx64"
  }

  private def kindOf(name: String): Dedup.HashKind = name match {
    case "md5"  => Dedup.Md5
    case "xx64" => Dedup.Xx64
    case other  => sys.error(s"unknown hash kind '$other' in window index meta")
  }

  private def storePath(dir: String) = s"$dir/store"
  private def storeDirs(dir: String) = Commits.SwapDirs(dir, "store", "compacting")
  private val baseTag = "__base__"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** [[Commits.heal]] a crashed [[compact]]/[[delete]] swap. MUTATING
    * — writers only, before their first read of the store (readers
    * resolve); no-op in the steady state. */
  private[graft] def ensureLive(spark: SparkSession, dir: String): Unit =
    Commits.heal(fs(spark, new Path(dir)), storeDirs(dir))

  /** The live rows of the store's `part` (`counts` or `docs`): the
    * [[Commits.resolve]]d store (read-only — a crash window reads
    * `store_prev`), filtered to the tags of the docs-side committed
    * batches, the only partitions any reader sees. */
  private def livePart(spark: SparkSession, dir: String, part: String): DataFrame = {
    val store = Commits.resolve(fs(spark, new Path(dir)), storeDirs(dir))
    val tags = Commits.committedBatches(spark, s"$store/docs").map(Commits.tagOf)
    val df = spark.read.parquet(s"$store/$part")
    if (tags.isEmpty) df.limit(0) else df.filter(col("batch").isin(tags: _*))
  }

  /** Write one committed batch under `store`: counts partition, then
    * the docs/ledger partition, then its commit marker. */
  private def writeBatch(
      counts: DataFrame, ids: DataFrame, store: String, tag: String): Unit = {
    counts.write.mode("overwrite").parquet(s"$store/counts/batch=$tag")
    val docsBatch = new Path(s"$store/docs/batch=$tag")
    ids.write.mode("overwrite").parquet(docsBatch.toString)
    Commits.commitBatch(fs(ids.sparkSession, docsBatch), docsBatch)
  }

  /** [[writeBatch]] of `newDocs`' window-hash counts and ids. */
  private def writeDocs(
      newDocs: DataFrame, textCol: String, dir: String, tag: String,
      m: Meta): Unit =
    writeBatch(
      Spans.windowHashCounts(newDocs, textCol, m.idCol, m.n, m.kind)
        .sortWithinPartitions("hh"), // dictionary/RLE-friendly runs
      newDocs.select(m.idCol), storePath(dir), tag)

  /** Build the index from scratch as the `__base__` batch, then commit
    * the meta file. Overwrites any previous index at `dir`. */
  def build(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      dir: String,
      n: Int,
      kind: Dedup.HashKind = Dedup.Md5): Unit = {
    require(idCol.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"idCol '$idCol' must be a plain identifier (stored in index meta)")
    val spark = docs.sparkSession
    val f = fs(spark, new Path(dir))
    val store = storeDirs(dir)
    Seq(store.live, store.prev, store.stage).foreach(f.delete(_, true))
    writeDocs(docs, textCol, dir, baseTag, Meta(idCol, n, kind))
    Commits.writeMeta(spark, dir, "id_col" -> idCol, "n" -> n,
      "kind" -> kindName(kind))
  }

  /** Read the index identity. Fails if `dir` holds no committed index. */
  def meta(spark: SparkSession, dir: String): Meta = {
    val j = Commits.readMeta(spark, dir, "window")
    Meta(j.str("id_col"), j.num("n"), kindOf(j.str("kind")))
  }

  /** The LIVE per-hash counts (hh, cnt) — possibly several rows per
    * hash (one per committed batch) until the next [[compact]].
    * Orphans of crashed writes are filtered out by tag. */
  def counts(spark: SparkSession, dir: String): DataFrame =
    livePart(spark, dir, "counts").select("hh", "cnt")

  /** The processed-docs ledger: ids of every doc whose counts are live
    * in the index — the anti-join source for delta detection (the
    * "index IS the ledger" invariant at window granularity). */
  def processedIds(spark: SparkSession, dir: String): DataFrame = {
    val m = meta(spark, dir)
    livePart(spark, dir, "docs").select(m.idCol)
  }

  /** Duplicated spans of `newDocs`, judged against batch ∪ indexed
    * corpus. Window width and hash kind come from the stored meta — a
    * probe CANNOT drift from the index's parameters. */
  def probe(newDocs: DataFrame, textCol: String, dir: String): DataFrame = {
    val m = meta(newDocs.sparkSession, dir)
    Spans.incrementalDuplicateSpans(
      newDocs, counts(newDocs.sparkSession, dir), textCol, m.idCol, m.n, m.kind)
  }

  /** Per-doc n-gram novelty of `newDocs` against the indexed corpus
    * ([[Spans.noveltyScores]]) — the data-selection read of the same
    * store the span probe uses. Window width and hash kind come from
    * the stored meta. */
  def noveltyProbe(newDocs: DataFrame, textCol: String, dir: String): DataFrame = {
    val m = meta(newDocs.sparkSession, dir)
    Spans.noveltyScores(
      newDocs, counts(newDocs.sparkSession, dir), textCol, m.idCol, m.n, m.kind)
  }

  /** Incrementally scrub `newDocs`' duplicated spans against the
    * indexed corpus ([[Spans.incrementalScrub]] — arrival-order
    * keep-first: corpus occurrences are always canonical). Parameters
    * come from the stored meta. */
  def scrubProbe(newDocs: DataFrame, textCol: String, dir: String): DataFrame = {
    val m = meta(newDocs.sparkSession, dir)
    require(m.kind == Dedup.Md5,
      "scrubbing requires the 128-bit Md5 index (xx64 is detection-grade)")
    Spans.incrementalScrub(
      newDocs, counts(newDocs.sparkSession, dir), textCol, m.idCol, m.n, m.kind)
  }

  /** Corpus n-gram statistics FROM THE INDEX ALONE — distinct grams,
    * total windows, duplicated grams, ledger doc count — the
    * metadata-only read: a 100 TB corpus answers these without a
    * corpus scan because the index already aggregated them (cost ∝
    * index size). Equals the corpus-derived numbers by construction
    * (oracle-checked). */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val c = counts(spark, dir).groupBy(col("hh")).agg(sum("cnt").as("cnt"))
    c.agg(
      count(lit(1)).as("n_distinct_grams"),
      sum(col("cnt")).as("n_windows"),
      sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
      .crossJoin(processedIds(spark, dir).agg(count(lit(1)).as("n_docs")))
  }

  /** Append `newDocs` as one committed batch so future probes see
    * them. Idempotent per doc set (deterministic tag + overwrite).
    * `newDocs` is a materialized, drain-sized batch: its tag is a
    * [[Commits.batchTag]], one job that reads it in one task. */
  def append(newDocs: DataFrame, textCol: String, dir: String): Unit = {
    val spark = newDocs.sparkSession
    Commits.withClaim(spark, dir) {
      ensureLive(spark, dir)
      val m = meta(spark, dir)
      writeDocs(newDocs, textCol, dir, Commits.batchTag(newDocs, m.idCol), m)
    }
  }

  /** Re-aggregate the LIVE partitions to one (hh, cnt) row per hash in
    * `numFiles` hash-range-clustered files (plus the compacted ledger),
    * swapped in crash-safely. Orphan partitions of crashed appends are NOT
    * carried over — compaction is also the garbage collector. */
  def compact(spark: SparkSession, dir: String, numFiles: Int): Unit =
    Commits.withClaim(spark, dir) {
      ensureLive(spark, dir)
      rewriteStore(spark, dir,
        counts(spark, dir).groupBy(col("hh")).agg(sum(col("cnt")).as("cnt")),
        processedIds(spark, dir), numFiles)
    }

  /** Rewrite the whole store as ONE `__base__` batch holding
    * (`newCounts`, `newIds`) via [[Commits.swap]] — the shared tail of
    * [[compact]] and [[delete]] (store healed by the caller). */
  private def rewriteStore(
      spark: SparkSession, dir: String,
      newCounts: DataFrame, newIds: DataFrame, numFiles: Int): Unit = {
    Commits.swap(fs(spark, new Path(dir)), storeDirs(dir), "rewrite") { stage =>
      writeBatch(
        newCounts.repartitionByRange(numFiles, col("hh")).sortWithinPartitions("hh"),
        newIds, stage.toString, baseTag)
    }
  }

  /**
   * Remove docs from the index — the takedown / right-to-be-forgotten
   * maintenance pass at window granularity. The store holds per-hash
   * COUNTS (∝ distinct n-grams, never per-doc window rows — that
   * compression is the whole point of the design), so forgetting a doc
   * means SUBTRACTING its window-hash counts: `deletedDocs` must carry
   * the doc TEXT as indexed (a takedown request ships the content;
   * storing per-doc hashes in the index would reinstate the per-window
   * volume the counts layout exists to avoid). Cost: hash ONLY the
   * deleted docs + one store rewrite — the corpus is never re-read.
   *
   * Every deleted id must be in the ledger and its text unchanged
   * since indexing, else the subtraction would corrupt counts — the
   * ledger side is validated here (fails loudly), the text side is the
   * caller's contract (the same immutable-corpus assumption every
   * batch append already relies on). Hashes a window shares with OTHER
   * live docs keep their residual count, so a span duplicated between
   * a deleted doc and a survivor correctly stops being "duplicated"
   * only if the survivor was its sole other occurrence — equivalent to
   * a rebuild on corpus-minus-deleted (spec-pinned). Runs under the
   * store's claim, serialized with appends and compactions.
   */
  def delete(deletedDocs: DataFrame, textCol: String, dir: String): Unit = {
    val spark = deletedDocs.sparkSession
    Commits.withClaim(spark, dir) {
    ensureLive(spark, dir)
    val m = meta(spark, dir)
    // A duplicated id in the takedown request would subtract that doc's
    // window counts twice, silently corrupting residuals for hashes it
    // shares with surviving docs — dedupe before hashing.
    val deduped = deletedDocs.dropDuplicates(m.idCol)
    val delIds = deduped.select(m.idCol)
    val missing = delIds.join(processedIds(spark, dir), Seq(m.idCol), "left_anti")
      .limit(1).count()
    require(missing == 0,
      s"delete: some ids are not in the index ledger at $dir — " +
        "subtracting an unindexed doc would corrupt the counts")
    val del = Spans.windowHashCounts(deduped, textCol, m.idCol, m.n, m.kind)
      .withColumnRenamed("cnt", "del_cnt")
    val remaining = counts(spark, dir)
      .groupBy(col("hh")).agg(sum(col("cnt")).as("cnt"))
      .join(del, Seq("hh"), "left_outer")
      .select(col("hh"),
        (col("cnt") - coalesce(col("del_cnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
    val counted = new Path(storePath(dir), "counts")
    val liveCountFiles = math.max(1, Commits.parquetFiles(fs(spark, counted), counted))
    rewriteStore(spark, dir, remaining,
      processedIds(spark, dir).join(broadcast(delIds), Seq(m.idCol), "left_anti"),
      liveCountFiles)
  } }

  /** [[compact]] only when committed batches have fragmented the store
    * past `2 × targetFiles` counts files ([[Commits.fragmented]]) —
    * the idempotent scheduled-maintenance form. Returns true when a
    * compaction ran. */
  def compactIfFragmented(spark: SparkSession, dir: String, targetFiles: Int): Boolean = {
    val fragmented = Commits.fragmented(
      spark, dir, "window", storeDirs(dir), targetFiles)(new Path(_, "counts"))
    if (fragmented) compact(spark, dir, targetFiles)
    fragmented
  }

  /** The daily-batch operation: probe the CURRENT index for the new
    * batch's duplicated spans, then append the batch as one committed
    * partition pair. The spans are materialized before the append (the
    * result reflects the pre-append index), and the whole call is
    * REPLAY-SAFE: a crashed earlier attempt left only an invisible
    * orphan, which the retry overwrites. */
  def ingestBatch(newDocs: DataFrame, textCol: String, dir: String): DataFrame =
    Commits.withClaim(newDocs.sparkSession, dir) {
      val spans = probe(newDocs, textCol, dir).localCheckpoint()
      append(newDocs, textCol, dir)
      spans
    }
}
