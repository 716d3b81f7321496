package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.{SignatureIndex, WindowIndex}

/**
 * End-to-end incremental corpus maintenance: streaming document
 * ingestion ([[IngestStream]], exactly-once file stream) feeding the
 * durable near-dup index ([[SignatureIndex]]). One call per scheduled
 * drain does what the reference's whole daily DAG does
 * (`/root/reference/dags/breweries_dag.py` — re-read everything,
 * recompute everything), at cost ∝ THE NEW FILES:
 *
 *  1. drain newly landed JSONL into the silver parquet layer
 *     (checkpointed file stream → only unseen files are read);
 *  2. delta = silver docs not yet in the signature index. The index
 *     IS the ledger of processed docs — no separate bookkeeping table
 *     to drift out of sync. The anti-join touches ids only (never
 *     text), so the ledger check is a narrow id⋈id join;
 *  3. probe the CURRENT index for the delta's near-dups (batch×corpus
 *     via a broadcast of the delta's band buckets + batch-internal
 *     pairs), then append the delta's signatures.
 *
 * Crash safety, step by step: a crash in (1) replays unfinished files
 * (file-sink commit log hides partial output); a crash between (1)
 * and (3) leaves docs in silver but not in the index, and the NEXT
 * drain's anti-join picks them up again — the pipeline heals itself
 * forward. The one at-least-once seam is the pair REPORT (a re-run
 * after a crash in (3) re-emits the same pairs); dedup decisions keyed
 * on (id_a, id_b) make the report idempotent downstream.
 *
 * First call bootstraps: if `indexDir` holds no index, an empty one is
 * committed with the given hash parameters, so the initial corpus load
 * is just a big first batch (its internal near-dups are still found,
 * via the batch self-join).
 */
object CorpusIngest {

  /** Drain pending files and maintain the index; returns this drain's
    * verified near-dup pairs (id_a, id_b, jaccard) — new×corpus and
    * new×new, exact Jaccard ≥ `threshold`. */
  def maintain(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      silverDir: String,
      checkpointDir: String,
      indexDir: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleWords: Int = 3,
      kind: graft.ops.Dedup.HashKind = graft.ops.Dedup.Md5,
      compactTo: Option[Int] = None): DataFrame =
    graft.io.Commits.withClaim(spark, indexDir) {
    val silver = IngestStream.drainToSilver(spark, landingDir, schema,
      Seq(idCol, textCol), silverDir, checkpointDir)

    if (!graft.io.Commits.hasMeta(spark, indexDir))
      SignatureIndex.build(
        silver.limit(0), textCol, idCol, indexDir,
        numHashes, bands, shingleWords, kind)

    // heal BEFORE the ledger read: a delta planned against a resolved
    // `sigs_prev` would lose its files to the append's own heal
    SignatureIndex.ensureLive(spark, indexDir)
    val indexedIds = SignatureIndex.signatures(spark, indexDir)
      .select(idCol)
    val delta = silver.join(indexedIds, Seq(idCol), "left_anti")
    val pairs = SignatureIndex.ingestBatch(silver, delta, textCol, indexDir, threshold)
    // per-batch appends accrete small files; an opted-in target keeps
    // the store bounded (no-op listing in the steady state)
    compactTo.foreach(SignatureIndex.compactIfFragmented(spark, indexDir, _))
    pairs
  }

  /**
   * [[maintain]]'s exact-substring twin: drain newly landed JSONL,
   * then find the delta's duplicated token spans (judged against delta
   * ∪ indexed corpus — [[graft.io.WindowIndex.probe]]) and commit the
   * delta into the window-hash index. One call per scheduled drain
   * keeps verbatim-boilerplate detection current at cost ∝ the new
   * files: only the delta is hashed, and the standing index is pruned
   * map-side (never reshuffled).
   *
   * Delta detection anti-joins the silver ids against the index's own
   * processed-docs ledger ([[graft.io.WindowIndex.processedIds]] — ids
   * only, never text). Crash safety is STRONGER than [[maintain]]'s
   * pair report: the window store commits each batch's counts and ids
   * as one visibility unit under a deterministic tag, so a crashed
   * drain leaves an invisible orphan, the docs re-enter the next
   * delta, and a replay overwrites in place — the span report AND the
   * store are effectively exactly-once.
   *
   * Returns the drain's duplicated spans (idCol, span_start, span_end,
   * n_windows) — cross-corpus and delta-internal.
   */
  def maintainSpans(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      silverDir: String,
      checkpointDir: String,
      indexDir: String,
      n: Int = 3,
      kind: graft.ops.Dedup.HashKind = graft.ops.Dedup.Md5,
      compactTo: Option[Int] = None): DataFrame =
    graft.io.Commits.withClaim(spark, indexDir) {
    val delta = windowDelta(spark, landingDir, schema, idCol, textCol,
      silverDir, checkpointDir, indexDir, n, kind)
    val spans = WindowIndex.ingestBatch(delta, textCol, indexDir)
    compactTo.foreach(WindowIndex.compactIfFragmented(spark, indexDir, _))
    spans
  }

  /**
   * [[maintainSpans]]' data-SELECTION variant: drain, score the
   * delta's n-gram novelty against the standing index
   * ([[graft.io.WindowIndex.noveltyProbe]] — boilerplate re-crawls ≈ 0,
   * new text ≈ 1), THEN commit the delta. The selection policy reads
   * the returned (idCol, n_windows, n_novel, novelty) rows to decide
   * what enters training; the index advances regardless, so tomorrow's
   * drain is judged against today's corpus either way. Same
   * exactly-once store semantics as [[maintainSpans]].
   */
  def maintainNovelty(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      silverDir: String,
      checkpointDir: String,
      indexDir: String,
      n: Int = 3,
      kind: graft.ops.Dedup.HashKind = graft.ops.Dedup.Md5,
      compactTo: Option[Int] = None): DataFrame =
    graft.io.Commits.withClaim(spark, indexDir) {
    val delta = windowDelta(spark, landingDir, schema, idCol, textCol,
      silverDir, checkpointDir, indexDir, n, kind)
    // materialize BEFORE the append: novelty is judged against the
    // pre-drain corpus (the probe-then-append order of ingestBatch)
    val novelty = WindowIndex.noveltyProbe(delta, textCol, indexDir)
      .localCheckpoint()
    WindowIndex.append(delta, textCol, indexDir)
    compactTo.foreach(WindowIndex.compactIfFragmented(spark, indexDir, _))
    novelty
  }

  /**
   * [[maintain]]'s VECTOR twin: drain newly landed embedding JSONL,
   * screen the delta against the standing [[graft.io.VectorIndex]]
   * (threshold probe + batch keep-first —
   * [[graft.ops.Similarity.incrementalSemanticDedup]], judged against
   * the PRE-drain corpus), then append the delta as one committed
   * batch. The stored ids are the processed-vectors ledger
   * ([[graft.io.VectorIndex.storedIds]] — ids only); a crashed drain's
   * vectors re-enter the next delta and the idempotent append
   * overwrites its own orphan, the [[maintainSpans]] exactly-once
   * story in vector space.
   *
   * Bootstrap: [[graft.io.VectorIndex.build]] needs a non-empty corpus
   * to train its quantizer, so the FIRST non-empty wave trains and
   * becomes the corpus; its decisions are batch-internal only (there
   * is no prior corpus to be a duplicate of — probing the just-built
   * index would match every vector against itself).
   *
   * Returns this drain's decisions: (idCol, reason, keep) with reason
   * ∈ {'corpus', 'batch', NULL}.
   */
  def maintainVectors(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      idCol: String,
      vecCol: String,
      silverDir: String,
      checkpointDir: String,
      indexDir: String,
      threshold: Double,
      nprobe: Int = 2,
      nlist: Int = 8,
      iters: Int = 2): DataFrame =
    graft.io.Commits.withClaim(spark, indexDir) {
    import org.apache.spark.sql.functions._
    val silver = IngestStream.drainToSilver(spark, landingDir, schema,
      Seq(idCol, vecCol), silverDir, checkpointDir)
    if (!graft.io.Commits.hasMeta(spark, indexDir)) {
      // bootstrap: no prior corpus, so no corpus hits
      val d = graft.ops.Similarity.dedupDecisions(
        silver, idCol, vecCol, threshold, silver.select(col(idCol)).limit(0))
      if (silver.isEmpty) d
      else {
        val ck = d.localCheckpoint()
        graft.io.VectorIndex.build(silver, idCol, vecCol, indexDir, nlist, iters)
        ck
      }
    } else {
      graft.io.VectorIndex.ensureLive(spark, indexDir) // before the ledger read
      // materialized once: the dedup probe and the append (its one
      // shape aggregate, then the write) both read it, and each re-run
      // would rescan silver and every live list file
      val delta = silver.join(
        graft.io.VectorIndex.storedIds(spark, indexDir), Seq(idCol), "left_anti")
        .localCheckpoint()
      // decide BEFORE appending: dup status is judged against the
      // pre-drain corpus, and the report must not see the delta itself
      val d = graft.ops.Similarity.incrementalSemanticDedup(
          delta, idCol, vecCol, indexDir, threshold, nprobe)
        .localCheckpoint()
      // an empty delta writes nothing: append's shape aggregate is also
      // the emptiness test
      graft.io.VectorIndex.append(delta.select(col(idCol), col(vecCol)), indexDir)
      d
    }
  }

  /** Shared drain preamble of the window-index maintainers: drain
    * landed files into silver, bootstrap an empty index on first call,
    * heal a crashed rewrite, anti-join the ledger → this drain's
    * unprocessed delta. */
  private def windowDelta(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      silverDir: String,
      checkpointDir: String,
      indexDir: String,
      n: Int,
      kind: graft.ops.Dedup.HashKind): DataFrame = {
    val silver = IngestStream.drainToSilver(spark, landingDir, schema,
      Seq(idCol, textCol), silverDir, checkpointDir)

    if (!graft.io.Commits.hasMeta(spark, indexDir))
      WindowIndex.build(silver.limit(0), textCol, idCol, indexDir, n, kind)

    WindowIndex.ensureLive(spark, indexDir) // before the ledger read
    // materialized once: the probe and the append (tag, then write)
    // all read it, and each re-run would rescan silver and the ledger
    silver.join(
      WindowIndex.processedIds(spark, indexDir), Seq(idCol), "left_anti")
      .localCheckpoint()
  }

  /**
   * Streaming SCD2 dimension maintenance — the versioned-metadata twin
   * of the three index maintainers: drain newly landed JSONL updates
   * (key, attrs…, effective ts), merge ONLY the not-yet-applied delta
   * into the stored dimension ([[graft.ops.Scd.mergeScd2]] — batch-∝:
   * closed history passes through, untouched keys never enter the
   * window), and publish the new state as the next `_SUCCESS`-gated
   * run directory ([[graft.io.Layers.latestSuccessfulRun]] resolves
   * readers to the newest COMPLETE snapshot, never a half-written one).
   *
   * Why a ledger: replaying an already-applied update is NOT always a
   * no-op for SCD2 — an old update re-entering after later versions
   * landed would resurrect its version row. The applied-(key, ts)
   * ledger (which also records SUPPRESSED no-ops — they must not
   * re-enter either) makes every drain exactly-once: delta = silver
   * anti-join ledger, so a crash between silver commit and state
   * publish self-heals on the next drain, and a crash mid-publish
   * leaves only an invisible staging dir (the publish is a
   * [[graft.io.Commits.publishAtomic]] stage+rename, which also makes
   * a CONCURRENT drain fail visibly instead of silently dropping this
   * drain's delta from the published lineage).
   *
   * Returns the published state (the pre-drain state on a no-op
   * drain). State + ledger are dimension-sized — versioned snapshots
   * are cheap where the corpus would not be.
   */
  def maintainDimension(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      keyCol: String,
      tsCol: String,
      attrCols: Seq[String],
      silverDir: String,
      checkpointDir: String,
      stateDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val silver = IngestStream.drainToSilver(spark, landingDir, schema,
      Seq(keyCol, tsCol), silverDir, checkpointDir)

    val readRun = graft.io.Layers.latestSuccessfulRun(spark, stateDir)
    val (state, ledger) = readRun match {
      case Some(run) =>
        (spark.read.parquet(s"$run/state"), spark.read.parquet(s"$run/ledger"))
      case None =>
        (silver.limit(0)
          .select((Seq(col(keyCol)) ++ attrCols.map(col) :+
            col(tsCol).as("valid_from")): _*)
          .withColumn("valid_to", col("valid_from"))
          .withColumn("is_current", lit(true)),
          silver.limit(0).select(col(keyCol), col(tsCol)))
    }
    val delta = silver.join(ledger, Seq(keyCol, tsCol), "left_anti")
    if (delta.isEmpty) return state
    val merged = graft.ops.Scd
      .mergeScd2(state, delta, keyCol, tsCol, attrCols)
      .localCheckpoint()
    val newLedger = ledger
      .unionByName(delta.select(col(keyCol), col(tsCol)))
      .localCheckpoint()
    // CAS publish: the target run is (run READ from)+1, staged into a
    // hidden tmp and renamed (one atomic visibility unit — state,
    // ledger, marker all-or-nothing). A concurrent drain that read the
    // same base run targets the same slot and fails VISIBLY instead of
    // silently publishing a state that drops this drain's delta; a
    // crash leaves only an invisible tmp, and the retry self-heals.
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runDir = nextRunDir(stateDir, readRun)
    graft.io.Commits.publishAtomic(fs, new Path(runDir)) { tmp =>
      merged.write.mode("overwrite").parquet(s"$tmp/state")
      newLedger.write.mode("overwrite").parquet(s"$tmp/ledger")
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
    }
    merged
  }

  /** The CAS target slot of a run-dir publisher: the run AFTER the one
    * the caller read its base state from (`run_000001` on bootstrap). */
  private def nextRunDir(base: String, readRun: Option[String]): String = {
    val n = readRun
      .map(r => new Path(r).getName.stripPrefix("run_").toInt)
      .getOrElse(0)
    f"$base/run_${n + 1}%06d"
  }

  /**
   * Streaming CDC serving-table maintenance — the flat-state twin of
   * [[maintainDimension]]: drain landed I/U/D change files, apply the
   * not-yet-applied delta onto the stored current-state table
   * ([[graft.ops.Cdc.applyCdc]]), publish as the next `_SUCCESS`-gated
   * run dir.
   *
   * Why the ledger is a per-key HIGH-WATER ts (not the applied-(key,ts)
   * set the SCD2 maintainer keeps): a flat state has no timestamp
   * memory, so an OLD change landing after a newer one was applied —
   * replayed file or late upstream delivery — would silently overwrite
   * newer state (or resurrect a deleted key). Dropping every change at
   * or below its key's high-water makes drains exactly-once AND
   * order-safe; the ledger is key-sized, not log-sized.
   *
   * Returns the published state (the pre-drain state on a no-op drain).
   */
  def maintainServing(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      keyCol: String,
      tsCol: String,
      opCol: String,
      attrCols: Seq[String],
      silverDir: String,
      checkpointDir: String,
      stateDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // CDC reads RELAX the declared nullability: delete rows lawfully
    // carry null attributes, but a caller schema declaring attrs
    // non-null (the bare-type default of the `?` spec convention)
    // would make every codegen consumer skip the null check — an
    // enforced read never VALIDATES non-nullness, it only promises it
    // to the optimizer, and here the promise is structurally false.
    // (The file-stream side of the drain is nullable regardless:
    // `spark.sql.streaming.fileSource.schema.forceNullable`.)
    val silver = IngestStream.drainToSilver(spark, landingDir,
      StructType(schema.fields.map(_.copy(nullable = true))),
      Seq(keyCol, tsCol, opCol), silverDir, checkpointDir)

    val readRun = graft.io.Layers.latestSuccessfulRun(spark, stateDir)
    val (state, hw) = readRun match {
      case Some(run) =>
        (spark.read.parquet(s"$run/state"), spark.read.parquet(s"$run/ledger"))
      case None =>
        (silver.limit(0).select((keyCol +: attrCols).map(col): _*),
          silver.limit(0).select(col(keyCol), col(tsCol).as("hw_ts")))
    }
    // NO broadcast hint on the ledger: it is key-sized (grows with the
    // table, not the drain), so the join strategy is left to size
    // stats/AQE — broadcast while the key space is small, shuffle once
    // it is not. applyCdc below likewise size-guards its own
    // changed-key prune, so a first-drain/recovery delta (= the whole
    // log) degrades to shuffle joins instead of a driver-sized
    // broadcast.
    val delta = silver
      .join(hw, Seq(keyCol), "left")
      .filter(col("hw_ts").isNull || col(tsCol) > col("hw_ts"))
      .drop("hw_ts")
    if (delta.isEmpty) return state
    val applied = graft.ops.Cdc
      .applyCdc(state, delta, keyCol, tsCol, opCol, attrCols)
      .localCheckpoint()
    val newHw = hw
      .unionByName(delta.groupBy(col(keyCol)).agg(max(col(tsCol)).as("hw_ts")))
      .groupBy(col(keyCol)).agg(max(col("hw_ts")).as("hw_ts"))
      .localCheckpoint()
    // CAS publish — same protocol and rationale as maintainDimension's
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runDir = nextRunDir(stateDir, readRun)
    graft.io.Commits.publishAtomic(fs, new Path(runDir)) { tmp =>
      applied.write.mode("overwrite").parquet(s"$tmp/state")
      newHw.write.mode("overwrite").parquet(s"$tmp/ledger")
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
    }
    applied
  }

  /**
   * Streaming crawl-frontier maintenance: drain newly landed sitemap
   * snapshots (JSONL rows of `(host, xml)` — what a sitemap fetcher
   * writes per host per cycle), extract their `(loc, lastmod)` entries
   * with [[graft.functions.SitemapExtract]], and MERGE into the
   * durable frontier table `(url, host, lastmod)` that the planner
   * (q156's staleness fence) reads.
   *
   * The merge is a pure idempotent aggregation, not CDC: sitemap
   * `lastmod` is a W3C datetime string (lexicographic = chronological),
   * so per URL the frontier keeps `max(lastmod)` — replayed files,
   * re-fetched identical sitemaps, and out-of-order drains all
   * converge to the same state, which makes drains exactly-once
   * without any ledger: the DATA is its own high-water. A URL that
   * disappears from later sitemaps stays in the frontier (sitemaps are
   * advisory discovery, not tombstones; deletion is the crawl-delta
   * op's job — [[graft.ops.SnapshotDiff]]).
   *
   * Scale shape: extraction is |hosts|-row kernel work; the merge is
   * one url-keyed aggregation of (stored ∪ new entries) — at cluster
   * scale, store the frontier bucketed by url hash so the merge
   * co-locates. Publishes `_SUCCESS`-gated run dirs (same visibility
   * discipline as every maintainer here); a no-op drain publishes
   * nothing and returns the current frontier.
   */
  def maintainFrontier(
      spark: SparkSession,
      landingDir: String,
      silverDir: String,
      checkpointDir: String,
      frontierDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StringType, StructField}
    val schema = StructType(Seq(
      StructField("host", StringType, nullable = true),
      StructField("xml", StringType, nullable = true)))
    val silver = IngestStream.drainToSilver(spark, landingDir, schema,
      Seq("host", "xml"), silverDir, checkpointDir)

    val readRun = graft.io.Layers.latestSuccessfulRun(spark, frontierDir)
    val stored = readRun match {
      case Some(run) => spark.read.parquet(s"$run/frontier")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("url", StringType, nullable = true),
          StructField("host", StringType, nullable = true),
          StructField("lastmod", StringType, nullable = true))))
    }
    // silver holds EVERY drained snapshot; the merge is idempotent, so
    // re-aggregating all of it converges to the same frontier — but
    // only publish when the result DIFFERS from the stored state
    // (cheap anti-join count), so replay/no-op drains publish nothing.
    val entries = silver
      .select(col("host"),
        explode(graft.functions.GraftFunctions.sitemapUrls(spark, col("xml")))
          .as("u"))
      .select(col("u.loc").as("url"), col("host"), col("u.lastmod").as("lastmod"))
    val merged = stored.unionByName(entries)
      .groupBy(col("url"))
      .agg(max(col("host")).as("host"), max(col("lastmod")).as("lastmod"))
      .localCheckpoint()
    val changed = merged
      .join(stored.withColumnRenamed("lastmod", "__sl")
          .withColumnRenamed("host", "__sh"),
        Seq("url"), "left")
      .filter(col("__sl").isNull || col("lastmod") > col("__sl"))
    if (changed.isEmpty) return stored
    // CAS publish — same protocol and rationale as maintainDimension's
    val fs = new Path(frontierDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runDir = nextRunDir(frontierDir, readRun)
    graft.io.Commits.publishAtomic(fs, new Path(runDir)) { tmp =>
      merged.write.mode("overwrite").parquet(s"$tmp/frontier")
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
    }
    merged
  }
}
