package graft.io

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/**
 * Filesystem commit protocol for the durable-index maintainers — the
 * minimal optimistic-concurrency kernel a 100 TB landing zone needs,
 * built from the two primitives plain filesystems actually give you
 * (the same ones the public lakehouse log protocols are built on):
 *
 *  - **stage + rename** ([[publishAtomic]]): write the full payload
 *    into a HIDDEN `.tmp-<uuid>` sibling (Spark's committer puts the
 *    `_SUCCESS` marker inside it), then rename into the final name.
 *    Directory rename is atomic on every POSIX filesystem and HDFS, so
 *    a crashed publish leaves only an invisible tmp dir — never a
 *    half-written visible version. A taken final name means another
 *    writer won the slot: the publish FAILS VISIBLY
 *    ([[ConcurrentWriteException]]) instead of silently clobbering the
 *    winner (lost update).
 *  - **versioned store** ([[latestVersion]]/[[commitVersion]]): a
 *    dataset whose every rewrite lands as `base/v=<n>` via the CAS
 *    discipline — the caller passes the version it READ, the commit
 *    targets read+1, and a conflict (another writer committed read+1
 *    first) throws. Readers resolve the newest complete version, so
 *    they see every rewrite all-or-nothing; superseded versions are
 *    pruned only AFTER the new one is live.
 *  - **exclusive claim** ([[acquireClaim]]/[[releaseClaim]]): a
 *    create-exclusive lock file for maintainers whose drain spans
 *    multiple non-transactional appends (silver + index + ledger). A
 *    concurrent drain fails visibly at acquisition; a crashed drain
 *    leaves a stale claim that the exception names, and
 *    [[forceReleaseClaim]] recovers once the operator/scheduler knows
 *    no drain is in flight (the single-writer-per-store convention all
 *    public object-store formats document for this case). [[withClaim]]
 *    is re-entrant for the thread holding it, so every public writer
 *    takes the claim itself, also when a maintainer already holds it.
 *
 * What this deliberately does NOT attempt: multi-writer transactions
 * across datasets without a coordination service — plain rename gives
 * single-slot CAS, which is exactly enough to turn every silent
 * lost-update into a visible error.
 *
 * ==Rename semantics relied on==
 * Hadoop's old-API `FileSystem.rename`, as the engine's `file:`
 * filesystem ([[GraftLocalFileSystem]]) gives it: a dir renamed onto a
 * free name moves in one rename(2); renamed onto an existing non-empty
 * dir it lands INSIDE that dir and still returns true (the race
 * [[publishAtomic]]'s token detects); a file renamed onto an existing
 * file returns false and leaves both (writers that replace a file
 * delete the target first, as `PairReports` does). Hive's
 * `ProxyLocalFileSystem`, which Spark's jars select for `file:` when
 * nothing is configured, behaves the same; Hadoop's plain
 * `LocalFileSystem` would overwrite the file.
 *
 * ==Durable-index protocol==
 * The published indexes ([[VectorIndex]], [[SignatureIndex]],
 * [[AudioIndex]], [[WindowIndex]], [[GraphIndex]]) and the media
 * ingest stores extend the reference's stage-then-rename layer commit
 * (`breweries_fetch_bronze_notebook.py:71-85`) with the pieces below.
 * They live HERE and nowhere else, so moving the stores to another
 * filesystem (or fixing a crash window) touches one module:
 *
 *  - **swap** ([[swap]]): a whole-store rewrite is written into
 *    `<name>_<stage>`, then promoted with two renames (live →
 *    `<name>_prev`, stage → live); `_prev` is dropped only after the
 *    promote, so every crash point leaves a complete copy on disk;
 *  - **heal / resolve** ([[heal]], [[resolve]]): the only window that
 *    leaves the live dir missing is between those renames, and then
 *    `_prev` is the full pre-rewrite store. Every claim-free reader
 *    `resolve`s: it reads `_prev` in place and never renames or
 *    deletes (a reader healing between a live swap's renames would
 *    delete the writer's stage under it). Every writer `heal`s before
 *    its first read of the store: `_prev` is renamed back and the
 *    half-written stage dropped;
 *  - **compaction gauge** ([[fragmented]]): the visible parquet files
 *    of the resolved store against `2 × targetFiles` — the one
 *    read-only trigger of every `compactIfFragmented`;
 *  - **committed batches** ([[commitBatch]], [[committedBatches]]):
 *    appends land under `batch=<tag>` and are live only once their
 *    `_graft_committed` marker exists — written LAST, so a crashed
 *    append is an invisible orphan;
 *  - **batch tag** ([[batchTag]]): `b<count>x<hex>` over the
 *    order-insensitive XOR of per-id xxhash64 — the same id set always
 *    lands on the same tag, so a replayed batch OVERWRITES its own
 *    orphan instead of accreting. A write path takes the tag, the
 *    batch's count and its checks from one aggregate ([[batchShape]]);
 *    no `isEmpty`/`count` job of its own;
 *  - **meta** ([[writeMeta]], [[readMeta]]): the index identity in
 *    `_graft_index.json`, committed AFTER the data, so a crashed build
 *    leaves no readable index;
 *  - **generational store** ([[GenStore]]): merge-on-read rows under
 *    `<data>/gen=<n>` plus a [[commitVersion]]ed ledger naming each
 *    key's live generation; readers ([[liveRows]]) join the rows to
 *    the ledger on (key, gen). A commit ([[commitGen]]) writes its rows
 *    at one past the highest number ON DISK, making the dir even for
 *    zero rows, and only then CASes the ledger: a crash in between
 *    leaves an orphan no ledger names, and its number is never reused.
 *    Compaction ([[compactGens]]) reads the ledger once, writes the
 *    live rows at a fresh number, repoints every key to it, and only
 *    then prunes the dirs below it.
 */
object Commits {

  /** Another writer owns the slot/claim — retry from a fresh read. */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  private[io] def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /**
   * Stage a payload then atomically claim `finalDir` for it. `stage`
   * writes the COMPLETE directory contents (datasets + markers) into
   * the tmp path it is given; the subsequent rename is the commit
   * point. Throws [[ConcurrentWriteException]] if `finalDir` is
   * already taken (and removes the staged tmp).
   *
   * Rename success alone is NOT commit proof: when a racing writer
   * creates `finalDir` between our existence check and our rename,
   * Hadoop's old-API rename semantics (HDFS, and RawLocalFileSystem's
   * copy fallback) move the staged tmp INSIDE the winner's directory
   * and still return true — both writers would report success and the
   * loser's payload would be silently shadowed. So each publish stages
   * a unique hidden token file and, after the rename, requires OUR
   * token directly under `finalDir`: the identity check that turns the
   * check-then-act window back into a true single-slot CAS.
   */
  def publishAtomic(fs: FileSystem, finalDir: Path)(stage: Path => Unit): Unit = {
    val parent = finalDir.getParent
    fs.mkdirs(parent)
    val tmp = new Path(parent, s".tmp-${UUID.randomUUID().toString}")
    val token = s".commit-${UUID.randomUUID().toString}"
    try {
      stage(tmp)
      fs.create(new Path(tmp, token), false).close()
      if (fs.exists(finalDir))
        throw new ConcurrentWriteException(
          s"$finalDir already exists — a concurrent writer committed this " +
            "slot first; re-read the store and retry")
      val renamed = fs.rename(tmp, finalDir)
      if (!renamed || !fs.exists(new Path(finalDir, token))) {
        // a racing winner may have swallowed our tmp as finalDir/.tmp-*;
        // remove the stray (hidden, so readers never saw it) and lose
        val stray = new Path(finalDir, tmp.getName)
        if (fs.exists(stray)) fs.delete(stray, true)
        throw new ConcurrentWriteException(
          s"rename to $finalDir did not commit our payload — lost the " +
            "commit race; re-read the store and retry")
      }
      // the identity proof is consumed — drop the token so committed
      // dirs don't accrete stray files for non-dot-filtering consumers
      // (checksum audits, distcp diffs); the dir is provably ours now
      fs.delete(new Path(finalDir, token), false)
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** Newest COMPLETE version under `base` (a `v=<n>` dir; rename-committed
    * dirs always carry `_SUCCESS`), or None for an empty store. */
  def latestVersion(fs: FileSystem, base: Path): Option[(Int, Path)] = {
    if (!fs.exists(base)) return None
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter(p => !hidden(p.getName) && p.getName.startsWith("v="))
      .flatMap { p =>
        scala.util.Try(p.getName.stripPrefix("v=").toInt).toOption
          .filter(_ => fs.exists(new Path(p, "_SUCCESS")))
          .map(_ -> p)
      }
      .sortBy(_._1).lastOption
  }

  /** Read the newest complete version of a versioned store, with the
    * version number the caller must hand back to [[commitVersion]]. */
  def readVersioned(
      spark: SparkSession, base: String): Option[(Int, DataFrame)] = {
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs, p).map { case (v, dir) =>
      (v, spark.read.parquet(dir.toString))
    }
  }

  /**
   * CAS-commit `df` as version `readVersion + 1` of the store at
   * `base` (pass readVersion = -1 when [[readVersioned]] returned
   * None). Stage-and-rename, so a crash leaves no partial version;
   * throws [[ConcurrentWriteException]] when another writer committed
   * the slot between the caller's read and this commit. Superseded
   * versions are pruned AFTER the new one is live (a crash mid-prune
   * re-prunes on the next commit). Returns the committed version.
   */
  def commitVersion(df: DataFrame, base: String, readVersion: Int): Int = {
    val spark = df.sparkSession
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = readVersion + 1
    publishAtomic(fs, new Path(basePath, s"v=$next")) { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
    }
    // prune strictly-older versions (complete or crash leftovers); a
    // concurrent writer's slot is always > next, so never touched
    fs.listStatus(basePath).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        p.getName.startsWith("v=") &&
          scala.util.Try(p.getName.stripPrefix("v=").toInt).toOption
            .exists(_ < next)
      }
      .foreach(fs.delete(_, true))
    next
  }

  /** The parts a generational store supplies: its rows under
    * `<data>/gen=<n>` (read by `rows`, appended through `layout`, which
    * partitions by `gen`) and its versioned `ledger` of (`key`, the
    * store's own columns, `gen`). */
  final case class GenStore(data: String, ledger: String, key: String,
      rows: SparkSession => DataFrame, layout: DataFrame => DataFrameWriter[Row])

  /** The `gen=<n>` dirs of `s` on disk, committed or orphaned. */
  private def gens(fs: FileSystem, s: GenStore): Seq[(Int, Path)] = {
    val p = new Path(s.data)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("gen="))
      .flatMap(d => scala.util.Try(d.getName.stripPrefix("gen=").toInt)
        .toOption.map(_ -> d))
  }

  /** The committed ledger of `s` as (version, rows), or None before the
    * first generation commit. */
  def readLedger(spark: SparkSession, s: GenStore): Option[(Int, DataFrame)] =
    readVersioned(spark, s.ledger)

  /** [[readLedger]] of a store that must exist — fails naming it. */
  def committedLedger(spark: SparkSession, s: GenStore): (Int, DataFrame) =
    readLedger(spark, s).getOrElse(sys.error(s"no committed ledger under ${s.ledger}"))

  /** The live rows of `s`: each key's rows at its `ledger` generation
    * (broadcast semi-join — the ledger is keys only, the data is
    * scanned once and never shuffled). */
  def liveRows(spark: SparkSession, s: GenStore, ledger: DataFrame): DataFrame =
    s.rows(spark).join(broadcast(ledger.select(col(s.key), col("gen"))),
      Seq(s.key, "gen"), "left_semi")

  /** Write `rows` as a fresh generation: one past the highest number ON
    * DISK, whose dir is made even for zero rows, so no later writer
    * reuses a number a ledger or an orphan names. */
  private def writeGen(spark: SparkSession, s: GenStore, rows: DataFrame): Int = {
    val fs = fsOf(spark, new Path(s.data))
    val gen = gens(fs, s).map(_._1).maxOption.fold(0)(_ + 1)
    fs.mkdirs(new Path(s.data, s"gen=$gen"))
    s.layout(rows.withColumn("gen", lit(gen))).mode("append").parquet(s.data)
    gen
  }

  /**
   * Commit `rows` as a new generation of `s`: the rows first, then the
   * ledger CAS from the `read` (version, ledger) — None on the first
   * commit — to (old entries minus the `dropped` keys) ∪ (`entries` at
   * the new number). A crash before the CAS leaves an invisible orphan.
   */
  def commitGen(spark: SparkSession, s: GenStore, read: Option[(Int, DataFrame)],
      rows: DataFrame, entries: DataFrame, dropped: DataFrame): Unit = {
    val added = entries.withColumn("gen", lit(writeGen(spark, s, rows)))
    commitVersion(read.fold(added) { case (_, old) =>
      old.join(dropped.select(col(s.key)), Seq(s.key), "left_anti").unionByName(added)
    }, s.ledger, read.fold(-1)(_._1))
  }

  /**
   * Fold every live row of `s` into one fresh generation: read the
   * ledger once, write its live rows at a new number, repoint every
   * ledger row there (CAS), and only then prune the generation dirs
   * below it (dead rows and orphans). Returns the dirs pruned.
   */
  def compactGens(spark: SparkSession, s: GenStore): Int = {
    val (version, ledger) = committedLedger(spark, s)
    val gen = writeGen(spark, s,
      liveRows(spark, s, ledger).drop("gen")
        .localCheckpoint()) // sever lineage from the dirs being pruned
    commitVersion(ledger.drop("gen").withColumn("gen", lit(gen)), s.ledger, version)
    val fs = fsOf(spark, new Path(s.data))
    val dead = gens(fs, s).collect { case (g, d) if g < gen => d }
    dead.foreach(fs.delete(_, true))
    dead.length
  }

  private def claimPath(storeDir: String) =
    new Path(storeDir, "_drain.claim")

  /**
   * Acquire the store's exclusive drain claim via create-exclusive.
   * Throws [[ConcurrentWriteException]] if held: either a drain is in
   * flight, or a crashed drain left it stale — the message names the
   * file, and [[forceReleaseClaim]] recovers once the caller knows no
   * drain is running (crash recovery itself stays automatic: the
   * record/id anti-joins inside each maintainer heal a replayed batch).
   *
   * Atomicity assumption: create-exclusive is put-if-absent on HDFS
   * and POSIX filesystems (where `O_CREAT|O_EXCL` / NameNode create
   * are atomic). On S3A and similar object stores it is check-then-act
   * and does NOT serialize writers — there, run drains under an
   * external scheduler lock (the single-writer-per-store convention
   * every public object-store table format documents). Only the
   * already-exists failure maps to "claim held"; any other I/O error
   * (transient network, permission) propagates as itself so a flaky
   * store is never misreported as a concurrent drain.
   */
  def acquireClaim(spark: SparkSession, storeDir: String): Unit = {
    val p = claimPath(storeDir)
    acquireClaim(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      storeDir)
  }

  private[graft] def acquireClaim(fs: FileSystem, storeDir: String): Unit = {
    val p = claimPath(storeDir)
    fs.mkdirs(p.getParent)
    try fs.create(p, false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentWriteException(
          s"drain claim $p is held — another drain is in flight, or a " +
            "crashed drain left it stale; forceReleaseClaim() recovers " +
            "once no drain is running")
    }
  }

  /** Release a claim this process acquired (end of a successful drain). */
  def releaseClaim(spark: SparkSession, storeDir: String): Unit = {
    val p = claimPath(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
  }

  /** Operator recovery for a stale claim after a crashed drain. */
  def forceReleaseClaim(spark: SparkSession, storeDir: String): Unit =
    releaseClaim(spark, storeDir)

  /** Claim files this thread holds through [[withClaim]]. */
  private val heldClaims = ThreadLocal.withInitial[java.util.Set[Path]](
    () => new java.util.HashSet[Path]())

  /** Run `body` under the store's exclusive drain claim — released on
    * ANY in-process exit (success or exception), so only a process
    * crash leaves it stale. The serialization fence for maintainers
    * whose drain spans multiple non-transactional appends. Re-entrant
    * for the thread that holds it: a nested call runs `body` with no
    * filesystem call and only the outermost call releases, so a
    * maintainer's claim covers the public writers it calls. Other
    * threads and processes still fail on the create-exclusive. */
  def withClaim[T](spark: SparkSession, storeDir: String)(body: => T): T = {
    val p = claimPath(storeDir)
    val claim = fsOf(spark, p).makeQualified(p)
    val held = heldClaims.get
    if (held.contains(claim)) body
    else {
      acquireClaim(spark, storeDir)
      held.add(claim)
      try body finally { held.remove(claim); releaseClaim(spark, storeDir) }
    }
  }

  private[graft] def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The three dirs of a swappable store: `live`, the retired `prev`
    * kept until a promote completes, and the `stage` being written. */
  final case class SwapDirs(live: Path, prev: Path, stage: Path)

  object SwapDirs {
    /** `<dir>/<name>`, `<dir>/<name>_prev`, `<dir>/<name>_<stage>`. */
    def apply(dir: String, name: String, stage: String): SwapDirs =
      SwapDirs(new Path(s"$dir/$name"), new Path(s"$dir/${name}_prev"),
        new Path(s"$dir/${name}_$stage"))
  }

  /** Crash-safe whole-store rewrite: `write` fills the (emptied)
    * stage dir, then live → prev, stage → live, drop prev. `op` names
    * the caller in the failure messages. */
  def swap(fs: FileSystem, d: SwapDirs, op: String)(write: Path => Unit): Unit = {
    fs.delete(d.stage, true) // half-staged output of a crashed attempt
    write(d.stage)
    fs.delete(d.prev, true) // leftover from an ancient crash
    require(fs.rename(d.live, d.prev), s"$op: failed to retire ${d.live}")
    require(fs.rename(d.stage, d.live),
      s"$op: failed to promote ${d.stage} (recoverable — ${d.prev} " +
        "holds the previous version)")
    fs.delete(d.prev, true)
  }

  /** MUTATING recovery of a crash between [[swap]]'s renames: restore
    * `prev` as live and drop the half-written stage. No-op (one
    * `exists`) in the steady state. */
  def heal(fs: FileSystem, d: SwapDirs): Unit =
    if (!fs.exists(d.live) && fs.exists(d.prev)) {
      fs.delete(d.stage, true)
      require(fs.rename(d.prev, d.live),
        s"failed to restore ${d.live} from ${d.prev}")
    }

  /** Read-only twin of [[heal]]: the dir holding the complete store —
    * `live`, or `prev` inside the crash window — without touching it
    * (claim-free readers must not race a live swap's renames). */
  def resolve(fs: FileSystem, d: SwapDirs): Path =
    if (!fs.exists(d.live) && fs.exists(d.prev)) d.prev else d.live

  /** [[swap]] a flat parquet store for `rewritten` of its live
    * contents — the rewrite tail of the takedown and compaction passes
    * (claim held, store healed by the caller). */
  def rewrite(spark: SparkSession, d: SwapDirs, op: String)(
      rewritten: DataFrame => DataFrame): Unit =
    swap(fsOf(spark, d.live), d, op) { stage =>
      rewritten(spark.read.parquet(d.live.toString))
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** Visible `.parquet` files under `dir`, descending into visible
    * subdirs only (hidden `_`/`.` dirs are commit scratch no reader
    * sees). */
  def parquetFiles(fs: FileSystem, dir: Path): Int =
    fs.listStatus(dir).iterator.map { s =>
      val name = s.getPath.getName
      if (hidden(name)) 0
      else if (s.isDirectory) parquetFiles(fs, s.getPath)
      else if (name.endsWith(".parquet")) 1
      else 0
    }.sum

  /**
   * The compaction gauge of the swap store `d` of the `kind` index at
   * `dir`: more than `2 × targetFiles` visible parquet files under
   * `gauged` of the [[resolve]]d store. Read-only, so it runs without
   * the claim; the compaction it triggers heals under its own.
   *
   * A missing store ROOT is a mistyped path or a never-built store and
   * fails loudly (a maintenance loop would otherwise gauge "not
   * fragmented" forever while the real store fragments elsewhere); an
   * existing root without a store is not fragmented. A concurrent
   * swap renaming the store between the resolve and the listing reads
   * as not fragmented, retried once (the post-swap listing is the real
   * gauge), instead of a raw `FileNotFoundException`.
   */
  def fragmented(spark: SparkSession, dir: String, kind: String, d: SwapDirs,
      targetFiles: Int)(gauged: Path => Path): Boolean = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    require(fs.exists(root),
      s"compactIfFragmented: no $kind index at $dir — mistyped path or " +
        "never-built store (build it before scheduling maintenance)")
    def count(): Option[Int] =
      try {
        val p = gauged(resolve(fs, d))
        if (!fs.exists(p)) None else Some(parquetFiles(fs, p))
      } catch { case _: java.io.FileNotFoundException => None }
    count().orElse(count()).exists(_ > 2 * targetFiles)
  }

  private val committedMarker = "_graft_committed"

  /** Commit a fully written `batch=<tag>` dir — the marker create is
    * the commit point, so everything else in the dir goes first. */
  def commitBatch(fs: FileSystem, batchDir: Path): Unit =
    fs.create(new Path(batchDir, committedMarker), true).close()

  /** The `batch=<tag>` dirs under `root` whose commit marker exists —
    * the only batches a reader sees. Cost: one listing plus one
    * `exists` per batch dir. */
  def committedBatches(spark: SparkSession, rootDir: String): Seq[Path] = {
    val root = new Path(rootDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .filter(b => fs.exists(new Path(b, committedMarker)))
  }

  /** `<tag>` of a `batch=<tag>` dir. */
  def tagOf(batchDir: Path): String = batchDir.getName.stripPrefix("batch=")

  /** What one aggregate job learns of a batch before it is written:
    * its row count, its [[batchTag]], and whether some row fails the
    * check handed to [[batchShape]]. */
  final case class BatchShape(count: Long, tag: String, failed: Boolean)

  /** The [[BatchShape]] of `df` in ONE Spark job: the count, the tag
    * and the check are columns of one global aggregate, so a write
    * path learns all three without a separate `isEmpty`/`count`/check
    * job. `failing` is a per-row predicate, TRUE on a bad row (a NULL
    * is not a failure; `lit(false)` checks nothing). The aggregate
    * runs over `coalesce(1)`: its input is one partition, so no
    * exchange splits it into a map job and a result job.
    *
    * Contract: `df` is a MATERIALIZED, drain-sized batch (a
    * `localCheckpoint`ed delta, or a shuffle's output) — the one task
    * reads it, and the work of an unmaterialized plan under it would
    * run in that task too.
    *
    * The tag is `b<count>x<hex>` over the order-insensitive XOR of
    * per-id xxhash64 (wrap-free under ANSI mode; the count guards the
    * empty batch). Ids hash by their string form, so string and
    * numeric id columns share one tag scheme. */
  def batchShape(df: DataFrame, idCol: String, failing: Column): BatchShape = {
    import org.apache.spark.sql.functions.{bool_or, coalesce, count, expr}
    val r = df.coalesce(1).agg(
      count(lit(1)),
      coalesce(expr(s"bit_xor(xxhash64(cast($idCol as string)))"), lit(0L)),
      coalesce(bool_or(failing), lit(false)))
      .head()
    BatchShape(r.getLong(0), s"b${r.getLong(0)}x${java.lang.Long.toHexString(r.getLong(1))}",
      r.getBoolean(2))
  }

  /** Deterministic tag of a batch from its ids — the tag of its
    * [[batchShape]] (same contract: a materialized batch), so every
    * store tags with one formula; one Spark job. */
  def batchTag(df: DataFrame, idCol: String): String =
    batchShape(df, idCol, lit(false)).tag

  private[graft] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  private[graft] def writeText(
      fs: FileSystem, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def metaPath(dir: String): Path =
    new Path(dir, "_graft_index.json")

  /** Does `dir` hold a committed index (its meta file)? */
  def hasMeta(spark: SparkSession, dir: String): Boolean = {
    val p = metaPath(dir)
    fsOf(spark, p).exists(p)
  }

  /** Commit the index identity — call AFTER the data is written.
    * String values are quoted, everything else is written bare. */
  def writeMeta(spark: SparkSession, dir: String, fields: (String, Any)*): Unit = {
    val json = fields.map {
      case (k, v: String) => s""""$k": "$v""""
      case (k, v) => s""""$k": $v"""
    }.mkString("{", ", ", "}")
    val p = metaPath(dir)
    writeText(fsOf(spark, p), p, json, overwrite = true)
  }

  /** A committed `_graft_index.json`, read back by key. */
  final class IndexMeta private[Commits] (json: String, kind: String) {
    private def find(re: String, k: String): String =
      re.r.findFirstMatchIn(json)
        .getOrElse(sys.error(s"bad $kind index meta: missing $k")).group(1)
    def str(k: String): String = find(s""""$k": "([^"]*)"""", k)
    def num(k: String): Int = find(s""""$k": (\\d+)""", k).toInt
    /** `num`, or `d` for a key absent from older metas. */
    def numOr(k: String, d: Int): Int = s""""$k": (\\d+)""".r
      .findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(d)
  }

  /** Read `dir`'s index identity; fails naming the `kind` of index
    * when `dir` holds no committed one. */
  def readMeta(spark: SparkSession, dir: String, kind: String): IndexMeta = {
    val p = metaPath(dir)
    val fs = fsOf(spark, p)
    require(fs.exists(p), s"no $kind index at $dir (missing ${p.getName})")
    new IndexMeta(readText(fs, p), kind)
  }
}
