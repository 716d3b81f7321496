package graft

import org.apache.spark.sql.SparkSession

/**
 * Opinionated session builder: the configuration this engine is
 * designed against, in one place.
 *
 *  - graft SQL functions injected via the standard extensions hook
 *    (equivalent to `spark.sql.extensions=graft.functions.GraftExtensions`);
 *  - dynamic partition overwrite (silver re-runs replace only touched
 *    partitions — reference `breweries_transform_silver_notebook.py:35`);
 *  - AQE left ON (Spark 4 default) — runtime coalescing, skew-join
 *    splitting and broadcast demotion are part of the scale design;
 *  - UTC session timezone (all date/timestamp literals in the engine
 *    are timezone-free);
 *  - shuffle partitions default to the local core count rather than
 *    200 — callers on a real cluster should size this to data volume;
 *  - `file:` served by [[graft.io.GraftLocalFileSystem]] and
 *    [[graft.io.GraftLocalFs]] ([[localFileSystem]]). Without Hadoop's
 *    native library the stock local filesystem forks a `chmod` for every
 *    file and dir it creates (~5 ms each) and a `readlink` for every
 *    FileContext rename: 361 `chmod`s per medallion batch, and 467
 *    `chmod`s plus 104 `readlink`s per `vector_serving` benchmark run
 *    (`tools/forkcount.sh`). The graft classes make both one syscall.
 *    With nothing configured, Spark's jars select Hive's
 *    `ProxyLocalFileSystem` for `file:`, whose rename refuses an
 *    existing file; the graft class keeps that. Hadoop's FileSystem
 *    cache ignores the configuration, so the first `file:` FileSystem
 *    created in a JVM serves every later `FileSystem.get`: build the
 *    session before anything else touches a local path. FileContext is
 *    not cached and follows each configuration. Hadoop loads both
 *    classes through the configuration's classloader, so graft must be
 *    on the application classpath (spark-shell `--driver-class-path`,
 *    not `--jars`).
 *  - partition dirs listed on the driver ([[localFileSystem]] sets
 *    `spark.sql.sources.parallelPartitionDiscovery.threshold` to
 *    `Int.MaxValue`). Under Spark's default (32), a layer with more
 *    dirs is listed by a Spark job with one task per dir before any
 *    scan; medallion silver has 50 `state=` dirs. Measured on a 4-core
 *    host, local disk: 50 dirs took 393 ms as a listing job against
 *    20 ms listed on the driver, 200 dirs 885 ms against 38 ms, 1 000
 *    dirs 3 745 ms against 93 ms. Spark's other route
 *    (`spark.sql.sources.useListFilesFileSystemList`) avoids the job
 *    but made the medallion gold stage slower (957 ms against 467 ms).
 *    This is a fixed engine setting: a cluster listing thousands of
 *    partition dirs on remote storage would want the parallel job back.
 */
object GraftSession {

  /** The Spark settings for file access: the graft `file:` filesystems
    * and driver-side partition listing. */
  val localFileSystem: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.GraftLocalFs].getName,
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(graft.functions.GraftFunctions.inject)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config(localFileSystem)
}
