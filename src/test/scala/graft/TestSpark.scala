package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole suite (Spark startup is ~5 s;
  * per-suite sessions would dominate test wall-time). Mirrors the
  * engine's session config: UTC, small shuffle partitioning, UI off,
  * and the `file:` filesystem ([[GraftSession.localFileSystem]]). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFileSystem)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // SQL fragments under test compile to graft_* kernel calls
    graft.functions.GraftFunctions.register(s)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  def table(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def tmpDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_test_$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** Crash simulation for a [[graft.io.Commits.swap]] store `<dir>/<name>`:
    * the state a rewrite leaves when it dies between its two renames —
    * the live dir retired to `_prev`, the staged rewrite half-written. */
  def crashSwap(dir: String, name: String, stage: String): graft.io.Commits.SwapDirs = {
    val d = graft.io.Commits.SwapDirs(dir, name, stage)
    val fs = d.live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(d.live, d.prev), s"no live ${d.live} to crash")
    fs.create(new org.apache.hadoop.fs.Path(d.stage, "part-00000.parquet")).close()
    d
  }

  /** Which of (live, prev, stage) exist: `(false, true, true)` is the
    * untouched crash window, `(true, false, false)` a healed store. */
  def swapState(d: graft.io.Commits.SwapDirs): (Boolean, Boolean, Boolean) = {
    val fs = d.live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs.exists(d.live), fs.exists(d.prev), fs.exists(d.stage))
  }

  /** `body`'s result and the number of Spark jobs it launched —
    * counted by a listener over the jobs carrying this call's own local
    * property (broadcast threads inherit it), the bus drained before
    * the count is read. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsOf"
    val token = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == token) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(key, token)
    try {
      val r = body
      org.apache.spark.TestBus.drain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }

  /** Crash simulation for [[graft.io.Commits]]-versioned single-column
    * records: snapshot the current content so [[restoreVersion]] can
    * roll the record back to it (as if a later writer died before its
    * version commit — commitVersion PRUNES superseded versions, so
    * "delete the newest dir" would not reproduce that state). */
  def snapshotVersion(base: String): Seq[String] =
    graft.io.Commits.readVersioned(spark, base) match {
      case Some((_, df)) => df.collect().map(_.getString(0)).toSeq
      case None => Nil
    }

  /** Restore a record captured by [[snapshotVersion]] (drops every
    * live version, then commits the snapshot as the only one). */
  def restoreVersion(base: String, rows: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith("v="))
        .foreach(fs.delete(_, true))
    import spark.implicits._
    graft.io.Commits.commitVersion(rows.toDF("file"), base, -1)
  }
}
