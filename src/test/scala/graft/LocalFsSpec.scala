package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{GraftLocalFileSystem, GraftLocalFs}

/**
 * The engine's `file:` filesystems ([[GraftSession.localFileSystem]])
 * against the classes Spark's jars select when nothing is configured:
 * the same modes, the same rename refusals and the same link status,
 * through a real session.
 */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val root = new URI("file:///")
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** The `file:` FileSystem class Hadoop picks from the classpath alone
    * (Hive's `ProxyLocalFileSystem` on Spark's jars). */
  private val stockFsClass = FileSystem.getFileSystemClass("file", new Configuration())
  private val stockAfsClass = "org.apache.hadoop.fs.local.LocalFs"

  /** A configuration selecting the stock (`graft = false`) or graft
    * classes, uncached so `extra` (a umask) reaches the instance. */
  private def confOf(graft: Boolean, extra: (String, String)*): Configuration = {
    val c = new Configuration(hadoopConf)
    c.set("fs.file.impl",
      if (graft) classOf[GraftLocalFileSystem].getName else stockFsClass.getName)
    c.set("fs.AbstractFileSystem.file.impl",
      if (graft) classOf[GraftLocalFs].getName else stockAfsClass)
    c.setBoolean("fs.file.impl.disable.cache", true)
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every entry under `dir` as (relative path with uuids masked, octal
    * mode), sorted. */
  private def modes(dir: String): Seq[(String, String)] = {
    val base = Paths.get(dir)
    Files.walk(base).iterator.asScala.map { p =>
      uuid.replaceAllIn(base.relativize(p).toString, "U") -> mode(p).toOctalString
    }.toSeq.sorted
  }

  private def parquetModes(options: Map[String, String]): Seq[(String, String)] = {
    val dir = s"${TestSpark.tmpDir("localfs_parquet")}/out"
    spark.range(40).select(col("id"), (col("id") % 4).as("p"), (col("id") % 2).as("q"))
      .write.options(options).partitionBy("p", "q").parquet(dir)
    modes(dir)
  }

  private def fileContextModes(c: Configuration): Seq[(String, String)] = {
    val dir = TestSpark.tmpDir("localfs_fc")
    val fc = FileContext.getFileContext(root, c)
    val out = fc.create(new Path(s"$dir/a/b/f.txt"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    out.write(1)
    out.close()
    modes(dir)
  }

  private def asOptions(c: Configuration, keys: String*): Map[String, String] =
    keys.map(k => k -> c.get(k)).toMap

  test("the session's file: FileSystem and FileContext are the graft classes") {
    // the cached instance every writer shares, not only a fresh one
    assert(FileSystem.get(root, hadoopConf).getClass == classOf[GraftLocalFileSystem])
    assert(new Path(TestSpark.tmpDir("localfs_cls")).getFileSystem(
      spark.sessionState.newHadoopConf()).getClass == classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(root, hadoopConf).getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
    assert(stockFsClass != classOf[GraftLocalFileSystem])
  }

  test("GraftSession.builder selects the graft classes") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.builder("localfs-spec").master("local[2]").getOrCreate()
      GraftSession.localFileSystem.foreach { case (k, v) => assert(s.conf.get(k) == v) }
      val c = s.sessionState.newHadoopConf()
      assert(FileSystem.get(root, c).getClass == classOf[GraftLocalFileSystem])
      assert(FileContext.getFileContext(root, c).getDefaultFileSystem.getClass ==
        classOf[GraftLocalFs])
    } finally {
      SparkSession.setActiveSession(TestSpark.spark)
      SparkSession.setDefaultSession(TestSpark.spark)
    }
  }

  test("a partitioned parquet write gets the stock modes, default umask and 077") {
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")
    // default umask: the session's cached graft instance against a stock one
    val graft = parquetModes(Map.empty)
    assert(graft == parquetModes(asOptions(confOf(graft = false), keys: _*)))
    assert(graft.count(_._2 == "755") + graft.count(_._2 == "644") == graft.size)
    assert(graft.exists(_._1.endsWith(".parquet")) && graft.exists(_._1.endsWith(".crc")))
    val umask = "fs.permissions.umask-mode" -> "077"
    val k = keys :+ umask._1
    val tight = parquetModes(asOptions(confOf(graft = true, umask), k: _*))
    assert(tight == parquetModes(asOptions(confOf(graft = false, umask), k: _*)))
    assert(tight.map(_._1) == graft.map(_._1))
    assert(tight.forall(e => e._2 == "700" || e._2 == "600"), tight)
  }

  test("a FileContext create gets the stock modes, default umask and 077") {
    val graft = fileContextModes(hadoopConf)
    assert(graft == fileContextModes(confOf(graft = false)))
    assert(graft.map(_._2).tail.distinct.sorted == Seq("644", "755"), graft)
    val umask = "fs.permissions.umask-mode" -> "077"
    val tight = fileContextModes(confOf(graft = true, umask))
    assert(tight == fileContextModes(confOf(graft = false, umask)))
    assert(tight.map(_._2).tail.distinct.sorted == Seq("600", "700"), tight)
  }

  test("setPermission: nine bits through nio, a sticky bit through the stock path") {
    val fs = FileSystem.get(root, hadoopConf)
    val dir = Paths.get(TestSpark.tmpDir("localfs_sticky"))
    val p = new Path(dir.toString)
    fs.setPermission(p, new FsPermission(Integer.parseInt("750", 8).toShort))
    assert(mode(dir) == Integer.parseInt("750", 8))
    fs.setPermission(p, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    // clearing the sticky bit again is a 9-bit mode
    fs.setPermission(p, new FsPermission(Integer.parseInt("700", 8).toShort))
    assert(mode(dir) == Integer.parseInt("700", 8))
    intercept[java.io.IOException] {
      fs.setPermission(new Path(dir.resolve("missing").toString), FsPermission.getFileDefault)
    }
  }

  test("rename onto an existing file returns false and keeps both; onto a dir moves inside") {
    for (graft <- Seq(true, false)) {
      val fs = if (graft) FileSystem.get(root, hadoopConf)
        else FileSystem.get(root, confOf(graft = false))
      val dir = TestSpark.tmpDir("localfs_rename")
      val (a, b) = (new Path(s"$dir/a"), new Path(s"$dir/b"))
      Seq(a -> "A", b -> "B").foreach { case (p, s) =>
        val o = fs.create(p, false); o.writeBytes(s); o.close()
      }
      assert(!fs.rename(a, b), s"graft=$graft")
      assert(Files.readString(Paths.get(s"$dir/a")) == "A")
      assert(Files.readString(Paths.get(s"$dir/b")) == "B")
      // a non-empty dir: rename(2) refuses it and the copy fallback
      // moves the source inside (the race [[graft.io.Commits]] detects)
      val (d1, d2) = (new Path(s"$dir/d1"), new Path(s"$dir/d2"))
      fs.mkdirs(d1)
      fs.create(new Path(d2, "f"), false).close()
      assert(fs.rename(d1, d2))
      assert(fs.exists(new Path(d2, "d1")) && !fs.exists(d1))
    }
  }

  test("FileContext rename with overwrite matches the stock FileContext") {
    def run(c: Configuration): (Seq[String], String) = {
      val dir = TestSpark.tmpDir("localfs_fc_rename")
      val fc = FileContext.getFileContext(root, c)
      val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
      Seq(src -> "new", dst -> "old").foreach { case (p, s) =>
        val o = fc.create(p, EnumSet.of(CreateFlag.CREATE)); o.writeBytes(s); o.close()
      }
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSeq.sorted,
        Files.readString(Paths.get(s"$dir/dst")))
    }
    val graft = run(hadoopConf)
    assert(graft == run(confOf(graft = false)))
    assert(graft == (Seq(".dst.crc", "dst"), "new"))
  }

  test("link status of a real symlink matches the stock classes, plain and file: paths") {
    val dir = Paths.get(TestSpark.tmpDir("localfs_links"))
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val graftFs = FileSystem.get(root, hadoopConf)
    val stockFs = FileSystem.get(root, confOf(graft = false))
    val graftFc = FileContext.getFileContext(root, hadoopConf)
    val stockFc = FileContext.getFileContext(root, confOf(graft = false))
    // a status, or the class of what was thrown (a dangling link named
    // by a qualified path is a missing file to the stock class)
    def outcome(st: => org.apache.hadoop.fs.FileStatus): Either[Class[_], String] =
      try Right(st.toString) catch { case e: java.io.IOException => Left(e.getClass) }
    for (p <- Seq(target, link, dangling); s <- Seq(p.toString, s"file:$p")) {
      val path = new Path(s)
      val got = outcome(graftFs.getFileLinkStatus(path))
      assert(got == outcome(stockFs.getFileLinkStatus(path)), s)
      assert(outcome(graftFc.getFileLinkStatus(path)) ==
        outcome(stockFc.getFileLinkStatus(path)), s)
      // a qualified path reads as a relative name: stock never sees a link
      val isLink = p != target && !s.startsWith("file:")
      assert(got.exists(_.contains("isSymlink=" + isLink)) || (p == dangling && got.isLeft), s -> got)
      if (isLink) assert(graftFs.getLinkTarget(path) == stockFs.getLinkTarget(path))
    }
    assert(graftFs.getFileLinkStatus(new Path(link.toString)).getSymlink ==
      new Path(s"file:$target"))
  }
}
