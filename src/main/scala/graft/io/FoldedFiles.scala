package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog

/**
 * The durable folded-files record shared by the streaming maintainers
 * ([[graft.streaming.SearchIngest]], [[graft.streaming.GraphIngest]],
 * and the image, video and audio ingest of
 * [[graft.streaming.MediaIngest]]): an append-only silver store's
 * drain batch is the set of data FILES not yet folded into the
 * downstream index, judged against a [[Commits]]-versioned `(file)`
 * table — so every drain reads only new files (O(drain), never an
 * O(silver) rescan), the record's CAS makes racing folds fail
 * visibly, and committing the record LAST means a crash anywhere
 * replays the same files, where each maintainer's id-level anti-join
 * heals the replay.
 *
 * This protocol is crash-contract-sensitive (fold-commits-LAST
 * ordering, version CAS, data-file filtering) — it lives in ONE place
 * so a fix cannot silently miss a maintainer.
 */
object FoldedFiles {

  /** The not-yet-folded silver data files (sorted), plus the callback
    * that commits the advanced record — the maintainer MUST call it
    * LAST, after its downstream index commit. A silver dir written by
    * Spark's file sink takes its files from the sink's `_spark_metadata`
    * log (read on the driver, no job): a crashed micro-batch leaves part
    * files the log never committed, and its replay writes them again
    * under new names. A dir without the log is listed. */
  def fresh(spark: SparkSession, silverDir: String, recordBase: String)
      : (Seq[String], () => Unit) = {
    val silverPath = new Path(silverDir)
    val fs = silverPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkLog = new Path(silverPath, "_spark_metadata")
    val silverFiles: Set[String] =
      if (fs.exists(sinkLog))
        new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, sinkLog.toString, None)
          .allFiles().map(_.toFileStatus.getPath.toString).filter(_.endsWith(".parquet")).toSet
      else if (!fs.exists(silverPath)) Set.empty
      else fs.listStatus(silverPath).filter(_.isFile)
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSet
    val read = Commits.readVersioned(spark, recordBase)
    val version = read.map(_._1).getOrElse(-1)
    val folded: Set[String] = read
      .map(_._2.collect().map(_.getString(0)).toSet) // ∝ silver FILE COUNT
      .getOrElse(Set.empty)
    val freshFiles = (silverFiles -- folded).toSeq.sorted
    val commit = () => {
      import spark.implicits._
      Commits.commitVersion(
        folded.union(freshFiles.toSet).toSeq.sorted.toDF("file"),
        recordBase, version)
      ()
    }
    (freshFiles, commit)
  }
}
