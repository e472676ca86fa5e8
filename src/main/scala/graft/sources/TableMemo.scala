package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.graft.Bridge

/** The one metadata memo behind every parquet table read (`queries.tbl`, the
  * `Streams.eventStream` schema probe). `spark.read.parquet` lists the files
  * and runs a footer schema-inference job per call; [[read]] resolves a
  * path once per session and serves later calls a new Dataset over the
  * cached relation, with fresh exprIds so two reads still self-join.
  * Entries hold metadata only (schema, file index), serve only while the
  * name/size/mtime of every file under the path is unchanged, and are never
  * written for an unlistable path or a failed read. They are per session,
  * dropped when the session's context stops, and capped LRU; not weakly
  * held, since a relation references its session (a weak key never clears). */
object TableMemo {
  private final case class Entry(fp: String, relation: MultiInstanceRelation)
  private val entries =
    new java.util.LinkedHashMap[(SparkSession, String), Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), Entry]) = size > 64
    }

  /** `spark.read.parquet(path)`, resolved once per session and fingerprint. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = (spark, path)
    val fp = files(spark, path).map(fingerprint)
    val hit = entries.synchronized {
      entries.keySet.removeIf(_._1.sparkContext.isStopped)
      Option(entries.get(key)).filter(e => fp.contains(e.fp))
    }
    hit.fold {
      val df = spark.read.parquet(path)
      (fp, df.queryExecution.analyzed) match {
        case (Some(f), r: MultiInstanceRelation) =>
          entries.synchronized(entries.put(key, Entry(f, r)))
        case _ =>
      }
      df
    }(e => Bridge.planToDf(spark, e.relation.newInstance()))
  }

  /** The name:size:mtime of every file, in path order: it changes when a
    * file is added, removed, or rewritten with a new size or mtime. Shared
    * with the frame registry, which validates its hits with it. */
  private[graft] def fingerprint(files: Seq[FileStatus]): String =
    files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(",")

  /** Every file under `path`, recursively; None if any part is unlistable. */
  private[graft] def files(spark: SparkSession, path: String)
      : Option[Seq[FileStatus]] =
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(s: FileStatus): Seq[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
        else Seq(s)
      Some(walk(fs.getFileStatus(root)))
    } catch { case scala.util.control.NonFatal(_) => None }
}
