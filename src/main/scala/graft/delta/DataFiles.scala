package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import java.util.UUID

/** The parquet files of a commit. Every data-writing commit (append, the
  * DML rewrites, OPTIMIZE, CDF change files, checkpoint parts) writes
  * through [[write]]: each write task puts its files straight into a
  * commit-unique directory under names unique to the attempt and, when it
  * commits, reports each file's path, size and modification time (one
  * `getFileStatus`) and, when asked, its stats JSON read from its footer
  * on the executor. The driver builds its actions from those reports; it
  * lists no directory, reads no footer and runs no stats job. Nothing is
  * staged or renamed and no `_SUCCESS` marker is written (the shape of
  * delta-spark's `DelayedCommitProtocol`). A failed task attempt deletes
  * its own files where it can; a file a lost attempt leaves behind is in
  * no commit, and VACUUM removes it. */
object DataFiles {

  /** One committed file; `path` is relative to the write's root in its
    * on-disk form (not percent-encoded). */
  final case class Written(path: String, size: Long, modificationTime: Long, stats: Option[String]) {
    /** The add action of this file; partition values parse from the hive
      * directories of `path`. */
    def toAdd(partitionBy: Seq[String]): AddFile =
      AddFile(DeltaActions.encodePath(path), DeltaWriter.hivePartitionValues(path, partitionBy),
        size, modificationTime, stats)
  }

  /** Write `df` as parquet into `root/dir`, hive-partitioned by
    * `partitionBy`, and return the committed files in write-partition
    * order, their paths relative to `root`. `statCols` (see
    * [[statColumns]]) asks for each file's stats JSON. */
  def write(df: DataFrame, root: Path, dir: String, partitionBy: Seq[String] = Nil,
            statCols: Option[Seq[(String, DataType)]] = None): Seq[Written] = {
    // tasks resolve their files against the root: qualified, as a relative
    // path would resolve against each executor's working directory
    val qualified = root.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).makeQualified(root)
    val protocol = new CommitProtocol(qualified.toString, dir, statCols)
    org.apache.spark.sql.graft.FileWrites.write(df, new Path(qualified, dir).toString, partitionBy, protocol)
    protocol.committed
  }

  /** Spark's `FileCommitProtocol` for [[write]]. Spark ships one copy to
    * each task attempt: `opened` is that attempt's files; `committed` is
    * filled on the driver when the job commits, in write-partition order
    * (the order Spark hands over the task messages). */
  private final class CommitProtocol(root: String, dir: String,
                                     statCols: Option[Seq[(String, DataType)]])
      extends FileCommitProtocol with Serializable {
    @transient private var opened = Vector.empty[String]
    @transient var committed: Seq[Written] = Nil

    override def setupJob(job: JobContext): Unit = ()

    override def commitJob(job: JobContext, tasks: Seq[TaskCommitMessage]): Unit =
      committed = tasks.flatMap(_.obj.asInstanceOf[Seq[Written]])

    /** Nothing references the directory before the commit: drop it whole. */
    override def abortJob(job: JobContext): Unit = {
      val out = new Path(root, dir)
      scala.util.Try(out.getFileSystem(job.getConfiguration).delete(out, true))
    }

    override def setupTask(task: TaskAttemptContext): Unit = opened = Vector.empty

    override def newTaskTempFile(task: TaskAttemptContext, partDir: Option[String],
                                 spec: FileNameSpec): String = {
      val split = task.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-${UUID.randomUUID()}${spec.suffix}"
      val rel = (Seq(dir) ++ partDir :+ name).mkString("/")
      opened :+= rel
      new Path(root, rel).toString
    }

    override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
      val conf = task.getConfiguration
      new TaskCommitMessage(opened.map { rel =>
        val p = new Path(root, rel)
        val st = p.getFileSystem(conf).getFileStatus(p)
        Written(rel, st.getLen, st.getModificationTime, statCols.flatMap(footerStatsJson(st, conf, _)))
      })
    }

    override def abortTask(task: TaskAttemptContext): Unit = opened.foreach { rel =>
      val p = new Path(root, rel)
      scala.util.Try(p.getFileSystem(task.getConfiguration).delete(p, false))
    }
  }

  /** The columns a file's stats carry: the strings, dates and non-decimal
    * numbers among the first `delta.dataSkippingNumIndexedCols` columns of
    * `dataSchema` (delta-spark's knob, default 32, negative = all), so a
    * WIDE schema does not bloat the log with per-file min/max JSON for
    * every column; every reader of per-column stats is conservative about
    * absence. */
  def statColumns(dataSchema: StructType, config: Map[String, String]): Seq[(String, DataType)] = {
    val limit = config.get("delta.dataSkippingNumIndexedCols").map(_.trim.toInt) match {
      case Some(n) if n < 0 => Int.MaxValue
      case Some(n) => n
      case None => 32
    }
    dataSchema.fields.toSeq.take(limit).collect {
      case f if f.dataType == StringType || f.dataType == DateType ||
        (f.dataType.isInstanceOf[NumericType] &&
          !f.dataType.isInstanceOf[DecimalType]) => f.name -> f.dataType
    }
  }

  /** The footer of one parquet file. It opens with read options built from
    * `conf`: parquet's option-less `open` builds a fresh Hadoop
    * `Configuration` per call, which costs far more than the footer read. */
  def readFooter(file: FileStatus, conf: Configuration): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }

  /** Per-file column statistics for data skipping (protocol `stats` field):
    * numRecords + min/max/nullCount of `statCols`, read from the parquet
    * FOOTER (row-group statistics the write already produced), not by
    * re-scanning the data. Parquet's binary stats use unsigned-byte order =
    * Spark's UTF8String order, and truncated stats stay conservative
    * bounds, so skipping correctness is preserved. Columns with unreliable
    * stats (NaN/Inf, all-null row groups, missing chunks) are omitted —
    * [[DataSkipping]] treats absence as "cannot disprove". None if the
    * footer is unreadable. */
  def footerStatsJson(file: FileStatus, conf: Configuration,
                      statCols: Seq[(String, DataType)]): Option[String] =
    scala.util.Try {
      import scala.jdk.CollectionConverters._
      import DeltaWriter.q
      val groups = readFooter(file, conf).getBlocks.asScala.toSeq
      val numRecords = groups.map(_.getRowCount).sum
      def finite(v: Any): Boolean = v match {
        case f: java.lang.Float => !f.isNaN && !f.isInfinite
        case d: java.lang.Double => !d.isNaN && !d.isInfinite
        case _ => true
      }
      val perColumn = statCols.map { case (name, dt) =>
        val chunks = groups.map(_.getColumns.asScala.find(_.getPath.toDotString == name))
        if (groups.isEmpty || chunks.exists(_.isEmpty)) (None, None)
        else {
          val stats = chunks.map(_.get.getStatistics)
          // protocol `nullCount`: valid only when every row group reports
          // one (getNumNulls < 0 = unknown)
          val ns = stats.map(s => if (s == null) -1L else s.getNumNulls)
          val nulls = if (ns.exists(_ < 0)) None else Some(name -> ns.sum)
          // every row group must carry usable stats for the bound to be valid
          lazy val mins = stats.map(_.genericGetMin())
          lazy val maxs = stats.map(_.genericGetMax())
          val bound =
            if (stats.exists(s => s == null || !s.hasNonNullValue) || !(mins ++ maxs).forall(finite)) None
            else dt match {
              case StringType =>
                val sMin = mins.map(_.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  .reduce((a, b) => if (utf8Cmp(a, b) <= 0) a else b)
                val sMax = maxs.map(_.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  .reduce((a, b) => if (utf8Cmp(a, b) >= 0) a else b)
                Some((name, q(sMin), q(sMax)))
              case FloatType =>
                val vs = (mins ++ maxs).map(_.asInstanceOf[java.lang.Float].floatValue)
                Some((name, vs.min.toString, vs.max.toString))
              case DoubleType =>
                val vs = (mins ++ maxs).map(_.asInstanceOf[java.lang.Double].doubleValue)
                Some((name, vs.min.toString, vs.max.toString))
              case DateType =>
                // parquet DATE = INT32 days since epoch; the protocol
                // renders date stats as ISO "YYYY-MM-DD" strings, which
                // order lexicographically == chronologically — but ONLY
                // for years 0000-9999, so out-of-range dates emit no stats
                val ds = (mins ++ maxs).map(_.asInstanceOf[Number].intValue)
                val (dMin, dMax) = (ds.min, ds.max)
                if (dMin < DateStats.MinEpochDay || dMax > DateStats.MaxEpochDay) None
                else Some((name, q(DateStats.render(dMin)), q(DateStats.render(dMax))))
              case _ => // byte/short/int/long ride on INT32/INT64 stats
                val vs = (mins ++ maxs).map(_.asInstanceOf[Number].longValue)
                Some((name, vs.min.toString, vs.max.toString))
            }
          (nulls, bound)
        }
      }
      val nullCounts = perColumn.flatMap(_._1)
      val bounds = perColumn.flatMap(_._2)
      val minsJson = bounds.map { case (n, mn, _) => s"${q(n)}:$mn" }.mkString("{", ",", "}")
      val maxsJson = bounds.map { case (n, _, mx) => s"${q(n)}:$mx" }.mkString("{", ",", "}")
      val nullsJson = nullCounts.map { case (n, c) => s"${q(n)}:$c" }.mkString("{", ",", "}")
      s"""{"numRecords":$numRecords,"minValues":$minsJson,"maxValues":$maxsJson,"nullCount":$nullsJson}"""
    }.toOption

  /** [[footerStatsJson]] of the file at `path`; None if it cannot be read. */
  def footerStatsJson(path: Path, conf: Configuration,
                      statCols: Seq[(String, DataType)]): Option[String] =
    scala.util.Try(path.getFileSystem(conf).getFileStatus(path)).toOption
      .flatMap(footerStatsJson(_, conf, statCols))

  private def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Stats of parquet files listed by the caller — for CONVERT TO DELTA,
    * whose files no write of this engine produced — keyed by absolute file
    * path. Up to `spark.graft.delta.driverStatsMaxFiles` files (default
    * 32) the footers are read on the driver; more take one distributed
    * pass (one task per batch of files). CONVERT is the one caller;
    * `recomputeStats` reads its footers on executors whatever the file
    * count, and data-writing commits take stats from their write tasks
    * ([[write]]). */
  def listedStats(spark: SparkSession, files: Seq[FileStatus],
                  statCols: Seq[(String, DataType)]): Map[String, String] = {
    val driverMax = spark.conf.getOption("spark.graft.delta.driverStatsMaxFiles")
      .map(_.toInt).getOrElse(32)
    val stats: Seq[(String, Option[String])] =
      if (files.size <= driverMax) {
        val conf = spark.sessionState.newHadoopConf()
        files.map(st => st.getPath.toUri.getPath -> footerStatsJson(st, conf, statCols))
      } else {
        val bcConf = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
        spark.sparkContext.parallelize(files.map(_.getPath.toString), math.max(1, math.min(files.size, 32)))
          .map(p => new Path(p).toUri.getPath -> footerStatsJson(new Path(p), bcConf.value.value, statCols))
          .collect().toSeq
      }
    stats.collect { case (p, Some(json)) => p -> json }.toMap
  }

  /** The data files under `dir`, recursively, as the listing pages in. */
  def listDataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] = {
    val it = fs.listFiles(dir, true)
    Iterator.continually(()).takeWhile(_ => it.hasNext).map(_ => it.next()).filter(isDataFile)
  }

  /** Is `st` a data file: a parquet file whose name starts with neither
    * `_` nor `.`? */
  def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }
}
