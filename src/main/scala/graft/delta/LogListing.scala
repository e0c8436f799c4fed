package graft.delta

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

import scala.collection.immutable.SortedMap

/** One `listStatus` of a table's `_delta_log`, its files sorted by kind:
  * commits, classic single- and multi-part checkpoints, V2 (UUID-named)
  * checkpoints, compacted commit ranges and state checksums. Every reader
  * of the log and the log cleanup take the log's state from one of these,
  * and the file-name grammar of `_delta_log` is defined here once, both
  * the patterns that parse a listed name and the functions that make one.
  * (The catalog owner's `_commits` registry keeps its own grammar,
  * [[CatalogCommitOwner]].) */
final class LogListing private (val tablePath: String, val logPath: Path, val fs: FileSystem,
                                val present: Boolean, val entries: Seq[FileStatus]) {
  import LogListing._

  private val parsed: Seq[(FileStatus, LogFile)] =
    entries.flatMap(st => parse(st.getPath.getName).map(st -> _))

  /** Commit files by version. */
  val commits: SortedMap[Long, FileStatus] =
    SortedMap.from(parsed.collect { case (st, Commit(v)) => v -> st })

  /** Checkpoint files by version. A classic checkpoint's parts are read
    * together; each V2 checkpoint file (`v2` true) is complete on its own. */
  val checkpoints: Map[Long, Seq[(FileStatus, Boolean)]] =
    parsed.collect { case (st, Checkpoint(v, v2)) => (v, (st, v2)) }
      .groupMap(_._1)(_._2)

  /** Compacted ranges: (start, end, file). */
  val compacted: Seq[(Long, Long, FileStatus)] =
    parsed.collect { case (st, Compacted(a, b)) => (a, b, st) }

  /** Does the log hold a commit? */
  def hasCommits: Boolean = commits.nonEmpty

  /** Does the log hold a commit or a checkpoint? */
  def hasVersions: Boolean = commits.nonEmpty || checkpoints.nonEmpty

  /** The newest version a commit or checkpoint records; refuses a log
    * that holds neither. */
  def latest: Long = {
    require(hasVersions, s"empty _delta_log at $tablePath")
    (commits.keys ++ checkpoints.keys).max
  }

  /** The commit files of versions `(from, to]`, which must all be listed. */
  def commitsIn(from: Long, to: Long): Seq[(Long, FileStatus)] = {
    val range = commits.range(from + 1, to + 1).toSeq
    require(range.length == to - from,
      s"missing commit JSONs in ($from, $to] of $tablePath — log truncated by checkpoint cleanup?")
    range
  }

  /** The file a snapshot at `v` is built from: `v`'s commit, or, when the
    * listing holds none, a checkpoint at `v` or the compacted range ending
    * at `v`. */
  def fileAt(v: Long): Option[FileStatus] =
    commits.get(v)
      .orElse(checkpoints.get(v).map(_.map(_._1).minBy(_.getPath.getName)))
      .orElse(compacted.filter(_._2 == v).map(_._3).minByOption(_.getPath.getName))

  /** The version a log file ends at (a compacted range: its end), if its
    * name is one of the log's. */
  def versionOf(st: FileStatus): Option[Long] = parse(st.getPath.getName).map {
    case Commit(v) => v
    case Checkpoint(v, _) => v
    case Compacted(_, b) => b
    case Crc(v) => v
  }
}

object LogListing {
  private sealed trait LogFile
  private final case class Commit(v: Long) extends LogFile
  private final case class Checkpoint(v: Long, v2: Boolean) extends LogFile
  private final case class Compacted(start: Long, end: Long) extends LogFile
  private final case class Crc(v: Long) extends LogFile

  /** A commit file's name; its group is the version. */
  val CommitPattern: String = """(\d{20})\.json"""
  private val commitRe = CommitPattern.r
  private val checkpointRe = """(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.parquet""".r
  // tried after the classic pattern, so the two never overlap
  private val v2CheckpointRe = """(\d{20})\.checkpoint\.[^.]+\.(?:json|parquet)""".r
  private val compactedRe = """(\d{20})\.(\d{20})\.compacted\.json""".r
  private val crcRe = """(\d{20})\.crc""".r

  private def parse(name: String): Option[LogFile] = name match {
    case commitRe(v) => Some(Commit(v.toLong))
    case checkpointRe(v) => Some(Checkpoint(v.toLong, v2 = false))
    case v2CheckpointRe(v) => Some(Checkpoint(v.toLong, v2 = true))
    case compactedRe(a, b) => Some(Compacted(a.toLong, b.toLong))
    case crcRe(v) => Some(Crc(v.toLong))
    case _ => None
  }

  /** The version of a commit file's name, if it is one. */
  def commitVersionOf(name: String): Option[Long] = name match {
    case commitRe(v) => Some(v.toLong)
    case _ => None
  }
  def commitName(v: Long): String = f"$v%020d.json"
  def crcName(v: Long): String = f"$v%020d.crc"
  def compactedName(start: Long, end: Long): String = f"$start%020d.$end%020d.compacted.json"
  /** A classic checkpoint part's name (`parts` 1: the single-part form). */
  def checkpointName(v: Long, part: Int, parts: Int): String =
    if (parts == 1) f"$v%020d.checkpoint.parquet"
    else f"$v%020d.checkpoint.$part%010d.$parts%010d.parquet"
  def v2CheckpointName(v: Long, uuid: String): String = f"$v%020d.checkpoint.$uuid%s.parquet"

  /** The commit file of version `v` of the table at `tablePath`. */
  def commitFile(tablePath: String, v: Long): Path =
    new Path(new Path(tablePath, "_delta_log"), commitName(v))

  /** List the log of the table at `tablePath`; a missing `_delta_log`
    * lists as empty. A catalog-owned table first completes any claimed
    * but unbackfilled commit, so every reader sees an owned commit even
    * inside another writer's claim-then-die window
    * ([[CatalogCommitOwner.recoverTable]]: one directory probe when the
    * table has no `_commits` registry). */
  def read(fs: FileSystem, tablePath: String): LogListing = {
    CatalogCommitOwner.recoverTable(tablePath)
    val logPath = new Path(tablePath, "_delta_log")
    try new LogListing(tablePath, logPath, fs, present = true, fs.listStatus(logPath).toSeq)
    catch { case _: java.io.FileNotFoundException => new LogListing(tablePath, logPath, fs, present = false, Nil) }
  }

  /** [[read]] through `spark`'s Hadoop configuration, refusing a path
    * without a `_delta_log`. */
  def ofTable(spark: SparkSession, tablePath: String): LogListing = {
    val log = read(new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf()), tablePath)
    if (!log.present) throw new IllegalArgumentException(s"not a Delta table (no _delta_log): $tablePath")
    log
  }
}
