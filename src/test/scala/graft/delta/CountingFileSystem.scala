package graft.delta

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** The local `file:` file system (a checksum wrapper over
  * `RawLocalFileSystem`) with counters for the `listStatus`, `exists` and
  * `open` calls made on paths under a `_delta_log` directory, and a record
  * of every file and directory created, every rename, and every directory
  * listed outside `_delta_log`. Hadoop's own statistics read 0
  * for `file:`. Installed per session by [[CountingFileSystem.count]]; it
  * writes and reads the same bytes and checksum sidecars as the default
  * `file:` file system, so the tables it touches stay readable without it. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def onLog(f: Path): Boolean = f.toUri.getPath.contains("/_delta_log")
  private def listing(f: Path): Unit = if (!onLog(f)) listedData.add(f.toUri.getPath)

  override def listStatus(f: Path): Array[FileStatus] = {
    if (onLog(f)) lists.incrementAndGet()
    listing(f)
    super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    listing(f)
    super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    listing(f)
    super.listStatusIterator(f)
  }
  override def exists(f: Path): Boolean = {
    if (onLog(f)) existss.incrementAndGet()
    super.exists(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (onLog(f)) { opens.incrementAndGet(); opened.add(f.getName) }
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    created.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    created.add(f.toUri.getPath)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = {
    madeDirs.add(f.toUri.getPath)
    super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    madeDirs.add(f.toUri.getPath)
    super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renamed.add(src.toUri.getPath -> dst.toUri.getPath)
    super.rename(src, dst)
  }
}

object CountingFileSystem {
  private val lists, existss, opens = new AtomicLong()
  private val opened, created, madeDirs, listedData = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val renamed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** `_delta_log` calls of one body and the names of the files it opened;
    * the files and directories it created (a directory once per `mkdirs`
    * call), the paths it renamed (source, target) and the directories it
    * listed outside `_delta_log`. */
  final case class Calls(listStatus: Long, exists: Long, open: Long, opened: Seq[String],
                         created: Seq[String], madeDirs: Seq[String], renamed: Seq[(String, String)],
                         listedData: Seq[String]) {
    override def toString: String =
      s"Calls(_delta_log: listStatus $listStatus, exists $exists, open $open ${opened.mkString("[", ",", "]")}; " +
        s"files created ${created.size}, mkdirs ${madeDirs.size}, renames ${renamed.size}, " +
        s"listings outside _delta_log ${listedData.size})"
  }

  /** `body`'s result and the calls it made through the session's Hadoop
    * configurations (the driver's and, in local mode, its tasks'). The
    * file system is not cached while counting, so every `getFileSystem`
    * of that configuration returns a counting instance. */
  def count[A](spark: SparkSession)(body: => A): (A, Calls) = synchronized {
    val keys = Seq("fs.file.impl" -> classOf[CountingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    Seq(lists, existss, opens).foreach(_.set(0))
    Seq(opened, created, madeDirs, listedData).foreach(_.clear())
    renamed.clear()
    try {
      val a = body
      import scala.jdk.CollectionConverters._
      (a, Calls(lists.get, existss.get, opens.get, opened.asScala.toSeq, created.asScala.toSeq,
        madeDirs.asScala.toSeq, renamed.asScala.toSeq, listedData.asScala.toSeq))
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
