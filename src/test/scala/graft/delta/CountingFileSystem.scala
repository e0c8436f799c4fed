package graft.delta

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** The local `file:` file system (a checksum wrapper over
  * `RawLocalFileSystem`) with counters for the `listStatus`, `exists` and
  * `open` calls made on paths under a `_delta_log` directory. Hadoop's own
  * statistics read 0 for `file:`. Installed per session by [[CountingFileSystem.count]];
  * it writes and reads the same bytes and checksum sidecars as the default
  * `file:` file system, so the tables it touches stay readable without it. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def onLog(f: Path): Boolean = f.toUri.getPath.contains("/_delta_log")

  override def listStatus(f: Path): Array[FileStatus] = {
    if (onLog(f)) lists.incrementAndGet()
    super.listStatus(f)
  }
  override def exists(f: Path): Boolean = {
    if (onLog(f)) existss.incrementAndGet()
    super.exists(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (onLog(f)) { opens.incrementAndGet(); opened.add(f.getName) }
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  private val lists, existss, opens = new AtomicLong()
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** `_delta_log` calls of one body, and the names of the files it opened. */
  final case class Calls(listStatus: Long, exists: Long, open: Long, opened: Seq[String])

  /** `body`'s result and the `_delta_log` calls it made through the
    * session's Hadoop configurations (the driver's and, in local mode,
    * its tasks'). The file system is not cached while counting, so every
    * `getFileSystem` of that configuration returns a counting instance. */
  def count[A](spark: SparkSession)(body: => A): (A, Calls) = synchronized {
    val keys = Seq("fs.file.impl" -> classOf[CountingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    Seq(lists, existss, opens).foreach(_.set(0))
    opened.clear()
    try {
      val a = body
      import scala.jdk.CollectionConverters._
      (a, Calls(lists.get, existss.get, opens.get, opened.asScala.toSeq))
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
