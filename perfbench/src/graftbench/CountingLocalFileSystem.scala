package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with call counters, installed for traced runs via
  * `spark.hadoop.fs.file.impl` (Hadoop's own statistics read 0 ops for
  * `file:`). Counts calls made through this instance's public API, on the
  * driver and in local-mode tasks alike. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { opens.incrementAndGet(); super.open(f, bufferSize) }
  override def exists(f: Path): Boolean = { existss.incrementAndGet(); super.exists(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { renames.incrementAndGet(); super.rename(src, dst) }
}

object CountingLocalFileSystem {
  val lists, opens, existss, creates, renames = new AtomicLong()
  val Names: Seq[String] = Seq("list", "open", "exists", "create", "rename")

  /** Current totals, in the order of [[Names]]. */
  def snapshot(): Array[Long] =
    Array(lists.get, opens.get, existss.get, creates.get, renames.get)
}
