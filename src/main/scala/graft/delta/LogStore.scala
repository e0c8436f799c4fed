package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets
import java.util.UUID

/** Pluggable version-claim protocol for `_delta_log/<version>.json`.
  *
  * Delta's commit protocol needs exactly one primitive from the storage
  * layer: "publish these bytes at this path IFF nothing exists there,
  * atomically". On HDFS-semantics stores (HDFS, local FS) that primitive
  * is a temp-file write plus no-overwrite rename; on object stores the
  * rename trick does not exist and the primitive must come from a
  * conditional PUT (S3 `If-None-Match`, GCS `ifGenerationMatch=0`, ABFS
  * ETags) or an external coordination table — exactly the LogStore seam
  * Delta itself requires (the reference connector reads S3-resident logs,
  * reference DeltaMetadataHandler.scala:27-28). Every DeltaWriter commit
  * claim routes through [[DeltaWriter.logStore]], so swapping the store
  * swaps the table's commit semantics without touching any writer logic —
  * and lets LogStoreSpec inject a foreign winner into the exact
  * check-to-publish window to prove the retry discipline.
  */
trait LogStore {

  /** Publish `lines` (newline-terminated on write) as `target` IFF no
    * object exists there. MUST be all-or-nothing: a reader may never
    * observe a partial `target`. Throws
    * [[DeltaWriter.CommitConflictException]] when the version is already
    * claimed — the caller re-resolves the snapshot and retries at the
    * next version. Any other failure mode must also leave `target`
    * absent. */
  def putIfAbsent(fs: FileSystem, target: Path, lines: Iterator[String]): Unit
}

object LogStore {
  /** Store selection through config: `-Dgraft.logStore=object` flips every
    * commit claim in the JVM to the conditional-put protocol (the two-JVM
    * ConcurrencyDrill races both ways); default is the rename store whose
    * semantics the local sandbox and HDFS share. */
  def forName(name: String): LogStore = name match {
    case "rename" => HadoopRenameLogStore
    case "object" => new ObjectStoreLogStore()
    case other => throw new IllegalArgumentException(
      s"unknown graft.logStore '$other' (expected rename|object)")
  }

  /** The JVM's configured default store ([[forName]] of `graft.logStore`). */
  def fromConfig(): LogStore =
    forName(sys.props.getOrElse("graft.logStore", "rename"))

  /** Replace the pointer file `p` (`_last_checkpoint`, Iceberg
    * `version-hint.text`) with `content`: write a hidden temp file, then
    * rename it into place — never truncate in place, so a racing reader
    * sees the old or the new bytes, and a hardlink-cloned fixture's shared
    * inode is never truncated. A filesystem that refuses rename onto an
    * existing file gets the old file moved aside first and moved back if
    * the second rename fails: `p` is never left deleted, and the temp file
    * is removed on every failure path. */
  def replace(fs: FileSystem, p: Path, content: String): Unit = {
    val tag = UUID.randomUUID().toString.take(8)
    val tmp = new Path(p.getParent, s".${p.getName}.$tag.tmp")
    var placed = false
    try {
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      placed = fs.rename(tmp, p) || {
        val aside = new Path(p.getParent, s".${p.getName}.$tag.old")
        fs.exists(p) && fs.rename(p, aside) && {
          val ok =
            try fs.rename(tmp, p)
            catch { case scala.util.control.NonFatal(e) => fs.rename(aside, p); throw e }
          if (ok) quietly(fs.delete(aside, false)) else fs.rename(aside, p)
          ok
        }
      }
      if (!placed) throw new java.io.IOException(s"could not replace $p")
    } finally if (!placed) quietly(fs.delete(tmp, false))
  }

  private def quietly(body: => Any): Unit =
    try body catch { case scala.util.control.NonFatal(_) => () }
}

/** HDFS-semantics store: stream to a hidden temp file in the log dir, then
  * one no-overwrite rename. Correct wherever rename is atomic and fails on
  * an existing destination — HDFS and the local FS the sandbox runs on.
  * The pre-rename exists() check is an optimization (skip the temp write
  * when the race is already lost), not the atomicity claim: the rename's
  * no-overwrite failure is what actually decides the winner. */
object HadoopRenameLogStore extends LogStore {
  override def putIfAbsent(fs: FileSystem, target: Path,
                           lines: Iterator[String]): Unit = {
    if (fs.exists(target))
      throw new DeltaWriter.CommitConflictException(
        s"concurrent commit: $target exists")
    val tmp = new Path(target.getParent,
      s".${target.getName}.${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try lines.foreach { l =>
      out.write(l.getBytes(StandardCharsets.UTF_8)); out.write('\n')
    } catch {
      case t: Throwable => out.close(); fs.delete(tmp, false); throw t
    }
    out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new DeltaWriter.CommitConflictException(
        s"commit rename failed for $target")
    }
  }
}

/** Object-store-semantics commit claim: one conditional PUT, NO rename.
  *
  * On S3/GCS/ABFS — the reference's deployment world (reference
  * Config.scala:4, DeltaMetadataHandler.scala:27-28) — the atomic
  * no-overwrite rename that [[HadoopRenameLogStore]] builds on does not
  * exist; the primitive the store offers instead is an atomic CONDITIONAL
  * CREATE (S3 `If-None-Match: *` PUT, GCS `ifGenerationMatch=0`, ABFS
  * ETag `If-None-Match`). This store is that protocol, emulated faithfully
  * on the sandbox filesystems:
  *
  *  - the commit body is assembled IN FULL and INVISIBLY first (a
  *    dot-file readers ignore, streamed so a commit's streamed tail
  *    keeps its bounded-memory discipline for table-sized commits) — an
  *    object PUT ships complete bytes, so at no point may a concurrent
  *    log replay observe an empty or truncated commit;
  *  - ONE atomic claim-and-publish decides the winner: `link(2)` fails
  *    with EEXIST when the version is already taken and otherwise makes
  *    the COMPLETE body visible in a single syscall — the kernel's
  *    conditional PUT. No rename anywhere; Hadoop's LocalFileSystem
  *    `create(overwrite=false)` (a racy check-then-create) and a
  *    stream-into-the-claimed-name (a visible partial-commit window) are
  *    both deliberately NOT used;
  *  - NO pre-existence check gates the claim: object-store LISTs can be
  *    stale (visible-after-delay), so a listing is never the authority —
  *    a writer that resolved a stale snapshot simply LOSES the claim and
  *    goes through the normal conflict-checked retry;
  *  - a mid-body failure publishes NOTHING (the body never reached the
  *    claimed name), matching a failed PUT exactly;
  *  - non-`file:` schemes REFUSE loudly: each real object store needs its
  *    native conditional-PUT client (S3 `If-None-Match`, GCS
  *    `ifGenerationMatch`, ABFS ETags) — silently falling back to
  *    Hadoop's racy create would be the lost-update bug this store
  *    exists to prevent (delta's own per-scheme LogStore rule).
  *
  * [[ObjectStoreLogStore.Faults]] is the injectable failure seam the
  * specs drive: crash BEFORE the claim (nothing published, the version
  * stays claimable by anyone), crash AFTER the put (the commit is durable
  * — history continues past the dead writer), and a mid-body IO failure
  * (nothing visible). */
final class ObjectStoreLogStore(faults: ObjectStoreLogStore.Faults)
    extends LogStore {
  def this() = this(ObjectStoreLogStore.NoFaults)

  override def putIfAbsent(fs: FileSystem, target: Path,
                           lines: Iterator[String]): Unit = {
    val scheme = Option(target.toUri.getScheme).getOrElse(fs.getScheme)
    // Each backing store must supply its NATIVE conditional-PUT primitive;
    // defaulting unknown schemes to Hadoop's create(overwrite=false) would
    // be a silent lost-update bug on exactly the stores this class is for
    // (s3a's create does a HEAD check at open and uploads at close — two
    // racing writers both "succeed" and the last PUT wins). Refusing is
    // the honest contract: an S3/GCS deployment plugs in a client that
    // speaks If-None-Match / ifGenerationMatch; the sandbox implements
    // the file: emulation below.
    if (scheme != "file")
      throw new UnsupportedOperationException(
        s"ObjectStoreLogStore has no conditional-PUT client for scheme '" +
          s"$scheme' (needs S3 If-None-Match / GCS ifGenerationMatch / " +
          "ABFS ETag); only the file: emulation is implemented here")
    val p = java.nio.file.Paths.get(target.toUri.getPath)
    java.nio.file.Files.createDirectories(p.getParent)
    // 0. sweep orphaned temps (ADVICE r12): a hard JVM kill between the
    //    link(2) claim and the finally-delete — or mid-body — leaves that
    //    writer's invisible dot-temp in the log dir FOREVER (no later
    //    step touches it, and readers rightly ignore dot-files). Any
    //    .graft-oslog-*.tmp older than [[ObjectStoreLogStore.StaleTmpMs]]
    //    cannot belong to an in-flight claim (bodies assemble in
    //    milliseconds; the age gate keeps us from racing a LIVE writer's
    //    temp), so each commit deletes such orphans best-effort.
    try {
      val cutoff = System.currentTimeMillis() - ObjectStoreLogStore.StaleTmpMs
      val ds = java.nio.file.Files.newDirectoryStream(p.getParent, ".graft-oslog-*.tmp")
      try ds.forEach { f =>
        try {
          if (java.nio.file.Files.getLastModifiedTime(f).toMillis < cutoff)
            java.nio.file.Files.deleteIfExists(f)
        } catch { case _: Exception => () }
      } finally ds.close()
    } catch { case _: Exception => () }
    // 1. assemble the FULL PUT body first, INVISIBLY (a dot-file in the
    //    log dir: same filesystem as the target — readers ignore it, and
    //    an object PUT ships complete bytes; streaming straight into the
    //    claimed name would expose an empty-then-partial commit to a
    //    concurrent log replay, a window a real PUT cannot have)
    val tmp = p.resolveSibling(
      s".graft-oslog-${UUID.randomUUID().toString.take(12)}.tmp")
    try {
      val w = java.nio.file.Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      try {
        faults.duringBody(target)
        lines.foreach { l => w.write(l); w.write('\n') }
      } finally w.close()
      faults.beforeClaim(target)
      // 2. ONE atomic claim-and-publish: link(2) fails with EEXIST when
      //    the version is taken and otherwise makes the COMPLETE body
      //    visible in a single syscall — the kernel's conditional PUT.
      //    No rename, no pre-existence check as authority.
      try java.nio.file.Files.createLink(p, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new DeltaWriter.CommitConflictException(
            s"concurrent commit: conditional create lost for $target")
      }
      faults.afterPut(target)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}

object ObjectStoreLogStore {
  /** Age past which an orphaned `.graft-oslog-*.tmp` is certainly not an
    * in-flight claim (bodies assemble in milliseconds) and gets swept by
    * the next commit. Generous on purpose: sweeping a LIVE writer's temp
    * would fail its claim spuriously; carrying an orphan for up to an
    * hour costs a few KB. */
  val StaleTmpMs: Long = 60L * 60 * 1000

  /** Injectable failure windows (test seam; every hook defaults to a
    * no-op). Each hook may throw to simulate the writer dying — or the
    * store failing — at that exact point in the claim protocol. */
  trait Faults {
    /** Before the conditional create: a crash here published NOTHING —
      * the version remains claimable by any writer. */
    def beforeClaim(target: Path): Unit = ()
    /** While the body is being assembled (still invisible to readers):
      * an IO failure here must publish NOTHING at the claimed name. */
    def duringBody(target: Path): Unit = ()
    /** After the put is durable: a crash here is put-then-crash — the
      * commit must survive the dead writer. */
    def afterPut(target: Path): Unit = ()
  }
  object NoFaults extends Faults
}
