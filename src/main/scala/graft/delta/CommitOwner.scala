package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

/** The commit-ownership seam (VERDICT r12 #7 stretch — the Delta 4.x
  * "coordinated commits" direction): WHO arbitrates a table's next version
  * is pluggable. The default owner is the filesystem itself — the
  * [[LogStore]] claim on `<version>.json` (rename-atomicity or conditional
  * PUT). A CATALOG-owned table instead routes every commit through the
  * catalog's commit endpoint: writers never race on the log file; they
  * stage the commit body unconditionally and ask the owner for the
  * version, and the owner publishes (backfills) the winning body into the
  * log for plain-log readers.
  */
trait CommitOwner {
  /** Commit `lines` as `<version>.json` of the table whose log dir is
    * `logDir`. Must be ATOMIC per version across processes: exactly one
    * caller returns normally; every other racer gets
    * [[DeltaWriter.CommitConflictException]]. */
  def commit(fs: FileSystem, logDir: Path, version: Long,
             lines: Iterator[String]): Unit
}

object CommitOwner {
  /** Owner selection through config, same pattern as `graft.logStore`:
    * `-Dgraft.commitOwner=catalog` routes every commit in the JVM through
    * [[CatalogCommitOwner]]; the default keeps the LogStore claim. */
  def forName(name: String): CommitOwner = name match {
    case "logstore" => LogStoreOwner
    case "catalog" => CatalogCommitOwner
    case other => throw new IllegalArgumentException(
      s"unknown graft.commitOwner '$other' (expected logstore|catalog)")
  }

  def fromConfig(): CommitOwner =
    forName(sys.props.getOrElse("graft.commitOwner", "logstore"))
}

/** Filesystem-owned commits: the claim IS the LogStore conditional write
  * of `<version>.json` — the classic Delta protocol. */
object LogStoreOwner extends CommitOwner {
  override def commit(fs: FileSystem, logDir: Path, version: Long,
                      lines: Iterator[String]): Unit =
    DeltaWriter.logStore.putIfAbsent(
      fs, new Path(logDir, LogListing.commitName(version)), lines)
}

/** Catalog-owned commits — the coordinated-commits protocol shape, scoped
  * to what a filesystem can host (the catalog "endpoint" is the table's
  * `_delta_log/_commits/` registry, which is exactly where delta-spark's
  * coordinated-commits tables keep their staged commits):
  *
  *  1. STAGE, unconditionally: the full commit body lands as
  *     `_commits/<v>.<uuid>.json` — uuid-unique, so racers never collide
  *     here, and a reader never sees a partial `<v>.json`.
  *  2. CLAIM at the owner: ONE atomic link(2) publishes
  *     `_commits/<v>.claim` whose CONTENT is the winning uuid — the
  *     owner's commit record. Losers get the typed conflict and delete
  *     their own staged body.
  *  3. BACKFILL: the winner publishes `<v>.json` as a hard link of its
  *     staged body — plain-log readers (this engine's snapshot reader,
  *     delta-standalone, DuckDB's read_json oracle) see the normal log.
  *
  * Crash windows, and why none lose a commit:
  *  - die mid-stage: no claim exists; the orphan body is age-swept.
  *  - die between claim and backfill: the commit IS decided (the claim
  *    names the body). Every subsequent owner operation — any writer's
  *    next commit, or a catalog read — runs [[recover]] first, which
  *    completes the backfill from the registry. A racer trying the same
  *    version meanwhile loses the claim, recovers the winner's backfill,
  *    re-resolves, and retries at the next version — livelock-free.
  *  - die after backfill: nothing pending; recovery is a no-op.
  *
  * Like [[ObjectStoreLogStore]], only the `file:` emulation exists here;
  * a real deployment implements the claim against the catalog service
  * (e.g. a conditional INSERT on a commits table), and refusing other
  * schemes loudly beats a silently-racy fallback. */
object CatalogCommitOwner extends CommitOwner {

  private val logger = org.apache.logging.log4j.LogManager.getLogger(getClass)

  val CommitsDirName = "_commits"

  /** A `<v>.json` exists whose content differs from the body the catalog's
    * claim decided: a non-conformant writer bypassed the owner (published
    * through the raw LogStore while the catalog arbitrated the same
    * version). The decided commit body can no longer be published — this
    * is a LOST UPDATE unless a human reconciles, so it must scream, never
    * return success or silently skip (ADVICE r13). Prevent it by declaring
    * ownership in table state (`graft.commitOwner=catalog` configuration),
    * which routes every conformant writer here. */
  final class OwnerBypassException(msg: String) extends IllegalStateException(msg)

  private def nioLogDir(fs: FileSystem, logDir: Path): java.nio.file.Path = {
    val scheme = Option(logDir.toUri.getScheme).getOrElse(fs.getScheme)
    if (scheme != "file")
      throw new UnsupportedOperationException(
        s"CatalogCommitOwner has no commit endpoint for scheme '$scheme'; " +
          "only the file: emulation is implemented here")
    Paths.get(logDir.toUri.getPath)
  }

  override def commit(fs: FileSystem, logDir: Path, version: Long,
                      lines: Iterator[String]): Unit = {
    val log = nioLogDir(fs, logDir)
    val commits = log.resolve(CommitsDirName)
    Files.createDirectories(commits)
    // finish anything a dead winner left undecided BEFORE claiming: this
    // is what makes the claim-then-die window livelock-free for racers
    recover(log)
    // 1. stage the complete body under a race-free unique name
    val uuid = UUID.randomUUID().toString.take(12)
    val staged = commits.resolve(f"$version%020d.$uuid.json")
    val w = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    // 2. one atomic claim: link(2) of a body naming the winning uuid
    val claimTmp = commits.resolve(s".claim-$uuid.tmp")
    Files.write(claimTmp, uuid.getBytes(StandardCharsets.UTF_8))
    try {
      try Files.createLink(commits.resolve(f"$version%020d.claim"), claimTmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(staged) // loser's body: unreferenced, reclaim now
          throw new DeltaWriter.CommitConflictException(
            s"concurrent commit: catalog owner already recorded v$version " +
              s"for ${logDir.getParent}")
      }
    } finally Files.deleteIfExists(claimTmp)
    // Crash injection (ConcurrencyDrillSpec's SIGKILL drill): die HERE —
    // commit decided at the owner, nothing published to the plain log.
    // The only honest way to exercise the claim-then-die window with a
    // real process death inside the real commit path; never set outside
    // tests.
    if (sys.props.get("graft.test.dieAfterClaim").contains("true"))
      Runtime.getRuntime.halt(137)
    // 3. publish to the plain log (idempotent; recover() redoes it if we die)
    backfill(log, version, uuid)
  }

  private def backfill(log: java.nio.file.Path, version: Long, uuid: String): Unit = {
    val target = log.resolve(LogListing.commitName(version))
    val staged = log.resolve(CommitsDirName).resolve(f"$version%020d.$uuid.json")
    if (!Files.exists(target)) {
      try Files.createLink(target, staged)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    // target now exists — either our hard link (same inode / same bytes;
    // recovery re-entering is a no-op) or a FOREIGN body that won a raw
    // LogStore race against the catalog's decision. Same-content is fine;
    // different content is a lost update and must be loud.
    if (Files.exists(staged) && !sameContent(target, staged))
      throw new OwnerBypassException(
        s"catalog-owned commit v$version at ${log.getParent}: ${target.getFileName} " +
          "already exists with DIFFERENT content than the claimed commit body " +
          s"($CommitsDirName/${staged.getFileName}) — a writer bypassed the commit " +
          "owner (raw LogStore publish); the claimed body is NOT published. " +
          "Declare ownership in table state (graft.commitOwner=catalog) so every " +
          "writer routes through the owner, and reconcile the divergent commit.")
  }

  /** Byte equality via size-then-content compare (commit bodies are small;
    * the hard-link fast path short-circuits on identical inode). */
  private def sameContent(a: java.nio.file.Path, b: java.nio.file.Path): Boolean =
    try {
      if (Files.isSameFile(a, b)) true
      else if (Files.size(a) != Files.size(b)) false
      else java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))
    } catch { case _: java.io.IOException => false }

  /** The registry's filename grammar — shared with
    * [[DeltaWriter.cleanupLog]] so retention can never drift from what
    * the owner actually writes (code-review r13). */
  private[delta] val claimRe = """(\d{20})\.claim""".r
  private[delta] val stagedRe = """(\d{20})\.([0-9a-f-]+)\.json""".r

  /** Complete every claimed-but-unbackfilled commit, and age-sweep staged
    * bodies whose version is already published (losers, dead stagers, and
    * the winner's hard-linked original — all safe to drop once `<v>.json`
    * exists). Idempotent; called before every owner commit and by the
    * catalog read path.
    *
    * Pending commits only ever sit at the HEAD of history, so recovery
    * backfills only claims ABOVE the newest published `<v>.json`: a claim
    * below it whose json is gone was retention-cleaned
    * ([[DeltaWriter.cleanupLog]] deletes commits under the checkpoint
    * floor) — resurrecting it would undo the cleanup, and its staged body
    * may already be swept (a raw link() there would brick every
    * subsequent owner operation with NoSuchFileException). */
  def recover(log: java.nio.file.Path): Unit = {
    val commits = log.resolve(CommitsDirName)
    if (!Files.isDirectory(commits)) return
    def list(dir: java.nio.file.Path): Seq[String] = {
      val ds = Files.newDirectoryStream(dir)
      try {
        val b = Seq.newBuilder[String]
        ds.forEach(p => b += p.getFileName.toString)
        b.result()
      } finally ds.close()
    }
    val names = list(commits)
    val maxPublished = list(log).flatMap(LogListing.commitVersionOf).foldLeft(-1L)(math.max)
    names.foreach {
      case claimRe(v) =>
        try {
          val uuid = new String(
            Files.readAllBytes(commits.resolve(s"$v.claim")), StandardCharsets.UTF_8).trim
          if (v.toLong > maxPublished) backfill(log, v.toLong, uuid)
          else {
            // already-published version: never resurrect (retention may
            // have cleaned it), but while the claimed body still exists it
            // must MATCH the published `<v>.json` — divergence means a
            // bypassing writer published over the owner's decision and
            // the decided body was silently dropped (ADVICE r13)
            val target = log.resolve(s"$v.json")
            val staged = commits.resolve(s"$v.$uuid.json")
            if (Files.exists(target) && Files.exists(staged) &&
                !sameContent(target, staged))
              throw new OwnerBypassException(
                s"catalog-owned table at ${log.getParent}: published $v.json " +
                  s"differs from the body the owner's claim decided " +
                  s"($CommitsDirName/$v.$uuid.json) — a writer bypassed the " +
                  "commit owner; reconcile the divergent commit. Declare " +
                  "ownership in table state (graft.commitOwner=catalog) so " +
                  "every writer routes through the owner.")
          }
        } catch {
          case e: OwnerBypassException => throw e // a lost update stays loud
          case e: Exception => // a torn registry entry must not brick the owner
            logger.warn(s"owner recovery skipped v$v at $log: " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      case _ => ()
    }
    val cutoff = System.currentTimeMillis() - ObjectStoreLogStore.StaleTmpMs
    def sweepAged(n: String): Unit = {
      val p = commits.resolve(n)
      try {
        if (Files.getLastModifiedTime(p).toMillis < cutoff)
          Files.deleteIfExists(p)
      } catch { case _: Exception => () }
    }
    names.foreach {
      case n @ stagedRe(v, _) if Files.exists(log.resolve(s"$v.json")) =>
        sweepAged(n)
      case n if n.startsWith(".claim-") && n.endsWith(".tmp") =>
        sweepAged(n) // a writer dead mid-claim leaves its dot-temp
      case _ => ()
    }
  }

  /** Catalog read-path hook: a coordinator-aware reader completes pending
    * backfills before resolving a snapshot, so catalog readers see every
    * OWNED commit even inside another writer's claim-then-die window.
    * The table path may arrive in URI form (`file:/...` catalog roots) —
    * normalize through Hadoop's Path, same as the commit path does; a
    * non-file scheme has no local registry to recover and is a no-op. */
  def recoverTable(tablePath: String): Unit = {
    val hp = new Path(tablePath, "_delta_log")
    val scheme = Option(hp.toUri.getScheme)
    if (scheme.forall(_ == "file")) {
      val log = Paths.get(hp.toUri.getPath)
      if (Files.isDirectory(log)) recover(log)
    }
  }
}
