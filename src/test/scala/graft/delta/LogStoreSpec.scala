package graft.delta

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The commit-claim seam ([[LogStore]]): every writer commit routes through
  * `DeltaWriter.logStore.putIfAbsent`, whose contract is "publish IFF
  * absent, atomically". These specs drive the exact check-to-publish window
  * that an object store without conditional PUT gets wrong:
  *
  *  1. a foreign writer landing INSIDE the window makes this writer's claim
  *     throw CommitConflictException, and the optimistic-concurrency loop
  *     retries cleanly at the next version — exactly one writer wins each
  *     version, nothing is lost;
  *  2. with a deliberately NON-atomic store (plain overwrite PUT, the naive
  *     S3 translation) the same interleaving silently loses the foreign
  *     commit — proving the putIfAbsent contract is load-bearing, not
  *     ceremonial (why production object stores need conditional PUT, as
  *     the writer's docstring and Delta's own LogStore requirement state);
  *  3. DML / maintenance / streaming-sink commits all route through the
  *     installed store (the seam covers every commit path, so swapping in
  *     an object-store implementation changes table semantics wholesale).
  */
class LogStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  /** Counts claim attempts/conflicts; before the FIRST attempt on version
    * `sabotageVersion`, writes a foreign commit at the target — simulating
    * a concurrent driver winning the race inside the claim window (the
    * writer has already resolved the snapshot and written its data files,
    * the most adversarial possible timing). */
  private final class ForeignWinnerStore(sabotageVersion: Long,
                                         delegate: LogStore = HadoopRenameLogStore)
      extends LogStore {
    val attempts = new AtomicInteger(0)
    val conflicts = new AtomicInteger(0)
    private val sabotaged = new AtomicInteger(0)

    override def putIfAbsent(fs: FileSystem, target: Path,
                             lines: Iterator[String]): Unit = {
      attempts.incrementAndGet()
      val name = f"$sabotageVersion%020d.json"
      if (target.getName == name && sabotaged.compareAndSet(0, 1)) {
        // the foreign winner: an empty append claimed by another driver
        val out = fs.create(target, false)
        out.write("{\"commitInfo\":{\"operation\":\"FOREIGN\"}}\n"
          .getBytes(StandardCharsets.UTF_8))
        out.close()
      }
      try delegate.putIfAbsent(fs, target, lines)
      catch {
        case e: DeltaWriter.CommitConflictException =>
          conflicts.incrementAndGet(); throw e
      }
    }
  }

  test("foreign winner inside the claim window: loser retries, nothing lost") {
    val t = freshDir("race")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0

    val store = new ForeignWinnerStore(sabotageVersion = 1L)
    val landed = DeltaWriter.withLogStore(store) {
      DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)
    }
    // the claim at v1 lost to the foreign commit; the retry re-resolved
    // the snapshot (now v1) and won v2
    assert(store.conflicts.get() == 1, s"expected exactly one lost claim, got ${store.conflicts.get()}")
    assert(store.attempts.get() == 2, s"expected claim + one retry, got ${store.attempts.get()}")
    assert(landed == 2L, s"retry must land at version 2, got $landed")
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "both this writer's rows and the pre-race row must survive")
    // exactly one winner per version: log files 0, 1 (foreign), 2 — no gaps,
    // no duplicates, no leftover temp files from the lost claim
    val logDir = new java.io.File(t, "_delta_log")
    val commits = logDir.listFiles().map(_.getName)
      .filter(_.matches("\\d{20}\\.json")).sorted.toSeq
    assert(commits == Seq(f"${0L}%020d.json", f"${1L}%020d.json", f"${2L}%020d.json"))
    assert(!logDir.listFiles().exists(_.getName.endsWith(".tmp")),
      "lost claim must clean up its temp file")
  }

  /** The naive object-store translation: unconditional overwrite PUT after
    * a separate exists() check — NOT atomic. */
  private final class NonAtomicPutStore(sabotageVersion: Long)
      extends LogStore {
    private val sabotaged = new AtomicInteger(0)
    override def putIfAbsent(fs: FileSystem, target: Path,
                             lines: Iterator[String]): Unit = {
      if (fs.exists(target))
        throw new DeltaWriter.CommitConflictException(s"$target exists")
      // window between check and publish: the foreign winner lands here
      if (target.getName == f"$sabotageVersion%020d.json" &&
          sabotaged.compareAndSet(0, 1)) {
        val out = fs.create(target, true)
        out.write("{\"commitInfo\":{\"operation\":\"FOREIGN\"}}\n"
          .getBytes(StandardCharsets.UTF_8))
        out.close()
      }
      val out = fs.create(target, true) // overwrite PUT — the bug
      try lines.foreach { l =>
        out.write(l.getBytes(StandardCharsets.UTF_8)); out.write('\n')
      } finally out.close()
    }
  }

  test("non-atomic overwrite PUT silently loses the concurrent commit (why the contract matters)") {
    val t = freshDir("lost")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    DeltaWriter.withLogStore(new NonAtomicPutStore(sabotageVersion = 1L)) {
      DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)
    }
    DeltaSnapshotReader.invalidate(t)
    // the foreign v1 was overwritten — a LOST UPDATE the writer never saw.
    // This assertion documents the failure mode the atomic contract
    // prevents; if it ever starts failing, the store under test stopped
    // being non-atomic and the spec needs a harder sabotage.
    val logDir = new java.io.File(t, "_delta_log")
    val v1 = new String(java.nio.file.Files.readAllBytes(
      logDir.toPath.resolve(f"${1L}%020d.json")), StandardCharsets.UTF_8)
    assert(!v1.contains("FOREIGN"),
      "non-atomic PUT must have clobbered the foreign commit (lost update)")
  }

  /** Pass-through store that counts every commit claim. */
  private final class CountingStore extends LogStore {
    val claims = new AtomicInteger(0)
    override def putIfAbsent(fs: FileSystem, target: Path,
                             lines: Iterator[String]): Unit = {
      claims.incrementAndGet()
      HadoopRenameLogStore.putIfAbsent(fs, target, lines)
    }
  }

  test("object store: foreign winner inside the claim window — conditional create arbitrates") {
    // the same most-adversarial race as the rename test, but through the
    // rename-free conditional-put protocol: the loser's claim must lose
    // to the ALREADY-PRESENT object (no pre-check is consulted — the
    // create itself is the authority, exactly S3 If-None-Match)
    val t = freshDir("osrace")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    val store = new ForeignWinnerStore(sabotageVersion = 1L,
      delegate = new ObjectStoreLogStore())
    val landed = DeltaWriter.withLogStore(store) {
      DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)
    }
    assert(store.conflicts.get() == 1 && store.attempts.get() == 2 && landed == 2L)
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // a PUT-based store leaves NO temp artifacts in the log dir at all
    val names = new java.io.File(t, "_delta_log").listFiles().map(_.getName)
    assert(names.forall(n => n.matches("\\d{20}\\.json") || n.endsWith(".crc")),
      s"non-commit artifacts in the log dir: ${names.mkString(",")}")
  }

  test("object store: crash before claim publishes nothing; the version stays claimable") {
    val t = freshDir("oscrash1")
    DeltaWriter.withLogStore(new ObjectStoreLogStore()) {
      DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    }
    val crash = new ObjectStoreLogStore(new ObjectStoreLogStore.Faults {
      override def beforeClaim(target: Path): Unit =
        throw new java.io.IOException("simulated writer death before the claim")
    })
    intercept[java.io.IOException] {
      DeltaWriter.withLogStore(crash)(
        DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil))
    }
    assert(!new java.io.File(t, s"_delta_log/${f"${1L}%020d"}.json").exists(),
      "a pre-claim crash must publish nothing")
    // v1 is still claimable: a healthy writer lands there
    DeltaSnapshotReader.invalidate(t)
    val v = DeltaWriter.withLogStore(new ObjectStoreLogStore()) {
      DeltaWriter.write(Seq((3L, "c")).toDF("id", "v"), t, Nil)
    }
    assert(v == 1L, s"healthy writer must claim the freed v1, got $v")
  }

  test("object store: put-then-crash — the commit is durable, history continues past the dead writer") {
    val t = freshDir("oscrash2")
    DeltaWriter.withLogStore(new ObjectStoreLogStore()) {
      DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    }
    val crash = new ObjectStoreLogStore(new ObjectStoreLogStore.Faults {
      override def afterPut(target: Path): Unit =
        throw new RuntimeException("simulated driver death after the durable PUT")
    })
    intercept[RuntimeException] {
      DeltaWriter.withLogStore(crash)(
        DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil))
    }
    // the PUT was durable: the crashed writer's rows ARE the table's v1
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "a post-PUT crash must not lose the durable commit")
    // and the next healthy writer continues at v2 — gapless
    val v = DeltaWriter.withLogStore(new ObjectStoreLogStore()) {
      DeltaWriter.write(Seq((3L, "c")).toDF("id", "v"), t, Nil)
    }
    assert(v == 2L, s"history must continue at v2, got $v")
  }

  test("object store: stale LIST (visible-after-delay) — the claim, not the listing, is the authority") {
    // the classic object-store hazard: a writer resolves its snapshot from
    // a LISTING that has not yet surfaced the newest commit (S3's old
    // eventual consistency; any cached metadata layer today). Emulated
    // exactly: the local snapshot CACHE is primed at v0, a foreign winner
    // lands v1 directly through the store (invisible to the cache), and
    // the local writer commits against its stale view. The conditional
    // create — never a pre-existence check — must arbitrate: the stale
    // claim at v1 loses, the retry re-resolves, and the writer lands at
    // v2 with nothing lost.
    val t = freshDir("osstale")
    val store = new ObjectStoreLogStore()
    DeltaWriter.withLogStore(store) {
      DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    }
    DeltaSnapshotReader.invalidate(t)
    DeltaSnapshotReader.snapshot(spark, t) // prime the cache at v0 (the stale LIST)
    val logDir = new Path(new Path(t), "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    store.putIfAbsent(fs, new Path(logDir, f"${1L}%020d.json"),
      Iterator("""{"commitInfo":{"operation":"FOREIGN"}}""")) // invisible to the cache
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)
    }
    assert(v == 2L, s"stale-view writer must lose v1 and land at v2, got $v")
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "nothing lost despite the stale listing")
  }

  test("object store: mid-body failure leaves no partial object (all-or-nothing emulation)") {
    val t = freshDir("osbody")
    DeltaWriter.withLogStore(new ObjectStoreLogStore()) {
      DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    }
    val failOnce = new AtomicInteger(0)
    val flaky = new ObjectStoreLogStore(new ObjectStoreLogStore.Faults {
      override def duringBody(target: Path): Unit =
        if (failOnce.compareAndSet(0, 1))
          throw new java.io.IOException("simulated store IO failure mid-body")
    })
    intercept[java.io.IOException] {
      DeltaWriter.withLogStore(flaky)(
        DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil))
    }
    assert(!new java.io.File(t, s"_delta_log/${f"${1L}%020d"}.json").exists(),
      "a mid-body failure must leave the target absent, never partial")
    // the same flaky store succeeds on retry-by-caller (fault fired once)
    DeltaSnapshotReader.invalidate(t)
    val v = DeltaWriter.withLogStore(flaky) {
      DeltaWriter.write(Seq((3L, "c")).toDF("id", "v"), t, Nil)
    }
    assert(v == 1L)
  }

  test("every commit path routes through the seam: create, DML, maintenance") {
    val t = freshDir("routes")
    val store = new CountingStore
    DeltaWriter.withLogStore(store) {
      DeltaWriter.write((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), t, Nil, "overwrite")
      assert(store.claims.get() == 1, "create must claim through the seam")
      DeltaWriter.update(spark, t, org.apache.spark.sql.functions.expr("id <= 5"),
        Map("v" -> org.apache.spark.sql.functions.lit("upd")))
      assert(store.claims.get() == 2, "UPDATE must claim through the seam")
      DeltaWriter.delete(spark, t, org.apache.spark.sql.functions.expr("id > 45"))
      assert(store.claims.get() == 3, "DELETE must claim through the seam")
      val opt = DeltaWriter.optimize(spark, t, targetBytes = 1024L * 1024 * 1024)
      assert(store.claims.get() == (if (opt.isDefined) 4 else 3),
        "OPTIMIZE must claim through the seam iff it committed")
    }
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 45L)
  }

  test("object store: the next commit sweeps a hard-crashed writer's stale temp; live temps survive") {
    // ADVICE r12: a kill -9 between link(2) and the finally-delete leaves
    // .graft-oslog-*.tmp in _delta_log forever — nothing else ever touches
    // it. The sweep is age-gated so a LIVE writer's in-flight temp is
    // never raced away.
    val t = freshDir("ossweep")
    DeltaWriter.withLogStore(new ObjectStoreLogStore()) {
      DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite")
    }
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    val stale = logDir.resolve(".graft-oslog-deadbeef0000.tmp")
    val live = logDir.resolve(".graft-oslog-cafecafe0000.tmp")
    java.nio.file.Files.write(stale, "orphan".getBytes("UTF-8"))
    java.nio.file.Files.write(live, "inflight".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ObjectStoreLogStore.StaleTmpMs - 60000))
    DeltaWriter.withLogStore(new ObjectStoreLogStore()) {
      DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)
    }
    assert(!java.nio.file.Files.exists(stale), "stale orphan must be swept")
    assert(java.nio.file.Files.exists(live), "a fresh (possibly live) temp must survive")
    java.nio.file.Files.delete(live)
  }

  /** Local filesystem whose rename refuses an existing destination
    * (`refuseAll = false`) or every rename (`refuseAll = true`). */
  private final class RefusingRenameFs(refuseAll: Boolean)
      extends org.apache.hadoop.fs.RawLocalFileSystem {
    initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    override def rename(src: Path, dst: Path): Boolean =
      !refuseAll && !exists(dst) && super.rename(src, dst)
  }

  private def pointerDir(): (java.nio.file.Path, Path) = {
    val dir = Files.createTempDirectory("graft_pointer")
    val p = dir.resolve("_last_checkpoint")
    Files.write(p, "old".getBytes(StandardCharsets.UTF_8))
    (dir, new Path(p.toUri))
  }

  private def listing(dir: java.nio.file.Path): Set[String] =
    dir.toFile.list().toSet

  test("pointer replace succeeds where rename onto an existing file is refused") {
    val (dir, p) = pointerDir()
    LogStore.replace(new RefusingRenameFs(refuseAll = false), p, "new")
    assert(new String(Files.readAllBytes(dir.resolve("_last_checkpoint")), StandardCharsets.UTF_8) == "new")
    assert(listing(dir) == Set("_last_checkpoint"), s"leftovers: ${listing(dir)}")
  }

  test("pointer replace that cannot rename keeps the old file and leaves no temp file") {
    val (dir, p) = pointerDir()
    intercept[java.io.IOException](LogStore.replace(new RefusingRenameFs(refuseAll = true), p, "new"))
    assert(new String(Files.readAllBytes(dir.resolve("_last_checkpoint")), StandardCharsets.UTF_8) == "old")
    assert(listing(dir) == Set("_last_checkpoint"), s"leftovers: ${listing(dir)}")
  }
}
