package graft.delta

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

/** Delta's per-operation conflict matrix ([[ConflictChecker]]): a DML /
  * maintenance commit that loses the version race examines the winning
  * commits and either RE-COMMITS (logically disjoint — e.g. an append on a
  * partition the DELETE never read, or any append racing an OPTIMIZE) or
  * aborts with the TYPED concurrency error (append into the read scope,
  * delete/delete on the same file, metadata/protocol change). The foreign
  * winner is injected through the [[LogStore]] seam INSIDE the loser's
  * claim window — the most adversarial timing: the loser has resolved its
  * snapshot and already written its data files.
  *
  * | loser \ winner      | blind append      | append in read scope | remove of read/removed file | metadata/protocol |
  * |---------------------|-------------------|----------------------|-----------------------------|-------------------|
  * | DELETE (part-scoped)| retries, commits  | ConcurrentAppend     | ConcurrentDelete{Read,Delete}| Metadata/Protocol |
  * | DELETE (data pred)  | ConcurrentAppend  | ConcurrentAppend     | "                           | "                 |
  * | MERGE               | ConcurrentAppend  | ConcurrentAppend     | "                           | "                 |
  * | OPTIMIZE            | retries, commits  | retries, commits     | ConcurrentDeleteRead        | "                 |
  */
class ConflictMatrixSpec extends SparkSpec {
  import spark.implicits._
  import ConflictChecker._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_cm_$tag").toString + "/t"

  /** Partitioned table: ids 0-9 over p∈{0,1}, one file per partition. */
  private def mkPartitioned(): String = {
    val t = freshDir("p")
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i", i % 2)).toDF("id", "s", "p")
      .repartition(1), t, partitionBy = Seq("p"))
    t
  }

  /** A REAL foreign append: writes a genuine parquet data file into the
    * table and returns the commit lines that add it — so post-retry reads
    * stay valid, exactly as a concurrent driver's append would be. */
  private def foreignAppend(t: String, df: DataFrame, pv: Map[String, String],
                            dataChange: Boolean = true): Seq[String] = {
    val tmp = Files.createTempDirectory("graft_cm_fadd").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val rel = s"foreign-${UUID.randomUUID().toString.take(8)}.parquet"
    val dst = new File(t, rel)
    Files.copy(part.toPath, dst.toPath)
    val pvJson = pv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    Seq("""{"commitInfo":{"operation":"FOREIGN WRITE"}}""",
      s"""{"add":{"path":"$rel","partitionValues":$pvJson,"size":${dst.length()},"modificationTime":${dst.lastModified()},"dataChange":$dataChange}}""")
  }

  /** Injects `winners` as the winning commits at `version`, `version + 1`,
    * …, once, immediately before the loser's claim — then delegates to the
    * real store. */
  private final class InjectingStore(version: Long, winners: Seq[String]*) extends LogStore {
    val conflicts = new AtomicInteger(0)
    private val done = new AtomicInteger(0)
    override def putIfAbsent(fs: FileSystem, target: Path,
                             it: Iterator[String]): Unit = {
      if (target.getName == f"$version%020d.json" && done.compareAndSet(0, 1))
        winners.zipWithIndex.foreach { case (lines, i) =>
          writeCommit(fs, new Path(target.getParent, f"${version + i}%020d.json"), lines)
        }
      try HadoopRenameLogStore.putIfAbsent(fs, target, it)
      catch {
        case e: DeltaWriter.CommitConflictException =>
          conflicts.incrementAndGet(); throw e
      }
    }
  }

  private def writeCommit(fs: FileSystem, file: Path, lines: Seq[String]): Unit = {
    val out = fs.create(file, false)
    lines.foreach(l => out.write((l + "\n").getBytes(StandardCharsets.UTF_8)))
    out.close()
  }

  /** Jobs launched by `body`, counted by a listener over a drained bus. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val a = body
      BusDrain.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("DELETE on partition 0 retries through a concurrent append to partition 1") {
    val t = mkPartitioned()
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1")))
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.delete(spark, t, col("p") === 0L)
    }
    assert(store.conflicts.get() == 1, "the first claim must lose to the foreign append")
    assert(v == 2L, s"retry must land at v2, got $v")
    DeltaSnapshotReader.invalidate(t)
    val got = DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq
    // p=0 rows (even ids) deleted; odd ids + the foreign row survive
    assert(got == Seq(1L, 3L, 5L, 7L, 9L, 100L), got.mkString(","))
  }

  test("DELETE on partition 0 aborts on a concurrent append INTO partition 0") {
    val t = mkPartitioned()
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "0")))
    val e = intercept[ConcurrentAppendException] {
      DeltaWriter.withLogStore(store)(DeltaWriter.delete(spark, t, col("p") === 0L))
    }
    assert(e.getMessage.contains("appended rows inside"), e.getMessage)
    // nothing committed by the loser: table is at the foreign v1, all 11 rows
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 11)
  }

  test("DV DELETE on partition 0 retries through a concurrent append to partition 1") {
    // ADVICE r11: the DV path must carry the same conflict surface as CoW —
    // a disjoint winner retries through, with the DV descriptors unchanged
    // (the checker proved nobody touched the affected files)
    val t = mkPartitioned()
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1")))
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.deleteWithDV(spark, t, col("p") === 0L)
    }
    assert(store.conflicts.get() == 1, "the first claim must lose to the foreign append")
    assert(v == 2L, s"retry must land at v2, got $v")
    DeltaSnapshotReader.invalidate(t)
    val got = DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L, 5L, 7L, 9L, 100L), got.mkString(","))
  }

  test("DV DELETE aborts with the typed error on a concurrent append INTO partition 0") {
    val t = mkPartitioned()
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "0")))
    intercept[ConcurrentAppendException] {
      DeltaWriter.withLogStore(store)(DeltaWriter.deleteWithDV(spark, t, col("p") === 0L))
    }
    // nothing committed by the loser
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 11)
  }

  test("DV UPDATE declares the dmlReadSet footprint: disjoint append retries through, overlapping append aborts typed") {
    // same conflict surface as the CoW UPDATE and the DV DELETE (r14 #1):
    // the DV descriptors and the already-written replacement files are
    // attempt-invariant once the checker proves the winners disjoint
    val t = mkPartitioned()
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1")))
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.updateWithDV(spark, t, col("p") === 0L, Map("s" -> lit("u")))
    }
    assert(store.conflicts.get() == 1, "the first claim must lose to the foreign append")
    assert(v == 2L, s"retry must land at v2, got $v")
    DeltaSnapshotReader.invalidate(t)
    val got = DeltaSnapshotReader.load(spark, t).select("id", "s")
      .as[(Long, String)].collect().toMap
    assert(got.size == 11 && got(100L) == "f")
    assert((0L until 10L).forall(i => got(i) == (if (i % 2 == 0) "u" else s"r$i")))
    // overlapping winner INTO partition 0 → typed abort, nothing committed
    val t2 = mkPartitioned()
    val store2 = new InjectingStore(1L,
      foreignAppend(t2, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "0")))
    intercept[ConcurrentAppendException] {
      DeltaWriter.withLogStore(store2) {
        DeltaWriter.updateWithDV(spark, t2, col("p") === 0L, Map("s" -> lit("u")))
      }
    }
    DeltaSnapshotReader.invalidate(t2)
    assert(DeltaSnapshotReader.load(spark, t2).count() == 11)
    assert(DeltaSnapshotReader.load(spark, t2).filter(col("s") === "u").count() == 0)
  }

  test("DV DELETE racing a remove of an affected file → ConcurrentDeleteReadException") {
    val t = mkPartitioned()
    val p0File = DeltaSnapshotReader.snapshot(spark, t).files
      .find(_.partitionValues.get("p").contains("0")).get
    val store = new InjectingStore(1L,
      Seq("""{"commitInfo":{"operation":"FOREIGN DELETE"}}""",
        s"""{"remove":{"path":"${p0File.path}","deletionTimestamp":1,"dataChange":true}}"""))
    intercept[ConcurrentDeleteReadException] {
      DeltaWriter.withLogStore(store)(DeltaWriter.deleteWithDV(spark, t, col("p") === 0L))
    }
  }

  test("DELETE with a data-column predicate reads the whole table: any append aborts it") {
    val t = mkPartitioned()
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1")))
    intercept[ConcurrentAppendException] {
      DeltaWriter.withLogStore(store)(DeltaWriter.delete(spark, t, col("id") < 4L))
    }
  }

  test("a winner's add whose dataChange is not a boolean counts as a data change") {
    val t = mkPartitioned()
    val lines = foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1"))
      .map(_.replace("\"dataChange\":true", "\"dataChange\":\"true\""))
    assert(lines.exists(_.contains("\"dataChange\":\"true\"")))
    intercept[ConcurrentAppendException] {
      DeltaWriter.withLogStore(new InjectingStore(1L, lines)) {
        DeltaWriter.delete(spark, t, col("id") < 4L)
      }
    }
  }

  test("a partition-scoped DELETE retrying through 3 disjoint appends checks them without a Spark job") {
    def appends(t: String): Seq[Seq[String]] = (1 to 3).map(i =>
      foreignAppend(t, Seq((100L + i, "f")).toDF("id", "s"), Map("p" -> "1")))
    // control: the same three appends are already in the log when the
    // DELETE starts, so it commits v4 at its first claim
    val control = mkPartitioned()
    val fs = new Path(control).getFileSystem(spark.sessionState.newHadoopConf())
    appends(control).zipWithIndex.foreach { case (lines, i) =>
      writeCommit(fs, new Path(control, f"_delta_log/${i + 1L}%020d.json"), lines)
    }
    DeltaSnapshotReader.invalidate(control)
    val (vc, controlJobs) = jobsOf(DeltaWriter.delete(spark, control, col("p") === 0L))
    // the DELETE resolves v0 and loses its claim of v1 to the three appends
    val t = mkPartitioned()
    val store = new InjectingStore(1L, appends(t): _*)
    val (v, jobs) = jobsOf(DeltaWriter.withLogStore(store) {
      DeltaWriter.delete(spark, t, col("p") === 0L)
    })
    assert(store.conflicts.get() == 1 && v == 4L && vc == 4L, s"v=$v control=$vc")
    assert(jobs == controlJobs,
      s"the retry launched $jobs jobs against $controlJobs without one: checking the winners ran jobs")
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L, 7L, 9L, 101L, 102L, 103L))
  }

  test("MERGE aborts on any concurrent dataChange append") {
    val t = mkPartitioned()
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1")))
    intercept[ConcurrentAppendException] {
      DeltaWriter.withLogStore(store) {
        DeltaWriter.merge(spark, t,
          Seq((0L, "merged", 0L), (200L, "new", 0L)).toDF("id", "s", "p"), Seq("id"))
      }
    }
  }

  test("OPTIMIZE retries through a concurrent append (layout-only reads no rows)") {
    val t = freshDir("opt")
    // two small files in one partitionless table → one compaction bin
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "s"), t, Nil, "overwrite")
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "s"), t, Nil, "append")
    val store = new InjectingStore(2L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map.empty))
    val v = DeltaWriter.withLogStore(store)(DeltaWriter.optimize(spark, t))
    assert(store.conflicts.get() == 1)
    assert(v.contains(3L), s"optimize retry must land at v3, got $v")
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 100L))
  }

  test("concurrent remove of a file the DELETE read+rewrites → ConcurrentDeleteReadException") {
    val t = mkPartitioned()
    // the foreign winner removes the p=0 file the loser's DELETE rewrites;
    // read-conflicts rank before delete/delete (Delta's own ordering: the
    // file was READ to compute the rewrite, so the result is stale)
    val p0File = DeltaSnapshotReader.snapshot(spark, t).files
      .find(_.partitionValues.get("p").contains("0")).get
    val lines = Seq("""{"commitInfo":{"operation":"FOREIGN DELETE"}}""",
      s"""{"remove":{"path":"${p0File.path}","deletionTimestamp":1,"dataChange":true}}""")
    val store = new InjectingStore(1L, lines)
    intercept[ConcurrentDeleteReadException] {
      DeltaWriter.withLogStore(store)(DeltaWriter.delete(spark, t, col("p") === 0L))
    }
    // OPTIMIZE declares the same file as a byte-level INPUT (read file,
    // delta-spark's taxonomy): the same winner yields DeleteRead too —
    // read-conflicts rank first even though the rewrite also removes it
    intercept[ConcurrentDeleteReadException](
      ConflictChecker.check(spark,
        DeltaSnapshotReader.snapshotAt(spark, t, Some(0L)),
        DeltaSnapshotReader.snapshot(spark, t),
        TxnReadSet(readsData = false, partitionPredicate = None,
          readFiles = Set(p0File.path), removedPaths = Set(p0File.path))))
  }

  test("real OPTIMIZE racing a remove of its input gets the delete/read class") {
    val t = freshDir("optdd")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "s"), t, Nil, "overwrite")
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "s"), t, Nil, "append")
    val f = DeltaSnapshotReader.snapshot(spark, t).files.head
    val store = new InjectingStore(2L,
      Seq("""{"commitInfo":{"operation":"FOREIGN DELETE"}}""",
        s"""{"remove":{"path":"${f.path}","deletionTimestamp":1,"dataChange":true}}"""))
    intercept[ConcurrentDeleteReadException] {
      DeltaWriter.withLogStore(store)(DeltaWriter.optimize(spark, t))
    }
  }

  test("clustering OPTIMIZE aborts on a concurrent append (watermark soundness)") {
    // unlike plain compaction, the clustering rewrite must NOT commute past
    // a dataChange append: its watermark would claim the winner's files
    // clustered and every future incremental pass would skip them
    val t = freshDir("clw")
    DeltaWriter.write((0L until 8L).map(i => (i, i % 2)).toDF("id", "c"), t, Nil, "overwrite")
    Clustering.cluster(spark, t, Seq("id")) // v1
    val store = new InjectingStore(2L,
      foreignAppend(t, Seq((100L, 0L)).toDF("id", "c"), Map.empty))
    intercept[ConcurrentAppendException] {
      DeltaWriter.withLogStore(store)(Clustering.optimize(spark, t))
    }
    // re-running against the fresh snapshot picks the appended file up
    DeltaSnapshotReader.invalidate(t)
    val v = Clustering.optimize(spark, t)
    DeltaSnapshotReader.invalidate(t)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.domainMetadata(Clustering.StateDomain)
      .contains(s""""clusteredAtVersion":$v"""))
    assert(DeltaSnapshotReader.load(spark, t).count() == 9)
  }

  test("concurrent same-domain metadata writes abort typed") {
    val t = freshDir("dom")
    DeltaWriter.write((0L until 4L).map(i => (i, i % 2)).toDF("id", "c"), t, Nil, "overwrite")
    Clustering.cluster(spark, t, Seq("id")) // v1: protocol upgrade + domain
    // v2: the WINNER — a domain-only re-cluster commit (protocol already up)
    Clustering.cluster(spark, t, Seq("c"))
    val base = DeltaSnapshotReader.snapshotAt(spark, t, Some(1L))
    val fresh = DeltaSnapshotReader.snapshot(spark, t)
    intercept[ConcurrentDomainMetadataException](
      ConflictChecker.check(spark, base, fresh,
        TxnReadSet(readsData = false, partitionPredicate = None,
          readFiles = Set.empty, removedPaths = Set.empty,
          domains = Set(Clustering.Domain))))
    // a DIFFERENT domain commutes
    ConflictChecker.check(spark, base, fresh,
      TxnReadSet(readsData = false, partitionPredicate = None,
        readFiles = Set.empty, removedPaths = Set.empty,
        domains = Set("some.other.domain")))
  }

  test("checker primitives: metadata, protocol and txn winners abort; delete-read detected") {
    val t = freshDir("prim")
    DeltaWriter.write((0L until 4L).map(i => (i, s"r$i")).toDF("id", "s"), t, Nil, "overwrite")
    val base = DeltaSnapshotReader.snapshot(spark, t)
    val readAll = TxnReadSet(readsData = true, partitionPredicate = None,
      readFiles = base.files.map(_.path).toSet,
      removedPaths = Set.empty, txnAppIds = Set("appA"))

    // metadata winner
    DeltaWriter.setProperties(spark, t, Map("delta.appendOnly" -> "false"))
    var fresh = DeltaSnapshotReader.snapshot(spark, t)
    intercept[MetadataChangedException](
      ConflictChecker.check(spark, base, fresh, readAll))

    // txn winner (idempotent stream append advances appId "appA")
    val base2 = fresh
    DeltaWriter.writeIdempotent(Seq((10L, "x")).toDF("id", "s"), t, Nil, "appA", 1L)
    fresh = DeltaSnapshotReader.snapshot(spark, t)
    intercept[ConcurrentTransactionException](
      ConflictChecker.check(spark, base2, fresh,
        readAll.copy(partitionPredicate = Some(lit(false)))))

    // delete-read winner: a real DELETE removes a file the loser read
    val base3 = fresh
    DeltaWriter.delete(spark, t, col("id") < 100L) // removes every file
    fresh = DeltaSnapshotReader.snapshot(spark, t)
    intercept[ConcurrentDeleteReadException](
      ConflictChecker.check(spark, base3, fresh,
        TxnReadSet(readsData = false, partitionPredicate = None,
          readFiles = base3.files.map(_.path).toSet, removedPaths = Set.empty)))

    // protocol winner
    val base4 = fresh
    DeltaWriter.enableColumnMapping(spark, t)
    fresh = DeltaSnapshotReader.snapshot(spark, t)
    intercept[ProtocolChangedException](
      ConflictChecker.check(spark, base4, fresh,
        TxnReadSet(readsData = false, partitionPredicate = None,
          readFiles = Set.empty, removedPaths = Set.empty)))
  }

  test("CDF delete retries through a disjoint append: change files land at the FINAL version") {
    val t = freshDir("cdf")
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i", i % 2)).toDF("id", "s", "p")
      .repartition(1), t, partitionBy = Seq("p"))
    DeltaWriter.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true")) // v1
    val store = new InjectingStore(2L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1")))
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.delete(spark, t, col("p") === 0L)
    }
    assert(store.conflicts.get() == 1 && v == 3L)
    DeltaSnapshotReader.invalidate(t)
    // the feed reads the RETRIED commit's change files through the log's
    // cdc actions; the lost attempt's orphan dir is invisible
    val feed = ChangeDataFeed.read(spark, t, 3L)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSet
    assert(feed == (0L until 10L by 2).map(i => (i, "delete", 3L)).toSet, feed.toString)
    assert(DeltaSnapshotReader.load(spark, t).count() == 6) // 5 odd + foreign
    // ADVICE r12: the losing attempt's change files are RECLAIMED on
    // retry, not orphaned until VACUUM — only the winner's dir remains
    val cd = new File(t, "_change_data").listFiles().filter(_.isDirectory)
    assert(cd.length == 1,
      s"lost attempt's change dir must be reclaimed: ${cd.map(_.getName).mkString(",")}")
  }

  test("CDF DV delete racing a disjoint append also reclaims the lost attempt's change files") {
    val t = freshDir("cdfdv")
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i", i % 2)).toDF("id", "s", "p")
      .repartition(1), t, partitionBy = Seq("p"))
    DeltaWriter.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true")) // v1
    val store = new InjectingStore(2L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map("p" -> "1")))
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.deleteWithDV(spark, t, col("p") === 0L)
    }
    assert(store.conflicts.get() == 1 && v == 3L)
    DeltaSnapshotReader.invalidate(t)
    val feed = ChangeDataFeed.read(spark, t, 3L)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSet
    assert(feed == (0L until 10L by 2).map(i => (i, "delete", 3L)).toSet, feed.toString)
    val cd = new File(t, "_change_data").listFiles().filter(_.isDirectory)
    assert(cd.length == 1,
      s"lost attempt's change dir must be reclaimed: ${cd.map(_.getName).mkString(",")}")
  }

  test("exactly-once: a racing duplicate micro-batch (same appId/txn) never lands twice") {
    val t = freshDir("txn")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "s"), t, Nil, "overwrite") // v0
    // the foreign winner IS the same app's micro-batch 7, committed by a
    // concurrent driver inside our claim window
    val lines = foreignAppend(t, Seq((7L, "batch7")).toDF("id", "s"), Map.empty) :+
      """{"txn":{"appId":"appX","version":7}}"""
    val store = new InjectingStore(1L, lines)
    val landed = DeltaWriter.withLogStore(store) {
      DeltaWriter.writeIdempotent(Seq((7L, "batch7")).toDF("id", "s"), t, Nil, "appX", 7L)
    }
    assert(store.conflicts.get() == 1, "the claim must lose to the foreign twin")
    assert(landed.isEmpty, "duplicate delivery must report already-applied")
    DeltaSnapshotReader.invalidate(t)
    val got = DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 7L), s"batch must appear exactly once: $got")
    // a LATER batch of the same app still lands (watermark advanced to 7)
    assert(DeltaWriter.writeIdempotent(
      Seq((8L, "batch8")).toDF("id", "s"), t, Nil, "appX", 8L).contains(2L))
    // and a replay of 7 after the fact is a no-op
    assert(DeltaWriter.writeIdempotent(
      Seq((7L, "dup")).toDF("id", "s"), t, Nil, "appX", 7L).isEmpty)
  }

  test("metadata commit retries through a data winner, aborts on a metadata winner") {
    val t = freshDir("meta")
    DeltaWriter.write((0L until 4L).map(i => (i, s"r$i")).toDF("id", "s"), t, Nil, "overwrite")
    // ALTER racing live ingest: the append wins v1, the property change
    // retries and lands at v2
    val store = new InjectingStore(1L,
      foreignAppend(t, Seq((100L, "f")).toDF("id", "s"), Map.empty))
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.setProperties(spark, t, Map("delta.appendOnly" -> "false"))
    }
    assert(store.conflicts.get() == 1 && v == 2L)
    DeltaSnapshotReader.invalidate(t)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.configuration.get("delta.appendOnly").contains("false"))
    assert(snap.files.exists(_.path.startsWith("foreign-")),
      "the foreign append must survive the retried ALTER")
    assert(DeltaSnapshotReader.load(spark, t).count() == 5)
    // ALTER racing ALTER: the winner's metaData action aborts the loser
    val sj = """{"metaData":{"id":"m-x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{"foo":"bar"},"createdTime":1}}"""
    val store2 = new InjectingStore(3L,
      Seq("""{"commitInfo":{"operation":"FOREIGN ALTER"}}""", sj))
    intercept[MetadataChangedException] {
      DeltaWriter.withLogStore(store2) {
        DeltaWriter.setProperties(spark, t, Map("delta.appendOnly" -> "true"))
      }
    }
  }

  test("layout-only winner (OPTIMIZE of untouched files) commutes with a DELETE") {
    val t = mkPartitioned()
    // foreign winner "compacts" the p=1 file: remove + re-add dataChange=false
    val snap0 = DeltaSnapshotReader.snapshot(spark, t)
    val p1File = snap0.files.find(_.partitionValues.get("p").contains("1")).get
    val rel = s"foreign-${UUID.randomUUID().toString.take(8)}.parquet"
    Files.copy(new File(t, DeltaActions.decodePath(p1File.path)).toPath,
      new File(t, rel).toPath)
    val lines = Seq("""{"commitInfo":{"operation":"FOREIGN OPTIMIZE"}}""",
      s"""{"remove":{"path":"${p1File.path}","deletionTimestamp":1,"dataChange":false}}""",
      s"""{"add":{"path":"$rel","partitionValues":{"p":"1"},"size":${p1File.size},"modificationTime":1,"dataChange":false}}""")
    val store = new InjectingStore(1L, lines)
    val v = DeltaWriter.withLogStore(store) {
      DeltaWriter.delete(spark, t, col("p") === 0L)
    }
    assert(store.conflicts.get() == 1)
    assert(v == 2L)
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 5L, 7L, 9L))
  }
}
