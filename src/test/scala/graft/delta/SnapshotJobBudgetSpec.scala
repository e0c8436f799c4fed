package graft.delta

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Job budget and placement parity of the distributed cold-snapshot path —
  * every table with a checkpoint takes it.
  *
  * A cold snapshot + load + filtered count of a checkpointed table costs
  * at most 5 Spark jobs at the default gates: 1 for protocol + metaData
  * (the checkpoint's schema comes from its footer, read on the driver), 2
  * to build the file set and collect it in the same pass (its crc records
  * no more than `spark.graft.delta.driverFileListThreshold` files, so crc
  * validation, the DV probe and listing run on the driver), 2 for the
  * query. With both gates at 0 the file set stays distributed; its count
  * is locked too. The session's own append caches the snapshot its commit
  * leaves, and a version after one the session holds is advanced from it,
  * both with no job: a fresh read after an append, the session's own (a
  * hit) or a foreign one (advanced), costs only its query's 2 jobs, and
  * an append that auto-checkpoints costs 2 (the append and the checkpoint
  * write). So no change can raise any of them silently. On the driver
  * placement (a small checkpoint-less log) a cold snapshot, its files and
  * the plan of a small change feed launch no job at all. Both placements
  * must give the same snapshot and refuse a tampered crc before serving a
  * row; the crc's count only places the set, it never sizes a collect
  * past the threshold. */
class SnapshotJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val Threshold = "spark.graft.delta.driverFileListThreshold"
  private val LocalMax = "spark.graft.delta.localReplayMaxBytes"

  private def newTable(): String =
    Files.createTempDirectory("graft_jobs").toString + "/tbl"

  /** Jobs launched by `body`, counted by a listener over a drained bus. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
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

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** 15 appends of 50 rows: the auto-checkpoint at v10 leaves a 4-commit
    * JSON tail, the shape of an ingest table in use. */
  private lazy val events: String = {
    val t = newTable()
    (0 until 15).foreach(append(t, _))
    assert(new java.io.File(t, f"_delta_log/${10L}%020d.checkpoint.parquet").exists())
    t
  }

  private def coldRead(t: String): (Long, Int) = {
    DeltaSnapshotReader.invalidate(t)
    jobsOf {
      val snap = DeltaSnapshotReader.snapshot(spark, t)
      DeltaSnapshotReader.load(spark, t, Some(snap.version)).filter(col("grp") === 3).count()
    }
  }

  test("cold snapshot + load + filtered count of a checkpointed table: at most 5 jobs") {
    val (n, jobs) = coldRead(events)
    assert(n == 15 * 7) // grp 3 holds 7 of every batch's 50 rows
    assert(jobs <= 5, s"cold read of a checkpointed 15-commit table launched $jobs jobs")
    assert(DeltaSnapshotReader.snapshot(spark, events).fileSet.isCollected)
  }

  test("the same cold read with both gates at 0 stays distributed, within its recorded budget") {
    val (n, jobs) = withConf(Threshold -> "0", LocalMax -> "0") {
      val r = coldRead(events)
      assert(!DeltaSnapshotReader.snapshot(spark, events).fileSet.isCollected)
      r
    }
    assert(n == coldRead(events)._1)
    // 1 protocol + metaData; 4 for the persisted file set and its one
    // state summary (replay shuffle, cache, aggregate shuffle, result);
    // 1 distributed listing; 2 for the query
    assert(jobs <= 8, s"distributed cold read launched $jobs jobs")
  }

  private def append(t: String, i: Int): Unit =
    DeltaWriter.write((0 until 50).map(j => (i * 50L + j, j % 7, i)).toDF("id", "grp", "batch"), t)

  test("a plain append is 1 job; one that auto-checkpoints stays within its recorded budget") {
    val t = newTable()
    (0 until 11).foreach(append(t, _)) // v0..v10, checkpointed at v10
    DeltaSnapshotReader.snapshot(spark, t).files // the writer's prior snapshot, warm
    val (_, plain) = jobsOf(append(t, 11))
    (12 until 20).foreach(append(t, _))
    DeltaSnapshotReader.snapshot(spark, t).files
    val (_, checkpointed) = jobsOf(append(t, 20))
    assert(new java.io.File(t, f"_delta_log/${20L}%020d.checkpoint.parquet").exists())
    assert(plain == 1, s"a plain append launched $plain jobs")
    // 1 append, 1 to write the single-part checkpoint: the checkpoint's
    // snapshot is advanced from the writer's, tombstones, txns and
    // domains included, with no job
    assert(checkpointed <= 2, s"an auto-checkpointing append launched $checkpointed jobs")
  }

  test("an auto-checkpointing append after a cold read of the table: 2 jobs") {
    val t = newTable()
    (0 until 20).foreach(append(t, _)) // checkpointed at v10, a 9-commit tail
    DeltaSnapshotReader.invalidate(t)
    val (_, resolutions) = ResolutionLog.capture(DeltaSnapshotReader.snapshot(spark, t).files)
    assert(resolutions.map(ResolutionLog.kind) == Seq("cold distributed"))
    val (_, jobs) = jobsOf(append(t, 20))
    assert(new java.io.File(t, f"_delta_log/${20L}%020d.checkpoint.parquet").exists())
    assert(jobs <= 2, s"an auto-checkpointing append after a cold read launched $jobs jobs")
  }

  /** A checkpointed table at v10 (11 appends), read cold once. */
  private def readCheckpointed(): String = {
    val t = newTable()
    (0 until 11).foreach(append(t, _))
    coldRead(t)
    t
  }

  /** A fresh snapshot + load + filtered count, its jobs and resolutions. */
  private def freshRead(t: String): ((Long, Int), Seq[String]) = ResolutionLog.capture {
    jobsOf {
      val snap = DeltaSnapshotReader.snapshot(spark, t)
      DeltaSnapshotReader.load(spark, t, Some(snap.version)).filter(col("grp") === 3).count()
    }
  }

  test("a fresh read after the session's own append to a checkpointed table: the query's 2 jobs") {
    val t = readCheckpointed()
    append(t, 11)
    val ((n, jobs), resolutions) = freshRead(t)
    assert(n == 12 * 7)
    // the append cached the snapshot its commit leaves
    assert(resolutions.map(ResolutionLog.kind) == Seq("hit", "hit"))
    assert(jobs <= 2, s"a fresh read after an append launched $jobs jobs")
  }

  test("a fresh read after a foreign commit to a checkpointed table: the query's 2 jobs, new rows visible") {
    val t = readCheckpointed()
    // another writer's commit: a data file and a raw commit JSON
    val dir = Files.createTempDirectory("graft_foreign").toString + "/d"
    (0 until 50).map(j => (1000L + j, j % 7, 99)).toDF("id", "grp", "batch").coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(t, "foreign-0.parquet"))
    Files.write(Paths.get(t, "_delta_log", LogListing.commitName(11)), Seq(
      """{"commitInfo":{"timestamp":1700000000000,"operation":"WRITE","engineInfo":"foreign"}}""",
      s"""{"add":{"path":"foreign-0.parquet","partitionValues":{},"size":${part.length},""" +
        s""""modificationTime":${part.lastModified},"dataChange":true}}""").mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    val ((n, jobs), resolutions) = freshRead(t)
    assert(n == 11 * 7 + 7) // grp 3: 7 of each appended batch, 7 of the foreign file's 50 rows
    assert(resolutions.map(ResolutionLog.kind) == Seq("advanced from 10 (1 commits)", "hit"))
    assert(jobs <= 2, s"a fresh read after a foreign commit launched $jobs jobs")
  }

  test("driver placement: a cold snapshot + files of a small checkpoint-less table launch no job") {
    val t = newTable()
    for (i <- 0 until 3)
      DeltaWriter.write((0 until 20).map(j => (i * 20L + j, j % 7, i)).toDF("id", "grp", "batch"), t)
    DeltaSnapshotReader.invalidate(t)
    val (files, jobs) = jobsOf(DeltaSnapshotReader.snapshot(spark, t).files)
    assert(files.nonEmpty && DeltaSnapshotReader.snapshot(spark, t).fileSet.isCollected)
    assert(jobs == 0, s"a cold driver-placement snapshot + files launched $jobs jobs")
  }

  test("driver placement: planning ChangeDataFeed.read over a small range launches no job") {
    val t = newTable()
    def rows(from: Long) = (from until from + 20L).map(i => (i, (i % 7).toInt, 0)).toDF("id", "grp", "batch")
    DeltaWriter.write(rows(0L), t)
    DeltaWriter.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.write(rows(20L), t)                       // inserts from add actions
    DeltaWriter.delete(spark, t, col("id") === 3L)         // cdc files
    DeltaWriter.write(rows(40L), t, mode = "overwrite")   // deletes from remove actions
    DeltaSnapshotReader.invalidate(t)
    val (feed, jobs) = jobsOf(ChangeDataFeed.read(spark, t, 2L))
    assert(jobs == 0, s"planning a small-range change feed launched $jobs jobs")
    assert(feed.count() == 20 + 1 + 39 + 20)
  }

  /** A checkpointed table carrying every piece of state a replay resolves:
    * partitions, DV adds, remove tombstones, a txn watermark, a metadata
    * domain (row tracking), optionally column mapping — checkpointed with
    * `checkpoint`, then a JSON tail on top. About 50 files: above
    * [[Checksum.AllFilesEchoThreshold]], so validation itself never
    * collects the set and each placement keeps its own listing path. */
  private def stateTable(checkpoint: String => Unit, columnMapping: Boolean = false): String = {
    val t = newTable()
    def rows(ids: Seq[Long]) = ids.map(v => (v, s"r$v", v / 100)).toDF("id", "s", "p")
    def write(ids: Seq[Long], txn: Option[SetTransaction] = None): Unit =
      DeltaWriter.write(rows(ids).coalesce(1), t, partitionBy = Seq("p"), txn = txn)
    DeltaWriter.write(rows(0L until 200L).repartitionByRange(50, col("id")), t,
      partitionBy = Seq("p"))
    write(Seq(500L)) // a 1-row file, removed whole below: a tombstone
    // row tracking (a metadata domain) and column mapping exclude each other
    if (columnMapping) DeltaWriter.enableColumnMapping(spark, t)
    else DeltaWriter.enableRowTracking(spark, t)
    // no auto-checkpoint: the replay must start from `checkpoint`'s shape
    DeltaWriter.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true", "delta.checkpointInterval" -> "0"))
    DeltaWriter.deleteWithDV(spark, t, col("id") === 7L)
    DeltaWriter.deleteWithDV(spark, t, col("id") === 500L)
    write(Seq(300L), Some(SetTransaction("app-parity", 4L, None)))
    checkpoint(t)
    write(Seq(301L))
    DeltaWriter.deleteWithDV(spark, t, col("id") === 110L)
    t
  }

  /** A fresh snapshot's placement (collected after its first touch?) and
    * everything it resolves, rows included. */
  private def resolved(t: String) = {
    DeltaSnapshotReader.invalidate(t)
    val s = DeltaSnapshotReader.snapshot(spark, t)
    val rows = DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq
    (s.fileSet.isCollected, (s.files, s.protocol, s.schema, s.partitionColumns, s.configuration,
      s.physicalSchema, s.metadataId, s.metadataCreatedTime, s.tombstones, s.txns,
      s.domainMetadata, rows))
  }

  private def assertParity(t: String): Unit = {
    val (driverPlaced, driver) = resolved(t)
    val (distributedPlaced, distributed) = withConf(Threshold -> "0")(resolved(t))
    assert(driverPlaced && !distributedPlaced)
    assert(driver == distributed)
    val (files, _, _, _, _, _, _, _, tombstones, txns, domains, rows) = driver
    assert(files.exists(_.deletionVector.isDefined), "fixture lost its DV adds")
    assert(tombstones.nonEmpty && txns.exists(_.appId == "app-parity"))
    assert(domains.nonEmpty || DeltaSnapshotReader.snapshot(spark, t).physicalSchema.isDefined)
    assert(files.size > Checksum.AllFilesEchoThreshold)
    assert(rows == ((0L until 200L).filterNot(Set(7L, 110L)) ++ Seq(300L, 301L)))
  }

  test("placement parity: classic single-part checkpoint") {
    assertParity(stateTable(t => DeltaWriter.checkpoint(spark, t)))
  }

  test("placement parity: classic multi-part checkpoint") {
    val t = stateTable(t => DeltaWriter.checkpoint(spark, t, parts = 2))
    assert(new java.io.File(t, "_delta_log").list().count(_.contains(".checkpoint.0000000002.")) == 2)
    assertParity(t)
  }

  test("placement parity: V2 checkpoint with sidecars") {
    val t = stateTable(t => DeltaWriter.checkpointV2(spark, t, sidecarParts = 2))
    assert(new java.io.File(t, "_delta_log/_sidecars").list().count(_.endsWith(".parquet")) == 2)
    assert(DeltaSnapshotReader.snapshot(spark, t).protocol.exists(_.readerFeatures.exists(_.contains("v2Checkpoint"))))
    assertParity(t)
  }

  test("placement parity: column-mapped table") {
    val t = stateTable(t => DeltaWriter.checkpoint(spark, t), columnMapping = true)
    assert(DeltaSnapshotReader.snapshot(spark, t).physicalSchema.isDefined)
    assertParity(t)
  }

  /** A checkpointed 12-commit table and the Hadoop path of its latest crc. */
  private def twelveFiles(): (String, Path) = {
    val t = newTable()
    for (i <- 0 until 12)
      DeltaWriter.write((0 until 10).map(j => (i * 10L + j, j % 3, i)).toDF("id", "grp", "batch"), t)
    val v = DeltaSnapshotReader.latestVersion(spark, t)
    (t, new Path(t, f"_delta_log/$v%020d.crc"))
  }

  /** Rewrite the crc's numFiles through the Hadoop fs, so its own checksum
    * sidecar agrees. */
  private def tamperNumFiles(crc: Path, numFiles: Long): Unit = {
    val fs = crc.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(crc)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val out = fs.create(crc, true)
    try out.write(body.replaceFirst("\"numFiles\":\\d+", s"\"numFiles\":$numFiles")
      .getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** `load` must refuse, serve no row, and refuse again (not cached away). */
  private def assertRefused(t: String, what: String): Unit = {
    DeltaSnapshotReader.invalidate(t)
    val served = new java.util.concurrent.atomic.AtomicLong()
    intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.load(spark, t).collect().foreach(_ => served.incrementAndGet())
    }
    assert(served.get == 0, s"$what: rows served over a tampered crc")
    intercept[Checksum.ChecksumMismatchException](DeltaSnapshotReader.load(spark, t).count())
  }

  test("a tampered crc refuses on both placements before any row is served") {
    val (t, crc) = twelveFiles()
    tamperNumFiles(crc, 999)
    for (threshold <- Seq("10000", "0"))
      withConf(Threshold -> threshold)(assertRefused(t, s"threshold $threshold"))
    // a crc that over-reports past the threshold sends the set to executors
    tamperNumFiles(crc, 999999)
    assertRefused(t, "over-reported count")
  }

  test("a crc that under-reports never makes the driver collect past the threshold") {
    val (t, crc) = twelveFiles()
    tamperNumFiles(crc, 2)
    withConf(Threshold -> "5") {
      assertRefused(t, "under-reported count")
      assert(!DeltaSnapshotReader.snapshot(spark, t).fileSet.isCollected)
    }
  }

  test("a set the crc records above the threshold is built once, with no collect pass") {
    val (t, _) = twelveFiles()
    def coldJobs(threshold: String): Int = withConf(Threshold -> threshold) {
      val (_, jobs) = coldRead(t)
      assert(!DeltaSnapshotReader.snapshot(spark, t).fileSet.isCollected)
      jobs
    }
    // the crc records more files than 5: the set takes the same path, at
    // the same cost, as with the threshold at 0
    assert(coldJobs("5") == coldJobs("0"))
  }

  test("a version without a crc is served correctly and still planned from the driver") {
    val (t, crc) = twelveFiles()
    crc.getFileSystem(spark.sessionState.newHadoopConf()).delete(crc, false)
    DeltaSnapshotReader.invalidate(t)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(DeltaSnapshotReader.load(spark, t, Some(snap.version)).filter(col("grp") === 1).count() == 12 * 3)
    // no recorded count: persisted at the first touch, then listed from
    // the driver because it holds at most driverFileListThreshold files
    assert(snap.fileSet.isCollected)
  }
}
