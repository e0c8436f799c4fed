package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Streaming-ingest side of the Delta layer: txn-based exactly-once writes,
  * additive schema evolution, and the incremental change feed. */
class DeltaIngestSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  test("writeIdempotent skips a replayed micro-batch (exactly-once)") {
    val t = freshDir("txn")
    val batch0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val batch1 = Seq((3L, "c")).toDF("id", "v")

    assert(DeltaWriter.writeIdempotent(batch0, t, Nil, "app-1", 0L).contains(0L))
    assert(DeltaWriter.writeIdempotent(batch1, t, Nil, "app-1", 1L).contains(1L))
    // crash/restart replays batch 1 → must be a no-op
    assert(DeltaWriter.writeIdempotent(batch1, t, Nil, "app-1", 1L).isEmpty)
    // stale replay of batch 0 likewise
    assert(DeltaWriter.writeIdempotent(batch0, t, Nil, "app-1", 0L).isEmpty)
    // a DIFFERENT writer id is independent
    assert(DeltaWriter.writeIdempotent(batch0, t, Nil, "app-2", 0L).contains(2L))

    assert(DeltaSnapshotReader.load(spark, t).count() == 5L)
    val txns = DeltaSnapshotReader.snapshot(spark, t).txns
    assert(txns.map(x => x.appId -> x.version).toMap == Map("app-1" -> 1L, "app-2" -> 0L))
  }

  test("incremental reads (changes) leave no cached data behind, on either replay placement") {
    val t = freshDir("changes_cache")
    (0L until 4L).foreach(b => DeltaWriter.write((b * 5 until b * 5 + 5).map(i => (i, s"v$i")).toDF("id", "v"), t))
    Seq(None, Some("0")).foreach { localMax =>
      localMax.foreach(spark.conf.set("spark.graft.delta.localReplayMaxBytes", _))
      try {
        // the snapshot cache may evict (and release) older entries during
        // the calls: what must not happen is an RDD they persisted staying so
        val before = spark.sparkContext.getPersistentRDDs.keySet
        (0L until 3L).foreach { v =>
          assert(DeltaSnapshotReader.changes(spark, t, v, Some(v + 1)).count() == 5L)
        }
        val left = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(left.isEmpty, s"changes() left ${left.size} persisted RDDs " +
          s"(localReplayMaxBytes ${localMax.getOrElse("default")})")
      } finally spark.conf.unset("spark.graft.delta.localReplayMaxBytes")
    }
  }

  test("txn watermarks survive checkpointing") {
    val t = freshDir("txncp")
    DeltaWriter.writeIdempotent(Seq((1L, "a")).toDF("id", "v"), t, Nil, "app-cp", 7L)
    DeltaWriter.checkpoint(spark, t)
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)
    DeltaSnapshotReader.invalidate(t)
    val txns = DeltaSnapshotReader.snapshot(spark, t).txns
    assert(txns.exists(x => x.appId == "app-cp" && x.version == 7L))
  }

  test("mergeSchema appends a column; old files read as null") {
    val t = freshDir("evo")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Nil, "overwrite")
    DeltaWriter.write(Seq((3L, "c", 30.0)).toDF("id", "v", "score"), t, Nil,
      "append", mergeSchema = true)

    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    val rows = DeltaSnapshotReader.load(spark, t)
      .orderBy("id").select("id", "score").collect()
    assert(rows.map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq ==
      Seq((1L, None), (2L, None), (3L, Some(30.0))))

    // evolution cannot change an existing column's type
    val bad = Seq(("x", "y")).toDF("id", "v")
    assertThrows[IllegalArgumentException] {
      DeltaWriter.write(bad, t, Nil, "append", mergeSchema = true)
    }
  }

  test("table properties survive evolution/checkpoint; appendOnly is enforced") {
    val t = freshDir("props")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    // foreign writer sets table properties via a new metaData commit (v1)
    val schemaJson = DeltaSnapshotReader.snapshot(spark, t).schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.write(
      new java.io.File(t, "_delta_log").toPath.resolve(f"${1L}%020d.json"),
      (s"""{"metaData":{"id":"x","format":{"provider":"parquet"},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.appendOnly":"true","custom.team":"graft"}}}""" + "\n")
        .getBytes("UTF-8"))
    DeltaSnapshotReader.invalidate(t)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.configuration("custom.team") == "graft" && snap.isAppendOnly)

    // appendOnly: removes forbidden, appends fine
    assertThrows[IllegalArgumentException] {
      DeltaWriter.delete(spark, t, col("id") === 1L)
    }
    assertThrows[IllegalArgumentException] {
      DeltaWriter.write(Seq((9L, "z")).toDF("id", "v"), t, Nil, "overwrite")
    }
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil) // append OK

    // schema evolution re-declares metaData — properties must carry over
    DeltaWriter.write(Seq((3L, "c", 1.0)).toDF("id", "v", "x"), t, Nil,
      "append", mergeSchema = true)
    assert(DeltaSnapshotReader.snapshot(spark, t).configuration("custom.team") == "graft")

    // and survive a checkpoint bootstrap
    DeltaWriter.checkpoint(spark, t)
    DeltaWriter.cleanupLog(spark, t, retainMs = -60000L)
    DeltaSnapshotReader.invalidate(t)
    val after = DeltaSnapshotReader.snapshot(spark, t)
    assert(after.configuration("custom.team") == "graft" && after.isAppendOnly)
    assert(DeltaSnapshotReader.load(spark, t).count() == 3L)
  }

  test("setProperties merges configuration; appendOnly can be switched on and off") {
    val t = freshDir("setp")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite")
    DeltaWriter.setProperties(spark, t, Map("delta.appendOnly" -> "true", "team" -> "graft"))
    assert(DeltaSnapshotReader.snapshot(spark, t).isAppendOnly)
    assertThrows[IllegalArgumentException] {
      DeltaWriter.delete(spark, t, col("id") === 1L)
    }
    // unset restores mutability; unrelated properties survive
    DeltaWriter.setProperties(spark, t, Map.empty, removals = Seq("delta.appendOnly"))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(!snap.isAppendOnly && snap.configuration("team") == "graft")
    DeltaWriter.delete(spark, t, col("id") === 1L)
    assert(DeltaSnapshotReader.load(spark, t).count() == 0L)
    // no-op set returns the current version without a commit
    val v = DeltaSnapshotReader.snapshot(spark, t).version
    assert(DeltaWriter.setProperties(spark, t, Map("team" -> "graft")) == v)
  }

  test("append retries past a foreign commit that wins the version race") {
    val t = freshDir("occ")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0

    // a "foreign writer" claims version 1 directly in the log (no data)
    val logDir = new java.io.File(t, "_delta_log")
    java.nio.file.Files.write(
      logDir.toPath.resolve(f"${1L}%020d.json"),
      "{\"commitInfo\":{\"operation\":\"FOREIGN\"}}\n".getBytes("UTF-8"))

    // our append targets v1, loses, and must land at v2 with nothing lost
    val v = DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)
    assert(v == 2L, s"expected retry to land at version 2, got $v")
    assert(DeltaSnapshotReader.load(spark, t)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // concurrent same-JVM appends (the synchronized path) all land
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val vs = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val appends = (3 to 5).map(i =>
        Future(DeltaWriter.write(Seq((i.toLong, "x")).toDF("id", "v"), t, Nil)))
      Await.result(Future.sequence(appends), 120.seconds)
    } finally pool.shutdownNow()
    assert(vs.toSet == Set(3L, 4L, 5L), s"versions $vs")
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      (1L to 5L))
  }

  test("streaming source: initial snapshot, then tail of new commits") {
    val t = freshDir("src")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Nil, "overwrite")

    val stream = spark.readStream.format("graftdelta").load(t)
    spark.catalog.dropTempView("t_delta_src")
    val q = stream.writeStream.format("memory").queryName("t_delta_src")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_delta_src").select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L), "initial batch must deliver the current snapshot")

      // new commits while the stream runs → tailed incrementally
      DeltaWriter.write(Seq((3L, "c")).toDF("id", "v"), t, Nil)
      DeltaWriter.write(Seq((4L, "d"), (5L, "e")).toDF("id", "v"), t, Nil)
      q.processAllAvailable()
      assert(spark.table("t_delta_src").select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))

      // OPTIMIZE must NOT re-deliver rows (dataChange=false adds ignored)
      DeltaWriter.optimize(spark, t, targetBytes = 1024L * 1024 * 1024)
      q.processAllAvailable()
      assert(spark.table("t_delta_src").count() == 5L)
    } finally q.stop()
  }

  test("changes() returns exactly the rows appended in the version range") {
    val t = freshDir("cdc")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    DeltaWriter.write(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), t, Nil)  // v1
    DeltaWriter.write(Seq((4L, "d")).toDF("id", "v"), t, Nil)             // v2

    assert(DeltaSnapshotReader.changes(spark, t, 0L)
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L))
    assert(DeltaSnapshotReader.changes(spark, t, 1L, Some(2L))
      .select("id").as[Long].collect().toSeq == Seq(4L))
    assert(DeltaSnapshotReader.changes(spark, t, 2L).count() == 0L)

    // OPTIMIZE is layout-only (dataChange=false) → invisible to the feed
    DeltaWriter.optimize(spark, t, targetBytes = 1024L * 1024 * 1024)
    assert(DeltaSnapshotReader.changes(spark, t, 2L).count() == 0L)

    // a delete in range makes "rows added" ill-defined → must refuse
    DeltaWriter.delete(spark, t, col("id") === 2L)
    assertThrows[IllegalArgumentException] {
      DeltaSnapshotReader.changes(spark, t, 2L).count()
    }
  }

  test("DML tolerance: refuse by default, ignoreDeletes skips delete-only commits, skipChangeCommits skips rewrites wholesale (VERDICT r14 #6)") {
    val t = freshDir("dmltol")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t, Nil, "overwrite") // v0
    DeltaWriter.write(Seq((10L, "j"), (11L, "k")).toDF("id", "v").coalesce(1), t, Nil) // v1
    DeltaWriter.deleteWithDV(spark, t, col("id") >= 10L) // v2: full-file → remove-ONLY commit
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "v").coalesce(1), t, Nil)  // v3
    // default: loud refusal naming the opt-outs
    val e = intercept[IllegalArgumentException] {
      DeltaSnapshotReader.changes(spark, t, 0L).count()
    }
    assert(e.getMessage.contains("skipChangeCommits"), e.getMessage)
    // ignoreDeletes: the delete-only v2 drops, the appends stay exact
    assert(DeltaSnapshotReader.changes(spark, t, 0L, None, "ignoreDeletes")
      .select("id").as[Long].collect().sorted.toSeq == Seq(3L, 10L, 11L))
    // ...but a REWRITE (partial DV delete re-adds the path) still refuses
    DeltaWriter.write(Seq((20L, "t"), (21L, "u")).toDF("id", "v").coalesce(1), t, Nil) // v4
    DeltaWriter.deleteWithDV(spark, t, col("id") === 20L) // v5: DV re-add (change commit)
    DeltaWriter.write(Seq((4L, "d")).toDF("id", "v").coalesce(1), t, Nil)  // v6
    val e2 = intercept[IllegalArgumentException] {
      DeltaSnapshotReader.changes(spark, t, 3L, None, "ignoreDeletes").count()
    }
    assert(e2.getMessage.contains("ignoreDeletes only tolerates"), e2.getMessage)
    // skipChangeCommits: v5 skipped WHOLESALE, pure appends still flow
    assert(DeltaSnapshotReader.changes(spark, t, 3L, None, "skipChangeCommits")
      .select("id").as[Long].collect().sorted.toSeq == Seq(4L, 20L, 21L))
    // end-to-end through the stream source options: replay THROUGH the
    // DELETE and DV commits from version 0
    val stream = spark.readStream.format("graftdelta")
      .option("startingVersion", "0")
      .option("skipChangeCommits", "true")
      .load(t)
    spark.catalog.dropTempView("t_dmltol")
    val q = stream.writeStream.format("memory").queryName("t_dmltol")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // adds of v0,v1,v3,v4,v6 — v2 is remove-only (nothing to deliver
    // anyway), v5's DV re-add skipped
    assert(spark.table("t_dmltol").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L))
    // the default stream REFUSES over the same log (loudly, not silently)
    val bad = spark.readStream.format("graftdelta")
      .option("startingVersion", "0").load(t)
      .writeStream.format("memory").queryName("t_dmltol_bad")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.awaitTermination()
    }
    assert(e3.getMessage.contains("non-append") ||
      Option(e3.getCause).exists(_.getMessage.contains("non-append")), e3.getMessage)
  }

  test("maxFilesPerTrigger drains a backlog in bounded micro-batches") {
    val t = freshDir("rate")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    // backlog BEFORE the stream starts: 4 commits of one file each
    (2L to 5L).foreach(i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "v").coalesce(1), t, Nil))
    val stream = spark.readStream.format("graftdelta")
      .option("startingVersion", "1")
      .option("maxFilesPerTrigger", "1")
      .load(t)
    spark.catalog.dropTempView("t_rate")
    val q = stream.writeStream.format("memory").queryName("t_rate")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // everything arrives...
    assert(spark.table("t_rate").select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L))
    // ...in several bounded steps, not one giant catch-up batch
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4,
      s"expected >=4 rate-limited batches, got ${batches.length}: " +
        batches.map(_.numInputRows).mkString(","))
    assert(batches.forall(_.numInputRows <= 1),
      s"a batch exceeded the 1-file bound: ${batches.map(_.numInputRows).mkString(",")}")
  }

  test("maintenance commits (dataChange=false re-adds) do not consume the trigger budget") {
    val t = freshDir("rate2")
    DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2),
      t, Nil, "overwrite")                                                 // v0: 2 files
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "v").coalesce(1), t, Nil)  // v1
    DeltaWriter.optimize(spark, t, targetBytes = 1024L * 1024 * 1024)      // v2: re-adds all, dataChange=false
    DeltaWriter.write(Seq((4L, "d")).toDF("id", "v").coalesce(1), t, Nil)  // v3
    DeltaWriter.write(Seq((5L, "e")).toDF("id", "v").coalesce(1), t, Nil)  // v4
    val stream = spark.readStream.format("graftdelta")
      .option("startingVersion", "2")
      .option("maxFilesPerTrigger", "1")
      .load(t)
    val q = stream.writeStream.format("memory").queryName("t_rate2")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("t_rate2").select("id").as[Long].collect().sorted.toSeq ==
      Seq(4L, 5L))
    // the OPTIMIZE commit delivers zero rows, so it must ride along with
    // v3's batch instead of burning a whole trigger: no batch may END at
    // version 2 (that would mean its re-adds ate the 1-file budget)
    val ends = q.recentProgress.flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).map(_.trim)
    assert(!ends.contains("2"), s"a batch ended at the OPTIMIZE commit: $ends")
  }

  test("startingTimestamp backfills from the first commit at-or-after it") {
    val t = freshDir("startts")
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t, Nil, "overwrite") // v0
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t, Nil)             // v1
    Thread.sleep(30)
    val between = java.time.Instant.now()
    Thread.sleep(30)
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "v"), t, Nil)             // v2
    DeltaWriter.write(Seq((4L, "d")).toDF("id", "v"), t, Nil)             // v3
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val tsStr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.of(zone)).format(between)
    spark.catalog.dropTempView("t_startts")
    val q = spark.readStream.format("graftdelta")
      .option("startingTimestamp", tsStr).load(t)
      .writeStream.format("memory").queryName("t_startts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("t_startts").select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L))
    // both options together refuse at source creation
    val e = intercept[Exception] {
      spark.readStream.format("graftdelta")
        .option("startingVersion", "0").option("startingTimestamp", tsStr)
        .load(t)
        .writeStream.format("memory").queryName("t_startts_bad")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    def chain(x: Throwable): Seq[String] =
      if (x == null) Nil else x.getMessage +: chain(x.getCause)
    assert(chain(e).exists(m => m != null && m.contains("not both")), chain(e).toString)
  }

  test("FSCK REPAIR TABLE drops missing-file entries; DRY RUN previews") {
    val t = freshDir("fsck")
    (1L to 4L).foreach(i =>
      DeltaWriter.write(Seq((i, s"r$i")).toDF("id", "v").coalesce(1), t, Nil))
    // out-of-band delete of one data file → the table is unreadable
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    val victim = new java.io.File(snap.absolutePath(snap.files.head))
    assert(victim.delete(), s"could not delete $victim")
    DeltaSnapshotReader.invalidate(t)
    intercept[Exception](DeltaSnapshotReader.load(spark, t).count())
    // DRY RUN names exactly the missing file, commits nothing
    val preview = spark.sql(s"FSCK REPAIR TABLE delta.`$t` DRY RUN")
      .as[String].collect()
    assert(preview.length == 1, preview.toSeq.toString)
    assert(DeltaSnapshotReader.snapshot(spark, t).version == 3L)
    // repair: one commit removes the entry; the table reads again (3 rows)
    val fixed = spark.sql(s"FSCK REPAIR TABLE delta.`$t`").as[String].collect()
    assert(fixed.toSeq == preview.toSeq)
    val after = DeltaSnapshotReader.snapshot(spark, t)
    assert(after.version == 4L && after.fileSet.count == 3L)
    assert(DeltaSnapshotReader.load(spark, t).count() == 3L)
    // idempotent: nothing further to repair
    assert(spark.sql(s"FSCK REPAIR TABLE delta.`$t`").count() == 0L)
  }
}
