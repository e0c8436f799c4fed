package graft.delta

import graft.SparkSpec
import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Scale-regression lock for the distributed snapshot file index.
  *
  * The reference materializes the full file list on the driver
  * (`snapshot.getAllFiles`, reference DeltaMetadataHandler.scala:119,151);
  * at ~100 TB a table holds millions of adds and that list is multi-GB of
  * driver heap. This engine keeps the replayed add set as a DataFrame
  * ([[DeltaFileSet]]) — these tests pin the property on a 50k-file
  * synthetic log: snapshot construction, counting, pruning, and FileIndex
  * listing must all complete with `fileSet.isCollected == false`, i.e. the
  * driver only ever holds the pruned survivor subset. */
class DeltaScaleSpec extends SparkSpec {

  private val schemaJson =
    """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"p\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}"""

  private val NumFiles = 50000
  private val NumParts = 100

  /** Synthetic 50k-add log (no data files — nothing here opens one). */
  private lazy val table: String = {
    val t = Files.createTempDirectory("graft_scale").toString + "/tbl"
    val dir = Paths.get(t, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m-scale","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val adds = (0 until NumFiles).iterator.map { i =>
      val p = i % NumParts
      val lo = i * 10L
      s"""{"add":{"path":"p=$p/part-$i.parquet","partitionValues":{"p":"$p"},"size":1024,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":10,\\"minValues\\":{\\"id\\":$lo},\\"maxValues\\":{\\"id\\":${lo + 9}}}"}}"""
    }
    Files.write(dir.resolve(f"${1L}%020d.json"),
      adds.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    t
  }

  /** Row-tracked variant: same 50k adds, each carrying baseRowId fields,
    * plus the rowTracking domain + config. */
  private lazy val trackedTable: String = {
    val t = Files.createTempDirectory("graft_scale_rt").toString + "/tbl"
    val dir = Paths.get(t, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","domainMetadata"]}}""",
      s"""{"metaData":{"id":"m-scale-rt","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{"delta.enableRowTracking":"true","delta.rowTracking.materializedRowIdColumnName":"_rid","delta.rowTracking.materializedRowCommitVersionColumnName":"_rver"},"createdTime":1}}""",
      s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\\"rowIdHighWaterMark\\":${NumFiles * 10L - 1}}","removed":false}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val adds = (0 until NumFiles).iterator.map { i =>
      val p = i % NumParts
      s"""{"add":{"path":"p=$p/part-$i.parquet","partitionValues":{"p":"$p"},"size":1024,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":10}","baseRowId":${i * 10L},"defaultRowCommitVersion":1}}"""
    }
    Files.write(dir.resolve(f"${1L}%020d.json"),
      adds.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    t
  }

  test("row-tracked 50k-file table: hwm + id-read plan never collect the add list") {
    val snap = DeltaSnapshotReader.snapshot(spark, trackedTable)
    // the high-water mark comes from the domain (one tiny agg job)
    assert(RowTracking.highWaterMark(snap) == NumFiles * 10L - 1)
    assert(!snap.fileSet.isCollected, "domain read collected the add list")
    // building + analyzing the id-carrying read plan joins the scan against
    // the DISTRIBUTED file-set DataFrame — the driver must not materialize
    // the 50k (path → baseRowId) mapping to plan it
    val df = RowTracking.readWithRowIds(spark, trackedTable)
    df.queryExecution.analyzed
    assert(df.columns.contains("_row_id") && df.columns.contains("_row_commit_version"))
    assert(!snap.fileSet.isCollected, "readWithRowIds planning collected the add list")
  }

  test("50k-file snapshot: construction and aggregates never collect the add list") {
    val snap = DeltaSnapshotReader.snapshot(spark, table)
    assert(!snap.fileSet.isCollected, "snapshot construction collected the add list")
    assert(snap.fileSet.count == NumFiles.toLong)
    assert(snap.fileSet.totalBytes == NumFiles * 1024L)
    assert(snap.version == 1L)
    assert(!snap.fileSet.isCollected, "count/totalBytes collected the add list")
  }

  test("distributed pruning collects only the survivor subset") {
    val snap = DeltaSnapshotReader.snapshot(spark, table)
    val pruned = DeltaSnapshotReader.prunedFiles(spark, snap, col("p") === 5)
    assert(pruned.size == NumFiles / NumParts)
    assert(pruned.forall(_.partitionValues("p") == "5"))
    // survivors come back stats-free or not, but the SET stays distributed
    assert(!snap.fileSet.isCollected, "prunedFiles collected the full add list")
  }

  /** Fresh synthetic 50k-add log for tests that WRITE to the table
    * (maintenance planning / enablement) — the shared fixtures above must
    * stay immutable. */
  private def mkSyntheticTable(): String = {
    val t = Files.createTempDirectory("graft_scale_w").toString + "/tbl"
    val dir = Paths.get(t, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m-scale-w","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val adds = (0 until NumFiles).iterator.map { i =>
      val p = i % NumParts
      s"""{"add":{"path":"p=$p/part-$i.parquet","partitionValues":{"p":"$p"},"size":1024,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":10}"}}"""
    }
    Files.write(dir.resolve(f"${1L}%020d.json"),
      adds.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    t
  }

  test("OPTIMIZE planning at 50k files: bin-packing never collects the add list") {
    val t = mkSyntheticTable()
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // targetBytes below the open cost → every bin is a singleton → nothing
    // to compact; the DECISION must be reached without materializing 50k
    // adds on the driver (packing runs in a distributed groupBy, only
    // multi-file bins come back)
    assert(DeltaWriter.optimize(spark, t, targetBytes = 1024).isEmpty)
    assert(!snap.fileSet.isCollected, "OPTIMIZE planning collected the add list")
  }

  test("VACUUM at 50k files pages the active-path set, never collects the adds") {
    val t = mkSyntheticTable()
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // no orphan data files on disk → nothing deletable; the point is the
    // active-set fold must go through the paged iterator
    assert(DeltaWriter.vacuum(spark, t, retentionMs = 0L).isEmpty)
    assert(!snap.fileSet.isCollected, "VACUUM collected the add list")
    // the paged iterator yields the complete path set on its own
    assert(snap.fileSet.pathsIterator.size == NumFiles)
    assert(!snap.fileSet.isCollected, "pathsIterator collected the add list")
  }

  test("incremental clustering OPTIMIZE at 50k files touches ONLY post-watermark files") {
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("graft_scale_cl").toString + "/tbl"
    val dir = Paths.get(t, "_delta_log")
    Files.createDirectories(dir)
    // v0: clustered table, layout watermark says "fully clustered as of v1"
    Files.write(dir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["clustering","domainMetadata"]}}""",
      s"""{"metaData":{"id":"m-scale-cl","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{},"createdTime":1}}""",
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"id\"]]}","removed":false}}""",
      s"""{"domainMetadata":{"domain":"${Clustering.StateDomain}","configuration":"{\\"clusteredAtVersion\\":1}","removed":false}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // v1: the 50k already-clustered phantom files (never opened below)
    val adds = (0 until NumFiles).iterator.map { i =>
      val p = i % NumParts
      s"""{"add":{"path":"p=$p/part-$i.parquet","partitionValues":{"p":"$p"},"size":1024,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":10}"}}"""
    }
    Files.write(dir.resolve(f"${1L}%020d.json"),
      adds.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // v2: two REAL post-watermark ingest files (these must be readable —
    // the incremental rewrite clusters exactly them)
    import spark.implicits._
    val newPaths = (0 until 2).map { i =>
      val tmp = Files.createTempDirectory("graft_scale_cl_in").toString + "/out"
      Seq.range(i * 100L, i * 100L + 50L).toDF("id").coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator.asScala
        .map(_.toString).find(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).get
      val rel = s"p=0/ingest-$i.parquet"
      Files.createDirectories(Paths.get(t, "p=0"))
      Files.copy(Paths.get(part), Paths.get(t, rel))
      rel
    }
    Files.write(dir.resolve(f"${2L}%020d.json"),
      newPaths.map { p =>
        val sz = Files.size(Paths.get(t, p))
        s"""{"add":{"path":"$p","partitionValues":{"p":"0"},"size":$sz,"modificationTime":2,"dataChange":true,"stats":"{\\"numRecords\\":50}"}}"""
      }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val pre = DeltaSnapshotReader.snapshot(spark, t)
    Clustering.optimize(spark, t)
    assert(!pre.fileSet.isCollected,
      "incremental clustering OPTIMIZE collected the full add list")
    val post = DeltaSnapshotReader.snapshot(spark, t)
    assert(post.version == 3L)
    // the 50k phantom files are untouched; the 2 ingest files were replaced
    val postPaths = scala.collection.mutable.HashSet[String]()
    post.fileSet.pathsIterator.foreach(postPaths += _)
    assert(!post.fileSet.isCollected)
    newPaths.foreach(p => assert(!postPaths.contains(p), s"$p not rewritten"))
    assert(postPaths.count(_.startsWith("p=")) >= NumFiles)
    assert(postPaths.exists(_.startsWith("v3-")), // commit-unique "v<N>-<uuid>" dir
      "no clustered replacement written")
    // watermark advanced to this commit
    assert(post.domainMetadata(Clustering.StateDomain).contains("\"clusteredAtVersion\":3"))
    // nothing new since v3 → commit-free no-op
    assert(Clustering.optimize(spark, t) == 3L)
    assert(DeltaSnapshotReader.snapshot(spark, t).version == 3L)
  }

  test("row-tracking backfill at 50k files streams the commit, never collects the adds") {
    val t = mkSyntheticTable()
    val pre = DeltaSnapshotReader.snapshot(spark, t)
    val v = DeltaWriter.enableRowTracking(spark, t)
    assert(v == 2L)
    assert(!pre.fileSet.isCollected, "backfill collected the pre-enable add list")
    // ids are the path-ordered prefix sum of numRecords: 50k files x 10 rows
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(RowTracking.highWaterMark(snap) == NumFiles * 10L - 1)
    assert(!snap.fileSet.isCollected)
    // spot-check the re-adds carry contiguous path-ordered ranges: the
    // first file in path order (p=0/part-0) starts at 0
    val first = snap.fileSet.filterCollect(_.path == "p=0/part-0.parquet")
    assert(first.head.baseRowId.contains(0L))
    assert(first.head.defaultRowCommitVersion.contains(2L))
  }

  /** CDF variant: v1 ingests 50k files, v2 deletes 25k of them — the kind
    * of range a feed consumer replays after a large rewrite. */
  private lazy val cdfTable: String = {
    val t = Files.createTempDirectory("graft_scale_cdf").toString + "/tbl"
    val dir = Paths.get(t, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"m-scale-cdf","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1}}"""
    ).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val adds = (0 until NumFiles).iterator.map { i =>
      val p = i % NumParts
      s"""{"add":{"path":"p=$p/part-$i.parquet","partitionValues":{"p":"$p"},"size":1024,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":10}"}}"""
    }
    Files.write(dir.resolve(f"${1L}%020d.json"),
      adds.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val removes = (0 until NumFiles / 2).iterator.map { i =>
      val p = i % NumParts
      s"""{"remove":{"path":"p=$p/part-$i.parquet","deletionTimestamp":2,"dataChange":true}}"""
    }
    Files.write(dir.resolve(f"${2L}%020d.json"),
      removes.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    t
  }

  test("CDF range planning never materializes the range's actions on the driver") {
    // plan the feed over a 75k-action range: the reader's driver traffic is
    // the per-version SUMMARY (3 rows), never the action rows themselves
    val feed = ChangeDataFeed.read(spark, cdfTable, fromVersion = 1L)
    feed.queryExecution.analyzed
    assert(feed.columns.contains(ChangeDataFeed.ChangeTypeCol))
    // neither the end snapshot nor the pre-delete snapshot (the remove
    // part's file source) had its add list pulled to the driver
    assert(!DeltaSnapshotReader.snapshot(spark, cdfTable).fileSet.isCollected,
      "CDF planning collected the end snapshot's add list")
    assert(!DeltaSnapshotReader.snapshotAt(spark, cdfTable, Some(1L)).fileSet.isCollected,
      "CDF remove reconstruction collected the prior snapshot's add list")
  }

  test("incremental reads over a 25k-file delete bring per-commit flags and delivered adds to the driver, never the removes") {
    // rows each Dataset collect of `changes` returns: the count of the
    // topmost operator that counts its output
    val returned = new java.util.concurrent.atomic.AtomicLong()
    val plans = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.find(qe.executedPlan)(_.metrics.contains("numOutputRows"))
          .foreach(p => returned.addAndGet(p.metrics("numOutputRows").value))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    distributedOnly {
      DeltaSnapshotReader.snapshot(spark, cdfTable)
      BusDrain.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      val (feed, refused) = try {
        (DeltaSnapshotReader.changes(spark, cdfTable, 1L, Some(2L), "ignoreDeletes"),
          intercept[IllegalArgumentException](DeltaSnapshotReader.changes(spark, cdfTable, 1L, Some(2L))))
      } finally {
        BusDrain.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      assert(refused.getMessage.contains("non-append changes"))
      assert(feed.isEmpty, "a delete-only commit delivered rows under ignoreDeletes")
      assert(returned.get > 0 && returned.get < 100,
        s"changes() brought ${returned.get} rows to the driver for a 25k-remove commit")
    }
  }

  test("FileIndex listing takes the distributed path: partition + stats pruning") {
    val snap = DeltaSnapshotReader.snapshot(spark, table)
    val idx = new DeltaFileIndex(spark, snap)
    val pAttr = AttributeReference("p", IntegerType)()
    val dirs = idx.listFiles(Seq(EqualTo(pAttr, Literal(5))), Nil)
    assert(dirs.map(_.files.size).sum == NumFiles / NumParts)
    assert(!snap.fileSet.isCollected, "listFiles collected the full add list")
    // data-filter stats skipping also runs distributed: id ≥ 499_990 keeps
    // only the last file of partition p = (49999 % 100)
    val idAttr = AttributeReference("id", LongType)()
    val skipped = idx.listFiles(Nil, Seq(GreaterThanOrEqual(idAttr, Literal(499990L))))
    assert(skipped.map(_.files.size).sum == 1)
    assert(!snap.fileSet.isCollected, "stats skipping collected the full add list")
  }

  // ------------------------------------------------------------------
  // Whole-table operations (VERDICT r16 #1): BY SOURCE clause MERGE,
  // full-table ZORDER and ADD CONSTRAINT must run END-TO-END without
  // materializing the add list. These need real data files (they read
  // rows), so the fixture is a modest multi-file REAL table — the
  // collect-vs-distributed behavior of the code path is size-independent.
  // ------------------------------------------------------------------

  private def realTable(dvEnabled: Boolean): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_scale_real").toString + "/tbl"
    DeltaWriter.write(
      (0L until 600L).map(i => (i, s"s$i", i % 3)).toDF("id", "v", "grp")
        .repartition(40), t, Nil, "overwrite")
    // > Checksum.AllFilesEchoThreshold files: the crc carries no allFiles
    // echo, so validation never takes the small-table collect path — the
    // same artifact shape a million-file table has
    if (dvEnabled)
      DeltaWriter.setProperties(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    // the writes above ran at the default gates and cached the snapshots
    // their commits leave, collected: the tests read the table cold
    DeltaSnapshotReader.invalidate(t)
    t
  }

  /** Run `body` with the driver file-list threshold AND the local-replay
    * byte gate at 0, so a small real table exercises the same distributed
    * replay/listing/planning branches a million-file table would — that's
    * what the lock is about (r17: small logs otherwise replay driver-side
    * and are born collected by design). */
  private def distributedOnly[A](body: => A): A = {
    spark.conf.set("spark.graft.delta.driverFileListThreshold", "0")
    spark.conf.set("spark.graft.delta.localReplayMaxBytes", "0")
    try body
    finally {
      spark.conf.unset("spark.graft.delta.driverFileListThreshold")
      spark.conf.unset("spark.graft.delta.localReplayMaxBytes")
    }
  }

  test("BY SOURCE clause MERGE (DV leg) never collects the add list") {
    import spark.implicits._
    val t = realTable(dvEnabled = true)
    distributedOnly {
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(!snap.fileSet.isCollected)
    val src = (0L until 100L).map(i => (i, s"n$i", i % 3)).toDF("id", "v", "grp")
    DeltaWriter.mergeClauses(spark, t, src, Seq("id"), Seq(
      DeltaWriter.MatchedUpdateAll(),
      // first applicable clause wins: the delete must precede the update
      // or ids >= 590 would be caught by the update's broader condition
      DeltaWriter.NotMatchedBySourceDelete(Some(col("t.id") >= 590L)),
      DeltaWriter.NotMatchedBySourceUpdate(Map("v" -> lit("stale")),
        Some(col("t.id") >= 500L))))
    assert(!snap.fileSet.isCollected,
      "BY SOURCE DV clause merge collected the base add list")
    val after = DeltaSnapshotReader.load(spark, t)
    assert(after.count() == 590L)
    assert(after.filter(col("v") === "stale").count() == 90L)
    assert(after.filter(col("v").startsWith("n")).count() == 100L)
    }
  }

  test("BY SOURCE clause MERGE (CoW leg) streams the whole-table commit") {
    import spark.implicits._
    val t = realTable(dvEnabled = false)
    distributedOnly {
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    val src = (0L until 50L).map(i => (i, s"n$i", i % 3)).toDF("id", "v", "grp")
    DeltaWriter.mergeClauses(spark, t, src, Seq("id"), Seq(
      DeltaWriter.MatchedUpdateAll(),
      DeltaWriter.NotMatchedBySourceDelete(Some(col("t.id") >= 550L))))
    assert(!snap.fileSet.isCollected,
      "BY SOURCE CoW clause merge collected the base add list")
    val after = DeltaSnapshotReader.load(spark, t)
    assert(after.count() == 550L)
    assert(after.filter(col("v").startsWith("n")).count() == 50L)
    // the streamed commit removed every prior file exactly once
    val prior = DeltaSnapshotReader.snapshotAt(spark, t, Some(snap.version))
    assert(DeltaSnapshotReader.snapshot(spark, t).tombstones.map(_.path).toSet
      .intersect(prior.fileSet.pathsIterator.toSet).size == 40)
    }
  }

  test("full-table ZORDER never collects the add list; commit streams removes") {
    import spark.implicits._
    val t = realTable(dvEnabled = false)
    distributedOnly {
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    DeltaWriter.zorder(spark, t, Seq("id", "grp"), bits = 4)
    assert(!snap.fileSet.isCollected, "full-table zorder collected the add list")
    val after = DeltaSnapshotReader.load(spark, t)
    assert(after.count() == 600L)
    assert(after.agg(sum(col("id"))).head.getLong(0) == (0L until 600L).sum)
    }
  }

  test("ADD CONSTRAINT validates existing rows without collecting the add list") {
    val t = realTable(dvEnabled = false)
    distributedOnly {
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    DeltaWriter.setProperties(spark, t,
      Map("delta.constraints.id_nonneg" -> "id >= 0"))
    assert(!snap.fileSet.isCollected, "ADD CONSTRAINT collected the add list")
    }
  }
}
