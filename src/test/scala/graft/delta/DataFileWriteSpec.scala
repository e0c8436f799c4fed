package graft.delta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The files a commit adds come from what its write tasks report
  * ([[DataFiles.write]]). Each case checks the commit's `add` (and `cdc`)
  * actions against what a listing of the commit's directory plus footer
  * stats give for the same files: the same path set, sizes, modification
  * times and partition values, and byte-identical stats JSON. The retry
  * cases run on the test session's 2 attempts per task. */
class DataFileWriteSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private def newTable(): String = Files.createTempDirectory("graft_datafiles").toString + "/tbl"

  /** One file action as compared: path as logged, partition values, size,
    * modification time (None for cdc) and stats. */
  private type Entry = (String, Map[String, String], Long, Option[Long], Option[String])

  /** The `kind` actions (`add` or `cdc`) of commit `version`. */
  private def logged(t: String, version: Long, kind: String): Set[Entry] = {
    val lines = Files.readAllLines(java.nio.file.Paths.get(t, "_delta_log", f"$version%020d.json")).asScala
    lines.map(mapper.readTree).filter(_.has(kind)).map(_.get(kind)).map { a =>
      def text(n: JsonNode): Option[String] = Option(n).filterNot(_.isNull).map(_.asText)
      val pv = a.get("partitionValues").fields().asScala
        .map(e => e.getKey -> text(e.getValue).orNull).toMap
      (a.get("path").asText, pv, a.get("size").asLong,
        Option(a.get("modificationTime")).map(_.asLong), text(a.get("stats")))
    }.toSet
  }

  /** The same actions as a listing of `dir` (relative to the table) and
    * footer stats over `statCols` give them. */
  private def listed(t: String, dir: String, partitionBy: Seq[String],
                     statCols: Option[Seq[(String, DataType)]], withTime: Boolean = true): Set[Entry] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(new java.io.File(t).getAbsolutePath)
    val fs = root.getFileSystem(conf)
    val d = new Path(root, dir)
    if (!fs.exists(d)) return Set.empty
    DataFiles.listDataFiles(fs, d).map { st =>
      val rel = DeltaWriter.relativize(root, st.getPath)
      (DeltaActions.encodePath(rel), DeltaWriter.hivePartitionValues(rel, partitionBy), st.getLen,
        Option.when(withTime)(st.getModificationTime), statCols.flatMap(DataFiles.footerStatsJson(st, conf, _)))
    }.toSet
  }

  /** The commit directory of a write's adds (their shared first segment). */
  private def dirOf(adds: Set[Entry]): String = {
    val dirs = adds.map(a => DeltaActions.decodePath(a._1).split('/').head)
    assert(dirs.size == 1, s"adds span directories $dirs")
    dirs.head
  }

  /** Write `df` as commit `version` of `t` and check its adds against the
    * listing; returns them. */
  private def checkWrite(t: String, df: DataFrame, partitionBy: Seq[String] = Nil): Set[Entry] = {
    DeltaWriter.write(df, t, partitionBy)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    val adds = logged(t, snap.version, "add")
    val diskPartitionBy = partitionBy.map(snap.physicalFieldName)
    val statCols = DataFiles.statColumns(snap.physicalDataSchema, snap.configuration)
    if (adds.nonEmpty) assert(adds == listed(t, dirOf(adds), diskPartitionBy, Some(statCols)))
    adds
  }

  private def rows(from: Int, n: Int): DataFrame =
    (from until from + n).map { i =>
      (i.toLong, if (i % 5 == 0) null else s"s$i", i * 0.5, java.sql.Date.valueOf("2024-01-01").toLocalDate
        .plusDays(i).toString, BigDecimal(i) / 3, i % 2 == 0, Seq("a", "b c", null, "x:y", "")(i % 5))
    }.toDF("id", "name", "score", "day", "amount", "flag", "p")
      .withColumn("day", col("day").cast(DateType))
      .withColumn("amount", col("amount").cast(DecimalType(12, 4)))

  test("unpartitioned write: adds equal the listing and footer stats of the commit directory") {
    val adds = checkWrite(newTable(), rows(0, 200).repartition(4))
    assert(adds.size == 4 && adds.forall(_._5.exists(_.contains("\"numRecords\":"))))
  }

  test("partitioned write with a null and an empty partition value: adds equal the listing") {
    val t = newTable()
    val adds = checkWrite(t, rows(0, 200).repartition(3), Seq("p"))
    // "" and null both land in the default partition
    assert(adds.map(_._2("p")) == Set("a", "b c", null, "x:y"))
    assert(DeltaSnapshotReader.load(spark, t).filter(col("p").isNull).count() == 80)
  }

  Seq("name", "id").foreach { mode =>
    test(s"column mapping in $mode mode: creation and append adds equal the listing") {
      val t = newTable()
      DeltaWriter.createColumnMapped(rows(0, 100).repartition(2), t, mode, Seq("p"))
      val snap = DeltaSnapshotReader.snapshot(spark, t)
      val created = logged(t, 0, "add")
      assert(created == listed(t, dirOf(created), Seq("p").map(snap.physicalFieldName),
        Some(DataFiles.statColumns(snap.physicalDataSchema, Map.empty))))
      val appended = checkWrite(t, rows(100, 100).repartition(2), Seq("p"))
      // stats and partition values are keyed by physical names
      assert(appended.forall(a => a._2.keySet == Set(snap.physicalFieldName("p")) &&
        a._5.exists(_.contains(snap.physicalFieldName("id")))))
      assert(DeltaSnapshotReader.load(spark, t).count() == 200)
    }
  }

  test("empty DataFrame: one empty file unpartitioned, none partitioned") {
    val schema = rows(0, 1).schema
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val unpartitioned = checkWrite(newTable(), empty)
    assert(unpartitioned.size == 1 && unpartitioned.head._5.exists(_.startsWith("{\"numRecords\":0,")))
    val t = newTable()
    assert(checkWrite(t, empty, Seq("p")).isEmpty)
    assert(DeltaSnapshotReader.load(spark, t).count() == 0)
  }

  test("a 40-file write: adds equal the listing") {
    val adds = checkWrite(newTable(), rows(0, 400).repartition(40))
    assert(adds.size == 40)
  }

  test("MERGE on a change-data-feed table: adds and cdc files equal the listing") {
    val t = newTable()
    DeltaWriter.write(rows(0, 100).repartition(2), t, Seq("p"))
    DeltaWriter.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.merge(spark, t, rows(80, 40).withColumn("score", col("score") + 1), Seq("id"))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    val adds = logged(t, snap.version, "add")
    assert(adds.nonEmpty && adds == listed(t, dirOf(adds), Seq("p"),
      Some(DataFiles.statColumns(snap.physicalDataSchema, snap.configuration))))
    val cdc = logged(t, snap.version, "cdc")
    val cdcDirs = cdc.map(c => DeltaActions.decodePath(c._1).split('/').take(2).mkString("/"))
    assert(cdc.nonEmpty && cdcDirs.size == 1)
    assert(cdc == listed(t, cdcDirs.head, Seq("p"), None, withTime = false))
    assert(ChangeDataFeed.read(spark, t, snap.version).count() == 60) // 20 updates × 2 + 20 inserts
  }

  /** Data files under `t` that no add of its snapshot references. */
  private def orphans(t: String): Set[String] = {
    val root = new Path(new java.io.File(t).getAbsolutePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val onDisk = DataFiles.listDataFiles(fs, root).map(st => DeltaWriter.relativize(root, st.getPath))
      .filterNot(_.startsWith("_delta_log/")).toSet
    onDisk -- DeltaSnapshotReader.snapshot(spark, t).files.map(f => DeltaActions.decodePath(f.path))
  }

  /** 400 ids in 4 write partitions; the first attempt of partition 0 runs
    * `failFirst` on its task. */
  private def withFailingFirstAttempt(failFirst: TaskContext => Iterator[Row] => Iterator[Row]): DataFrame = {
    val src = spark.range(0, 400, 1, 4).toDF("id")
    spark.createDataFrame(src.rdd.mapPartitions { it =>
      val ctx = TaskContext.get()
      if (ctx.partitionId() == 0 && ctx.attemptNumber() == 0) failFirst(ctx)(it) else it
    }, src.schema)
  }

  test("a task attempt that fails after committing its file: no add references the orphan, VACUUM deletes it") {
    val t = newTable()
    DeltaWriter.write(withFailingFirstAttempt { ctx => it =>
      ctx.addTaskCompletionListener[Unit](_ => throw new IllegalStateException("injected: attempt lost after its commit"))
      it
    }, t)
    assert(DeltaSnapshotReader.load(spark, t).orderBy("id").as[Long].collect().toSeq == (0L until 400L))
    val orphan = orphans(t)
    assert(orphan.size == 1, s"orphans: $orphan")
    Thread.sleep(5) // VACUUM removes files strictly older than its horizon
    assert(DeltaWriter.vacuum(spark, t, retentionMs = 0L) == orphan.toSeq)
    assert(orphans(t).isEmpty)
    assert(DeltaSnapshotReader.load(spark, t).count() == 400)
  }

  test("a task attempt that fails while writing deletes its own file") {
    val t = newTable()
    DeltaWriter.write(withFailingFirstAttempt { _ => it =>
      it.zipWithIndex.map { case (r, i) =>
        if (i == 50) throw new IllegalStateException("injected: attempt fails mid-write")
        r
      }
    }, t)
    assert(DeltaSnapshotReader.load(spark, t).orderBy("id").as[Long].collect().toSeq == (0L until 400L))
    assert(orphans(t).isEmpty)
  }
}
