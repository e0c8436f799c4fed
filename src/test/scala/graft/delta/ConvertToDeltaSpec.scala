package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** CONVERT TO DELTA: in-place conversion of plain parquet directories —
  * reads equal the original, inferred partition types prune, footer stats
  * skip, and the converted table immediately supports the full DML
  * surface. */
class ConvertToDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("graft_conv").toString + "/t"

  test("partitioned conversion: identical reads, typed pruning, footer stats") {
    val d = newDir()
    (1L to 100L).map(i => (i, s"r$i", (i % 4).toInt))
      .toDF("id", "s", "bucket")
      .write.partitionBy("bucket").parquet(d)
    DeltaWriter.convertToDelta(spark, d, Seq("bucket"))
    val snap = DeltaSnapshotReader.snapshot(spark, d)
    assert(snap.version == 0L && snap.partitionColumns == Seq("bucket"))
    // partition column type came from inference, not raw string
    assert(snap.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
    val got = DeltaSnapshotReader.load(spark, d).select("id").as[Long].collect()
    assert(got.sorted.toSeq == (1L to 100L))
    // pruning on the inferred partition column opens only its files
    val pruned = DeltaSnapshotReader.prunedFiles(spark, snap, col("bucket") === 2)
    assert(pruned.nonEmpty && pruned.forall(_.partitionValues("bucket") == "2"))
    // footer stats landed on every add → data skipping is live
    assert(snap.files.forall(_.stats.isDefined))
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, Literal}
    import org.apache.spark.sql.types.LongType
    val idx = new DeltaFileIndex(spark, snap)
    val skipped = idx.listFiles(Nil,
      Seq(GreaterThan(AttributeReference("id", LongType)(), Literal(1000L))))
    assert(skipped.map(_.files.size).sum == 0,
      "stats skipping should disprove id > 1000 everywhere")
  }

  test("converted table supports DML and maintenance immediately") {
    val d = newDir()
    (1L to 50L).map(i => (i, s"r$i")).toDF("id", "s").write.parquet(d)
    DeltaWriter.convertToDelta(spark, d)
    DeltaWriter.delete(spark, d, col("id") <= 10L)
    DeltaWriter.write(Seq((200L, "new")).toDF("id", "s"), d)
    val got = DeltaSnapshotReader.load(spark, d).select("id").as[Long].collect().sorted
    assert(got.head == 11L && got.last == 200L && got.length == 41)
    // time travel back to the conversion snapshot
    assert(DeltaSnapshotReader.load(spark, d, versionAsOf = Some(0L)).count() == 50L)
  }

  test("undeclared hive partition dirs refuse (would read as all-null)") {
    val d = newDir()
    (1L to 20L).map(i => (i, (i % 2).toInt)).toDF("id", "bucket")
      .write.partitionBy("bucket").parquet(d)
    val e = intercept[IllegalArgumentException](
      DeltaWriter.convertToDelta(spark, d)) // partitionColumns omitted
    assert(e.getMessage.contains("bucket") && e.getMessage.contains("undeclared"),
      e.getMessage)
    // the failed conversion left no log behind — a retry with the right
    // declaration succeeds
    DeltaWriter.convertToDelta(spark, d, Seq("bucket"))
    assert(DeltaSnapshotReader.load(spark, d)
      .filter(col("bucket") === 1).count() == 10L)
  }

  test("collectStats=false skips the footer pass; already-delta refuses") {
    val d = newDir()
    (1L to 10L).map(i => (i, i * 2.0)).toDF("id", "v").write.parquet(d)
    DeltaWriter.convertToDelta(spark, d, collectStats = false)
    val snap = DeltaSnapshotReader.snapshot(spark, d)
    assert(snap.files.forall(_.stats.isEmpty))
    assert(DeltaSnapshotReader.load(spark, d).count() == 10L)
    intercept[IllegalArgumentException](DeltaWriter.convertToDelta(spark, d))
  }

  test("collectStats lists the table tree no more often than a conversion without stats") {
    // per directory (relative to the table root), how often it was listed
    // outside _delta_log: Spark's schema inference lists each once, and
    // its file index feeds both the footer pass and the adds
    def listings(collectStats: Boolean): Map[String, Int] = {
      val d = newDir()
      (1L to 40L).map(i => (i, s"r$i", (i % 4).toInt)).toDF("id", "s", "bucket")
        .write.partitionBy("bucket").parquet(d)
      val root = new java.io.File(d).toURI.getPath.stripSuffix("/")
      val (_, calls) = CountingFileSystem.count(spark)(
        DeltaWriter.convertToDelta(spark, d, Seq("bucket"), collectStats = collectStats))
      info(s"collectStats=$collectStats: $calls")
      calls.listedData.map(_.stripSuffix("/").stripPrefix(root)).groupBy(identity).map {
        case (dir, n) => dir -> n.size }
    }
    val withStats = listings(collectStats = true)
    val without = listings(collectStats = false)
    assert(withStats.size == 5, withStats) // the root and its 4 partition directories
    assert(withStats == without, s"with stats $withStats, without $without")
    assert(withStats.values.forall(_ == 1), withStats)
  }

  test("CONVERT commits its adds as ordinary lines: no log file opened, the next read a hit") {
    val d = newDir()
    (1L to 40L).map(i => (i, s"r$i", (i % 4).toInt)).toDF("id", "s", "bucket")
      .write.partitionBy("bucket").parquet(d)
    val (_, calls) = CountingFileSystem.count(spark)(
      DeltaWriter.convertToDelta(spark, d, Seq("bucket")))
    info(s"CONVERT: $calls")
    // the crc is rendered from the snapshot the commit leaves: neither the
    // commit just written nor a crc is read back
    assert(calls.open == 0, calls)
    val (snap, resolutions) = ResolutionLog.capture(DeltaSnapshotReader.snapshot(spark, d))
    assert(resolutions.map(ResolutionLog.kind) == Seq("hit"), resolutions)
    assert(snap.version == 0L && snap.files.map(_.partitionValues("bucket")).toSet == Set("0", "1", "2", "3"))
    assert(DeltaSnapshotReader.load(spark, d).count() == 40L)
  }
}
