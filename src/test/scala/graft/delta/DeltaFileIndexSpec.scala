package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class DeltaFileIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val table: String = {
    val t = Files.createTempDirectory("graft_fidx").toString + "/tbl"
    val df = Seq(
      (1L, 1995, "x"), (2L, 1995, "y"), (3L, 1996, "z"),
      (4L, 1997, "w"), (5L, 1997, "v")).toDF("id", "yr", "s")
    DeltaWriter.write(df, t, partitionBy = Seq("yr"))
    t
  }

  test("native FileIndex read equals join-based read") {
    val a = DeltaSnapshotReader.load(spark, table)
      .select("id", "yr", "s").collect().map(_.toSeq).toSet
    val b = DeltaSnapshotReader.loadViaJoin(spark, table)
      .select("id", "yr", "s").collect().map(_.toSeq).toSet
    assert(a == b && a.size == 5)
  }

  test("spark.read.format(graftdelta) resolves via DataSourceRegister") {
    val df = spark.read.format("graftdelta").load(table)
    assert(df.columns.toSeq == Seq("id", "yr", "s")) // table-schema order
    assert(df.count() == 5)
    val v0 = spark.read.format("graftdelta").option("versionAsOf", "0").load(table)
    assert(v0.count() == 5)
  }

  test("partition filter prunes at the file-listing level in the plan") {
    val df = DeltaSnapshotReader.load(spark, table).filter(col("yr") === 1995)
    df.collect()
    val scan = df.queryExecution.executedPlan.toString
    // FileSourceScanExec reports the pruned partition count
    assert(scan.contains("PartitionFilters"), scan)
    assert(df.count() == 2)
    val withData = DeltaSnapshotReader.load(spark, table)
      .filter(col("yr") === 1995 && col("id") > 1)
    assert(withData.collect().map(_.getLong(0)).toSeq == Seq(2L))
    val p = withData.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(id,1"), p)
  }

  test("numFiles in scan matches log-level pruning expectation") {
    val df = DeltaSnapshotReader.load(spark, table).filter(col("yr") >= 1996)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val snap = DeltaSnapshotReader.snapshot(spark, table)
    val expected = DeltaSnapshotReader.prunedFiles(spark, snap, col("yr") >= 1996)
    assert(scans.head.inputRDDs().nonEmpty) // forces selectedPartitions
    val listed = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, Nil).map(_.files.size).sum
    assert(listed == expected.size)
  }
}
