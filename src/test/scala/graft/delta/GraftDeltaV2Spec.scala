package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** DataSource V2 provider (`graftdelta2`): reads equal the v1 reader, and
  * the plan the analyzer substitutes ([[DeltaFileIndex.relation]]) shows
  * the three pushdowns on its `FileSourceScanExec` — partition pruning
  * (consumed partition filters, pruned file listing), column pruning
  * (narrowed read schema), data-filter pushdown (parquet filters, stats
  * skipping, a `Filter` residual). No `BatchScanExec` is planned. */
class GraftDeltaV2Spec extends SparkSpec {
  import spark.implicits._

  private lazy val table: String = {
    val t = Files.createTempDirectory("graft_v2").toString + "/tbl"
    val df = (1L to 300L).map(i => (i, s"r$i", (i % 3).toInt, i * 1.5))
      .toDF("id", "s", "p", "v")
    DeltaWriter.write(df.repartition(4), t, Seq("p"), "overwrite")  // v0
    DeltaWriter.write(Seq((301L, "x", 0, 451.5)).toDF("id", "s", "p", "v"), t, Seq("p")) // v1
    t
  }

  private def v2(options: (String, String)*) = {
    val r = spark.read.format("graftdelta2")
    options.foldLeft(r)((r, o) => r.option(o._1, o._2)).load(table)
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // finalize any adaptive plan
    val plan = df.queryExecution.executedPlan
    assert(plan.collectWithSubqueries { case b: BatchScanExec => b }.isEmpty, s"BatchScanExec in:\n$plan")
    val scans = plan.collectWithSubqueries { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"no FileSourceScanExec in:\n$plan")
    assert(scans.head.relation.location.isInstanceOf[DeltaFileIndex], scans.head.relation.location)
    scans.head
  }

  /** The data files the scan reads: its index listed under its own
    * partition and data filters. */
  private def filesOf(scan: FileSourceScanExec): Seq[String] =
    scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))

  test("full v2 read equals the v1 log reader, in logical column order") {
    val got = v2().orderBy("id").collect().map(_.toSeq).toSeq
    val want = DeltaSnapshotReader.load(spark, table)
      .select("id", "s", "p", "v").orderBy("id").collect().map(_.toSeq).toSeq
    assert(v2().columns.toSeq == Seq("id", "s", "p", "v"))
    assert(got == want)
  }

  test("partition filters are consumed and prune input partitions") {
    val df = v2().filter(col("p") === 1 && col("v") > 0.0)
    assert(df.count() == 100L)
    val scan = scanOf(df)
    assert(scan.partitionFilters.nonEmpty, "partition filter not consumed")
    val files = filesOf(scan)
    assert(files.nonEmpty && files.forall(_.contains("p=1")),
      s"unpruned files: ${files.mkString(", ")}")
  }

  test("column pruning narrows the read schema; partition col injected last") {
    val df = v2().select("s", "p")
    val scan = scanOf(df)
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("s"), scan.requiredSchema)
    assert(scan.relation.partitionSchema.fieldNames.toSeq == Seq("p"))
    assert(scan.output.map(_.name) == Seq("s", "p"), scan.output)
    assert(df.distinct().count() == 301L)
  }

  test("data filters push to parquet and remain post-scan residuals") {
    val df = v2().filter(col("id") <= 10L).select("id", "v")
    assert(df.count() == 10L)
    val scan = scanOf(df)
    assert(scan.dataFilters.nonEmpty, "data filter lost")
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThanOrEqual(id,10)"), pushed)
    // residual: the executed plan still re-checks the predicate for exactness
    assert(df.queryExecution.executedPlan.toString.contains("Filter"),
      df.queryExecution.executedPlan.toString)
  }

  test("stats-based skipping drops files the predicate disproves") {
    // id is clustered per file only loosely (repartition(4)), but v1's file
    // (id=301) is provably outside id<=10 by min/max stats; at minimum the
    // pruned listing must be strictly smaller than the full one
    val all = filesOf(scanOf(v2())).length
    val pruned = filesOf(scanOf(v2().filter(col("id") > 300L))).length
    assert(pruned < all, s"skipping pruned nothing: $pruned vs $all")
  }

  test("time travel options resolve through the shared v1 path") {
    assert(v2("versionAsOf" -> "0").count() == 300L)
    assert(v2().count() == 301L)
  }

  test("DV-carrying tables read live rows via the engine-read substitution") {
    val t = Files.createTempDirectory("graft_v2dv").toString + "/tbl"
    DeltaWriter.write((1L to 50L).toDF("id"), t, Nil, "overwrite")
    DeltaWriter.deleteWithDV(spark, t, col("id") <= 5L)
    // session carries GraftExtensions → GraftDeltaEngineReadRule rewrites
    // the v2 relation into the DV-aware engine plan: masked rows are gone
    val df = spark.read.format("graftdelta2").load(t)
    assert(df.count() == 45L)
    assert(df.agg(org.apache.spark.sql.functions.min(col("id"))).head.getLong(0) == 6L)
  }

  test("without the extensions the scan reads live rows of a DV-carrying table") {
    val t = Files.createTempDirectory("graft_v2dv_bare").toString + "/tbl"
    // one multi-row file: a partial DV delete must leave a real DV behind
    // (single-row files would fully-delete into plain removes)
    DeltaWriter.write((1L to 20L).toDF("id").coalesce(1), t, Nil, "overwrite")
    DeltaWriter.deleteWithDV(spark, t, col("id") <= 5L)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.fileSet.hasDeletionVectors)
    // the scan Spark plans when no rule replaced the relation: a V1 scan
    // whose TableScan runs the engine plan
    val scan = new GraftDeltaTable(spark, snap).newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of("path", t))).build()
    val rel = scan.asInstanceOf[org.apache.spark.sql.connector.read.V1Scan]
      .toV1TableScan[GraftDeltaEngineRelation](spark.sqlContext)
    assert(rel.schema == scan.readSchema())
    // needConversion=false: the rows are Catalyst's internal rows
    val ids = rel.buildScan().asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]
      .map(_.getLong(0)).collect().sorted.toSeq
    assert(ids == (6L to 20L))
  }
}
