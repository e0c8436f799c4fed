package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** SQL-visible reads of column-mapped + DV-carrying tables through the
  * analyzer-time engine-read substitution ([[GraftDeltaEngineReadRule]]):
  * the v1 relation, the `graftdelta2` provider, the session catalog, and
  * the V2 path catalog all serve the same live rows under logical names,
  * and writes through the catalog still work after a DV delete. */
class EngineReadSpec extends SparkSpec {
  import spark.implicits._

  // table: ids 1..100 with a renamed column under NAME column mapping,
  // then ids <= 20 DV-deleted → 80 live rows, min id 21
  private lazy val tbl: String = {
    val t = Files.createTempDirectory("graft_engineread").toString + "/tbl"
    DeltaWriter.write(
      (1L to 100L).map(i => (i, s"name_$i", i * 1.5)).toDF("id", "n", "price"),
      t, Nil, "overwrite")
    DeltaWriter.enableColumnMapping(spark, t)
    DeltaWriter.renameColumn(spark, t, "n", "label")
    DeltaWriter.deleteWithDV(spark, t, col("id") <= 20L)
    t
  }

  private def checkLive(df: org.apache.spark.sql.DataFrame): Unit = {
    assert(df.columns.toSeq == Seq("id", "label", "price"))
    val agg = df.agg(count(lit(1)), min(col("id")), max(col("id")),
      sum(col("price")).cast("long")).head
    assert(agg.getLong(0) == 80L, s"live count ${agg.getLong(0)}")
    assert(agg.getLong(1) == 21L)
    assert(agg.getLong(2) == 100L)
    assert(agg.getLong(3) == ((21L to 100L).map(_ * 1.5).sum).toLong)
  }

  test("v1 relation reads mapped+DV table live (engine substitution)") {
    val df = spark.read.format("graftdelta").load(tbl)
    checkLive(df)
    // the substituted plan is the engine's file-source scan, not a
    // DSv2/plain-parquet one — and no DataSourceV2Relation survives
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("DataSourceV2"), opt)
  }

  test("graftdelta2 provider reads mapped+DV table live") {
    checkLive(spark.read.format("graftdelta2").load(tbl))
  }

  test("session-catalog table over mapped+DV path answers SQL") {
    spark.catalog.createTable("er_tbl", "graftdelta", Map("path" -> tbl))
    try {
      val got = spark.sql(
        "SELECT COUNT(*) AS n, MIN(id) AS mn, SUM(price) AS sp FROM er_tbl WHERE id > 50")
        .head
      assert(got.getLong(0) == 50L)
      assert(got.getLong(1) == 51L)
      assert(math.abs(got.getDouble(2) - (51L to 100L).map(_ * 1.5).sum) < 1e-6)
    } finally spark.sql("DROP TABLE IF EXISTS er_tbl")
  }

  test("V2 path catalog serves mapped+DV table via SQL; INSERT still works") {
    val root = new java.io.File(tbl).getParent
    spark.conf.set("spark.sql.catalog.ercat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ercat.root", root)
    checkLive(spark.sql("SELECT * FROM ercat.default.tbl"))
    // appends keep flowing through DeltaWriter — the write target relation
    // is not rewritten by the read rule
    spark.sql("INSERT INTO ercat.default.tbl VALUES (101, 'name_101', 151.5)")
    val after = spark.sql("SELECT COUNT(*) AS n, MAX(id) AS mx FROM ercat.default.tbl").head
    assert(after.getLong(0) == 81L)
    assert(after.getLong(1) == 101L)
    // time travel through the catalog still sees the pre-delete snapshot
    assert(spark.sql("SELECT COUNT(*) AS n FROM ercat.default.tbl VERSION AS OF 2")
      .head.getLong(0) == 100L)
  }

  test("pruning and pushdown survive the substitution (plan lock)") {
    spark.catalog.createTable("er_plan_tbl", "graftdelta", Map("path" -> tbl))
    try {
      val df = spark.sql(
        "SELECT COUNT(*) AS n FROM er_plan_tbl WHERE id > 50 AND price > 10.0")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // parquet pushdown reaches the scan; the read schema is pruned to
      // the referenced PHYSICAL columns + the DV row-index (label unread)
      assert(plan.contains("PushedFilters: [GreaterThan(id,50)"), plan)
      assert(plan.contains("DeltaFileIndex"), plan)
      // column pruning: the unreferenced renamed column is absent from the
      // scan schema (it would appear under its PHYSICAL name 'n'); the
      // referenced ones are read
      val readSchema = "ReadSchema: (struct<[^>]*>)".r
        .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
      assert(readSchema.contains("id:") && readSchema.contains("price:"), readSchema)
      assert(!readSchema.contains("n:") && !readSchema.contains("label"), readSchema)
    } finally spark.sql("DROP TABLE IF EXISTS er_plan_tbl")
  }

  test("bare-session fallback: marker relation TableScan reads live rows") {
    val snap = DeltaSnapshotReader.snapshot(spark, tbl)
    val rel = GraftDeltaEngineRelation(spark, tbl, Some(snap.version))
    // execute the fallback scan path directly (rule bypassed)
    val n = rel.buildScan().count()
    // 80 live rows at the pre-insert snapshot OR 81 post-insert, depending
    // on test order — pin by reading the resolved snapshot's own count
    assert(n == DeltaFileIndex.relation(spark, snap).count())
    assert(n >= 80L)
  }
}
