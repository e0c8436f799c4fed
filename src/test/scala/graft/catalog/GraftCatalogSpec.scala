package graft.catalog

import graft.SparkSpec
import graft.delta.DeltaWriter
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** V2 TableCatalog surface: discovery, latest/versioned/timestamped loads
  * through SQL, parquet fallback, and the read-only contract. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  // wall-clock instant strictly between the v0 and v1 commits (timestamp
  // travel resolves against commit file mtimes)
  private var betweenV0V1: java.time.Instant = _

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_cat_root").toString
    // delta table with 3 versions: v0 = ids 0-9, v1 += 10-14, v2 += 15-19
    val t = s"$r/tbl"
    DeltaWriter.write((0L until 10L).map(i => (i, s"v0_$i")).toDF("id", "s"), t)
    Thread.sleep(30)
    betweenV0V1 = java.time.Instant.now()
    Thread.sleep(30)
    DeltaWriter.write((10L until 15L).map(i => (i, s"v1_$i")).toDF("id", "s"), t)
    DeltaWriter.write((15L until 20L).map(i => (i, s"v2_$i")).toDF("id", "s"), t)
    // bare parquet sibling
    (0L until 7L).map(i => (i, i * 2.0)).toDF("k", "x")
      .coalesce(1).write.parquet(s"$r/_pq_stage")
    val part = new java.io.File(s"$r/_pq_stage").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(s"$r/flat.parquet"))
    spark.conf.set("spark.sql.catalog.gcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.root", r)
    r
  }

  test("SHOW NAMESPACES / SHOW TABLES discover the root layout") {
    root
    assert(spark.sql("SHOW NAMESPACES IN gcat").as[String].collect().toSet == Set("default"))
    val tables = spark.sql("SHOW TABLES IN gcat.default")
      .select("tableName").as[String].collect().toSet
    assert(tables == Set("tbl", "flat"))
  }

  test("latest snapshot resolves through the catalog; engine scan serves it") {
    val got = spark.sql("SELECT * FROM gcat.default.tbl")
    assert(got.count() == 20)
    // planned by the engine's one Delta scan: a file-source scan over the
    // table's DeltaFileIndex, no DSv2 BatchScanExec
    got.collect()
    val plan = got.queryExecution.executedPlan
    val scans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location
    }
    assert(scans.nonEmpty && scans.forall(_.isInstanceOf[graft.delta.DeltaFileIndex]), plan)
    assert(plan.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.isEmpty, plan)
  }

  test("SQL VERSION AS OF resolves each commit") {
    assert(spark.sql("SELECT * FROM gcat.default.tbl VERSION AS OF 0").count() == 10)
    assert(spark.sql("SELECT * FROM gcat.default.tbl VERSION AS OF 1").count() == 15)
    assert(spark.sql("SELECT max(id) AS m FROM gcat.default.tbl VERSION AS OF 1")
      .as[Long].head() == 14L)
  }

  test("SQL TIMESTAMP AS OF resolves to the last commit at-or-before") {
    root
    // an instant strictly between v0 and v1, formatted in UTC — the
    // session timezone every entry point pins
    val ts0 = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC).format(betweenV0V1)
    val got = spark.sql(
      s"SELECT COUNT(*) AS n FROM gcat.default.tbl TIMESTAMP AS OF '$ts0'")
    assert(got.as[Long].head() == 10L)
  }

  test("parquet sibling tables load; time travel on them refuses") {
    assert(spark.sql("SELECT * FROM gcat.default.flat").count() == 7)
    assert(spark.sql("SELECT sum(x) AS s FROM gcat.default.flat").as[Double].head() == 42.0)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM gcat.default.flat VERSION AS OF 0").collect())
    assert(String.valueOf(e.getMessage).contains("Delta log"), e.getMessage)
    // TIMESTAMP AS OF gives the same explicit error, not table-not-found
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM gcat.default.flat TIMESTAMP AS OF '2026-01-01'").collect())
    assert(String.valueOf(e2.getMessage).contains("Delta log"), e2.getMessage)
    // a non-numeric version names the problem instead of NumberFormatException
    val e3 = intercept[Exception](
      spark.sql("SELECT * FROM gcat.default.tbl VERSION AS OF 'abc'").collect())
    assert(String.valueOf(e3.getMessage).contains("invalid VERSION AS OF"), e3.getMessage)
  }

  test("INSERT INTO / INSERT OVERWRITE write through the catalog") {
    root
    val r2 = Files.createTempDirectory("graft_cat_w").toString
    DeltaWriter.write((0L until 5L).map(i => (i, s"a$i")).toDF("id", "s"), s"$r2/wtbl")
    spark.conf.set("spark.sql.catalog.gcatw", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatw.root", r2)
    spark.sql("INSERT INTO gcatw.default.wtbl VALUES (100, 'ins')")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gcatw.default.wtbl").as[Long].head() == 6)
    assert(spark.sql("SELECT s FROM gcatw.default.wtbl WHERE id = 100")
      .as[String].head() == "ins")
    // the insert is a real log commit, visible to the engine's reader
    assert(graft.delta.DeltaSnapshotReader.load(spark, s"$r2/wtbl").count() == 6)
    spark.sql("INSERT OVERWRITE gcatw.default.wtbl VALUES (1, 'only')")
    assert(spark.sql("SELECT * FROM gcatw.default.wtbl").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "only")))
    // history shows the append and the overwrite as separate commits
    val ops = graft.delta.DeltaSnapshotReader.history(spark, s"$r2/wtbl")
      .select("operation").as[String].collect()
    assert(ops.length >= 3, ops.mkString(","))
  }

  test("SHOW TBLPROPERTIES surfaces the table configuration") {
    root
    val r3 = Files.createTempDirectory("graft_cat_p").toString
    DeltaWriter.write((0L until 3L).map(i => (i, i * 1.0)).toDF("id", "x"), s"$r3/ptbl")
    graft.delta.DeltaWriter.setProperties(spark, s"$r3/ptbl",
      Map("delta.appendOnly" -> "false", "graft.owner" -> "spec"))
    spark.conf.set("spark.sql.catalog.gcatp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatp.root", r3)
    val props = spark.sql("SHOW TBLPROPERTIES gcatp.default.ptbl")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // (Spark strips reserved properties like `provider` from SHOW output)
    assert(props.get("graft.owner").contains("spec"), props)
    assert(props.get("delta.appendOnly").contains("false"), props)
  }

  test("unknown table/namespace produce standard errors; unmapped RENAME refuses") {
    root
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM gcat.default.nope").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM gcat.otherns.tbl").collect())
    // RENAME COLUMN needs column mapping — the writer's error surfaces
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gcat.default.tbl RENAME COLUMN id TO id2"))
    assert(String.valueOf(e.getMessage).contains("column mapping"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("DROP TABLE gcat.default.nope"))
  }

  test("ALTER TABLE through the catalog: ADD COLUMN, widen type, properties") {
    root
    val r3 = Files.createTempDirectory("graft_cat_alter").toString
    DeltaWriter.write((0L until 5L).map(i => (i.toInt, s"a$i")).toDF("id", "s")
      .select(col("id").cast("int"), col("s")), s"$r3/atbl")
    spark.conf.set("spark.sql.catalog.gcata", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcata.root", r3)
    spark.sql("ALTER TABLE gcata.default.atbl ADD COLUMN note STRING")
    assert(spark.sql("SELECT * FROM gcata.default.atbl").columns.toSeq ==
      Seq("id", "s", "note"))
    assert(spark.sql("SELECT COUNT(*) AS n FROM gcata.default.atbl WHERE note IS NULL")
      .as[Long].head() == 5)
    // type widening: INT -> BIGINT, metadata-only
    spark.sql("ALTER TABLE gcata.default.atbl ALTER COLUMN id TYPE BIGINT")
    assert(spark.sql("SELECT * FROM gcata.default.atbl").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT sum(id) AS s FROM gcata.default.atbl").as[Long].head() == 10L)
    // table properties round-trip through the Delta configuration
    spark.sql("ALTER TABLE gcata.default.atbl SET TBLPROPERTIES ('delta.appendOnly' = 'false')")
    assert(graft.delta.DeltaSnapshotReader.snapshot(spark, s"$r3/atbl")
      .configuration.get("delta.appendOnly").contains("false"))
    spark.sql("ALTER TABLE gcata.default.atbl UNSET TBLPROPERTIES ('delta.appendOnly')")
    assert(!graft.delta.DeltaSnapshotReader.snapshot(spark, s"$r3/atbl")
      .configuration.contains("delta.appendOnly"))
    // unmapped DROP COLUMN refuses with the writer's clear error
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gcata.default.atbl DROP COLUMN note"))
    assert(String.valueOf(e.getMessage).contains("column mapping"), e.getMessage)
  }

  test("CREATE TABLE / CTAS / DROP TABLE through the catalog") {
    root
    val r3 = Files.createTempDirectory("graft_cat_ddl").toString
    spark.conf.set("spark.sql.catalog.gcatd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatd.root", r3)

    // CREATE TABLE with partitioning, then INSERT through the same catalog
    spark.sql("""CREATE TABLE gcatd.default.created
                | (id BIGINT, s STRING, bucket INT)
                | PARTITIONED BY (bucket)""".stripMargin)
    assert(new java.io.File(s"$r3/created/_delta_log").exists())
    spark.sql("INSERT INTO gcatd.default.created VALUES (1, 'a', 0), (2, 'b', 1)")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gcatd.default.created").as[Long].head() == 2)
    assert(graft.delta.DeltaSnapshotReader.snapshot(spark, s"$r3/created")
      .partitionColumns == Seq("bucket"))

    // CTAS: create + append as two transactional commits
    spark.sql("""CREATE TABLE gcatd.default.ctas AS
                | SELECT id, s FROM gcatd.default.created WHERE id = 2""".stripMargin)
    assert(spark.sql("SELECT * FROM gcatd.default.ctas").collect().map(_.toSeq).toSeq ==
      Seq(Seq(2L, "b")))

    // duplicate CREATE refuses; DROP removes, re-SELECT fails
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("CREATE TABLE gcatd.default.ctas (x INT)"))
    spark.sql("DROP TABLE gcatd.default.ctas")
    assert(!new java.io.File(s"$r3/ctas").exists())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM gcatd.default.ctas").collect())
  }
}
