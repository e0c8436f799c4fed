package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Row-level DML on the Delta layer: DELETE / UPDATE / MERGE as
  * copy-on-write file rewrites, and OPTIMIZE ZORDER clustering. */
class DeltaDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(partitioned: Boolean): String = {
    val t = Files.createTempDirectory("graft_dml").toString + "/tbl"
    val df = (0L until 100L).map(i => (i, (i % 4).toInt, s"row$i", i * 10.0))
      .toDF("id", "grp", "s", "amt")
      .repartitionByRange(4, col("id"))
    if (partitioned) DeltaWriter.write(df, t, partitionBy = Seq("grp"))
    else DeltaWriter.write(df, t)
    t
  }

  test("delete rewrites only affected files and removes matching rows") {
    val t = freshTable(partitioned = false)
    val before = DeltaSnapshotReader.snapshot(spark, t)
    assert(before.files.size == 4)
    // ids 0-24 live in file 1 of 4 (range layout): only that file rewritten
    val v = DeltaWriter.delete(spark, t, col("id") < 10)
    assert(v == 1L)
    val after = DeltaSnapshotReader.snapshot(spark, t)
    assert(after.files.size == 4, "delete should rewrite, not drop, the affected file")
    val untouched = before.files.map(_.path).toSet.intersect(after.files.map(_.path).toSet)
    assert(untouched.size == 3, s"expected 3 untouched files, got ${untouched.size}")
    val ids = DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet
    assert(ids == (10L until 100L).toSet)
    // delete with no matches is a no-op commit-wise
    assert(DeltaWriter.delete(spark, t, col("id") === 10000L) == 1L)
  }

  test("update modifies matching rows in place, copies the rest") {
    val t = freshTable(partitioned = false)
    DeltaWriter.update(spark, t, col("id") < 5, Map("amt" -> (col("amt") + 1000.0), "s" -> lit("upd")))
    val got = DeltaSnapshotReader.load(spark, t)
      .select("id", "s", "amt").as[(Long, String, Double)].collect().sortBy(_._1)
    (0 until 5).foreach { i => assert(got(i) == ((i.toLong, "upd", i * 10.0 + 1000.0))) }
    (5 until 100).foreach { i => assert(got(i) == ((i.toLong, s"row$i", i * 10.0))) }
  }

  test("update refuses partition columns; merge enforces schema") {
    val t = freshTable(partitioned = true)
    intercept[IllegalArgumentException] {
      DeltaWriter.update(spark, t, lit(true), Map("grp" -> lit(9)))
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.merge(spark, t, Seq((1L, "x")).toDF("id", "s"), Seq("id"))
    }
  }

  test("merge upserts: matched rows replaced, new keys inserted") {
    val t = freshTable(partitioned = true)
    val source = Seq(
      (7L, 3, "merged7", 7777.0),   // existing key → replace
      (13L, 1, "merged13", 1313.0), // existing key → replace
      (200L, 0, "new200", 2.0))     // new key → insert
      .toDF("id", "grp", "s", "amt")
    DeltaWriter.merge(spark, t, source, Seq("id"))
    val got = DeltaSnapshotReader.load(spark, t)
      .select("id", "s", "amt").as[(Long, String, Double)].collect().toMap2
    assert(got(7L) == (("merged7", 7777.0)))
    assert(got(13L) == (("merged13", 1313.0)))
    assert(got(200L) == (("new200", 2.0)))
    assert(got(8L) == (("row8", 80.0)))
    assert(got.size == 101)
    // partition injection still correct after merge
    val byGrp = DeltaSnapshotReader.load(spark, t).groupBy("grp").count()
      .as[(Int, Long)].collect().toMap
    assert(byGrp(0) == 26L) // 25 original + new200
  }

  test("zorder clusters files for multi-column skipping, content unchanged") {
    val t = Files.createTempDirectory("graft_dml").toString + "/tbl"
    // x and y deliberately uncorrelated: row-order by x leaves y unsorted
    val df = (0L until 4096L).map(i => (i, (i * 2654435761L) % 4096L, s"p$i"))
      .toDF("x", "y", "payload").repartitionByRange(8, col("x"))
    DeltaWriter.write(df, t)

    val v = DeltaWriter.zorder(spark, t, Seq("x", "y"), targetBytes = 16 * 1024)
    assert(v == 1L)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.files.size > 1)

    // content identical
    val got = DeltaSnapshotReader.load(spark, t).select("x").as[Long].collect().toSet
    assert(got == (0L until 4096L).toSet)
    // old layout still time-travels
    assert(DeltaSnapshotReader.load(spark, t, versionAsOf = Some(0L)).count() == 4096L)

    // skipping now works on BOTH dimensions: a tight y-range predicate must
    // prune most files (pre-zorder, x-ranged files each span all of y)
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, LessThan, Literal}
    import org.apache.spark.sql.types.LongType
    val index = new DeltaFileIndex(spark, snap)
    val yAttr = AttributeReference("y", LongType)()
    val listedY = index.listFiles(Nil, Seq(LessThan(yAttr, Literal(256L)))).flatMap(_.files)
    assert(listedY.size < snap.files.size,
      s"y-predicate should skip files after zorder (listed ${listedY.size}/${snap.files.size})")
    val xAttr = AttributeReference("x", LongType)()
    val listedX = index.listFiles(Nil, Seq(LessThan(xAttr, Literal(256L)))).flatMap(_.files)
    assert(listedX.size < snap.files.size)
  }

  test("merge probe skips files whose stats disprove the source key bounds") {
    // a PHANTOM add whose stats place it entirely outside the source's key
    // range: if the probe's source-bounds pruning works, the merge never
    // opens it (the file does not exist on disk — opening it would throw);
    // this is the 100 TB property "the probe reads the candidate slice,
    // not the table" made mechanically checkable.
    val t = freshTable(partitioned = false)
    val v = DeltaSnapshotReader.snapshot(spark, t).version
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_delta_log", f"${v + 1}%020d.json"),
      (s"""{"add":{"path":"phantom-far.parquet","partitionValues":{},"size":1024,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":10,\\"minValues\\":{\\"id\\":100000},\\"maxValues\\":{\\"id\\":100009}}"}}""" + "\n")
        .getBytes("UTF-8"))
    DeltaSnapshotReader.invalidate(t)
    val src = Seq((3L, 0, "m3", -1.0), (999L, 1, "new", 9.0)).toDF("id", "grp", "s", "amt")
    DeltaWriter.merge(spark, t, src, Seq("id")) // must not try to open the phantom
    val got = DeltaSnapshotReader.load(spark, t).filter(col("id") < 100000L)
    assert(got.filter(col("id") === 3L).select("s").as[String].head() == "m3")
    assert(got.filter(col("id") === 999L).select("amt").as[Double].head() == 9.0)
    assert(got.count() == 101)
    // the phantom survived untouched in the log (it was never affected)
    assert(DeltaSnapshotReader.snapshot(spark, t).files.exists(_.path == "phantom-far.parquet"))
    // a clause-list merge probes under the same source key bounds
    DeltaWriter.mergeClauses(spark, t,
      Seq((4L, 0, "m4", -4.0), (998L, 1, "new2", 8.0)).toDF("id", "grp", "s", "amt"), Seq("id"),
      Seq(DeltaWriter.MatchedUpdate(Map("s" -> col("s.s"))), DeltaWriter.NotMatchedInsertAll()))
    val clauseMerged = DeltaSnapshotReader.load(spark, t).filter(col("id") < 100000L)
    assert(clauseMerged.filter(col("id") === 4L).select("s").as[String].head() == "m4")
    assert(clauseMerged.filter(col("id") === 998L).select("amt").as[Double].head() == 8.0)
    assert(clauseMerged.count() == 102)
    assert(DeltaSnapshotReader.snapshot(spark, t).files.exists(_.path == "phantom-far.parquet"))
    // DELETE and UPDATE probes push their condition below the
    // file-attribution projection too: stats disprove id=5 / id=7 for the
    // phantom, so neither probe may open it
    DeltaWriter.delete(spark, t, col("id") === 5L)
    DeltaWriter.update(spark, t, col("id") === 7L, Map("s" -> lit("u7")))
    val after = DeltaSnapshotReader.load(spark, t).filter(col("id") < 100000L)
    assert(after.filter(col("id") === 5L).count() == 0)
    assert(after.filter(col("id") === 7L).select("s").as[String].head() == "u7")
    assert(DeltaSnapshotReader.snapshot(spark, t).files.exists(_.path == "phantom-far.parquet"))
  }

  private implicit class MapOps(rows: Array[(Long, String, Double)]) {
    def toMap2: Map[Long, (String, Double)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
