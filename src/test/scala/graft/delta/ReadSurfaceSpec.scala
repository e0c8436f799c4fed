package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Every SQL-visible read of a Delta table — the v1 `graftdelta` source,
  * the `graftdelta2` provider, a table registered in the session catalog,
  * [[graft.catalog.GraftCatalog]] — answers as [[DeltaSnapshotReader.load]]
  * does: the latest version, in table-schema order. */
class ReadSurfaceSpec extends SparkSpec {
  import spark.implicits._

  /** `id, yr, s` partitioned by `yr` (not the last column): 40 rows, one
    * file per year, so a partial DV delete leaves real DVs. */
  private def newTable(): String = {
    val t = Files.createTempDirectory("graft_surface").toString + "/tbl"
    DeltaWriter.write((1L to 40L).map(i => (i, 1990 + (i % 4).toInt, s"s$i")).toDF("id", "yr", "s")
      .repartition(1), t, partitionBy = Seq("yr"))
    t
  }

  test("a table registered USING graftdelta reads the latest version after each commit") {
    val t = newTable()
    spark.catalog.createTable("surface_reg", "graftdelta", Map("path" -> t))
    try {
      def check(step: String, want: Long): Unit = {
        val sql = spark.sql("SELECT COUNT(*) FROM surface_reg").head.getLong(0)
        val load = DeltaSnapshotReader.load(spark, t).count()
        assert(load == want, s"$step: load read $load")
        assert(sql == load, s"$step: the registered table read $sql rows, load $load")
      }
      check("registered", 40L)
      DeltaWriter.write(Seq((41L, 1990, "s41")).toDF("id", "yr", "s"), t, partitionBy = Seq("yr"))
      check("append", 41L)
      DeltaWriter.delete(spark, t, col("id") <= 5L)
      check("copy-on-write delete", 36L)
      DeltaWriter.deleteWithDV(spark, t, col("id") <= 10L)
      assert(DeltaSnapshotReader.snapshot(spark, t).fileSet.hasDeletionVectors)
      check("DV delete", 31L)
      spark.sql("REFRESH TABLE surface_reg")
      check("after REFRESH TABLE", 31L)
      assert(spark.table("surface_reg").columns.toSeq == Seq("id", "yr", "s"))
    } finally spark.sql("DROP TABLE IF EXISTS surface_reg")
  }

  test("every read surface returns table-schema order, before and after a DV delete") {
    val t = newTable()
    val root = new java.io.File(t).getParent
    spark.conf.set("spark.sql.catalog.surfacecat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.surfacecat.root", root)
    spark.catalog.createTable("surface_order", "graftdelta", Map("path" -> t))
    try {
      def surfaces: Seq[(String, DataFrame)] = Seq(
        "v1" -> spark.read.format("graftdelta").load(t),
        "graftdelta2" -> spark.read.format("graftdelta2").load(t),
        "session catalog" -> spark.table("surface_order"),
        "GraftCatalog" -> spark.sql(s"SELECT * FROM surfacecat.default.${new java.io.File(t).getName}"),
        "load" -> DeltaSnapshotReader.load(spark, t))
      def check(step: String): Unit = {
        val want = DeltaSnapshotReader.load(spark, t).orderBy("id").collect().toSeq
        surfaces.foreach { case (name, df) =>
          assert(df.columns.toSeq == Seq("id", "yr", "s"), s"$step, $name: ${df.columns.mkString(",")}")
          assert(df.orderBy("id").collect().toSeq == want, s"$step, $name")
        }
      }
      check("plain table")
      DeltaWriter.deleteWithDV(spark, t, col("id") <= 10L)
      assert(DeltaSnapshotReader.snapshot(spark, t).fileSet.hasDeletionVectors)
      check("after a DV delete")
      spark.catalog.refreshTable("surface_order")
      spark.catalog.refreshTable(s"surfacecat.default.${new java.io.File(t).getName}")
      spark.sql(s"REFRESH TABLE surfacecat.default.${new java.io.File(t).getName}")
      check("after refreshTable")
    } finally spark.sql("DROP TABLE IF EXISTS surface_order")
  }
}
