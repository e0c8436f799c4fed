package graft.delta

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import java.nio.file.Files
import scala.util.Random

/** Every crc a seeded sequence of graft operations writes equals
  * [[Checksum.render]] of a cold replay of its version, field for field.
  * The operations are appends, copy-on-write and deletion-vector DELETEs,
  * UPDATE, MERGE, OPTIMIZE, RESTORE, SET TBLPROPERTIES and ADD COLUMNS,
  * each twice in a seeded order, on a plain table and on a partitioned,
  * column-mapped one. With the gates at their defaults the driver holds
  * each pre-commit snapshot's winners, so the crc is rendered from the
  * post-commit snapshot ([[Checksum.writeAfterCommit]] path (a)) and
  * carries the `allFiles` echo; with
  * `spark.graft.delta.driverFileListThreshold` at 0 it chains from the
  * previous crc (path (b)), which writes no echo, and `allFiles` is
  * compared wherever it is written. */
class CrcDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val Threshold = "spark.graft.delta.driverFileListThreshold"
  private val om = new ObjectMapper()

  /** `n` rows from `from`, shaped to the table's current schema: columns
    * added since creation are null. */
  private def rows(t: String, from: Long, n: Int): DataFrame =
    DeltaSnapshotReader.snapshot(spark, t).schema.fields.filterNot(f => Seq("id", "grp", "s").contains(f.name))
      .foldLeft(created(from, n))((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))

  /** `n` rows from `from` in the schema the table is created with. */
  private def created(from: Long, n: Int): DataFrame =
    (from until from + n).map(i => (i, (i % 3).toInt, s"r$i")).toDF("id", "grp", "s")

  /** The seeded operation sequence on table `t`; returns its log. */
  private def run(t: String, seed: Long): Seq[String] = {
    var next = 1000L
    def append(): Unit = {
      DeltaWriter.write(rows(t, next, 20).coalesce(1), t, DeltaSnapshotReader.snapshot(spark, t).partitionColumns)
      next += 20
    }
    val ops: Seq[(String, Int => Unit)] = Seq(
      "append" -> (_ => append()),
      "cow delete" -> (i => DeltaWriter.delete(spark, t, col("id") % 11 === i)),
      "dv delete" -> (i => DeltaWriter.deleteWithDV(spark, t, col("id") % 7 === i)),
      "update" -> (i => DeltaWriter.update(spark, t, col("id") % 5 === i, Map("s" -> lit(s"u$i")))),
      "merge" -> { i =>
        DeltaWriter.merge(spark, t, rows(t, next - 10, 20).withColumn("s", lit(s"m$i")), Seq("id"))
        next += 10
      },
      "optimize" -> (_ => DeltaWriter.optimize(spark, t)),
      "restore" -> { _ =>
        val latest = DeltaSnapshotReader.latestVersion(spark, t)
        DeltaWriter.restore(spark, t, math.max(0L, latest - 2))
      },
      "set tblproperties" -> (i => DeltaWriter.setProperties(spark, t, Map(s"graft.test.p$i" -> s"v$i"))),
      "add columns" -> (i => DeltaWriter.addColumns(spark, t, Seq(StructField(s"c${next + i}", LongType)))))
    val order = new Random(seed).shuffle(ops ++ ops)
    order.zipWithIndex.map { case ((name, op), i) => op(i % 3); append(); name }
  }

  /** The crc on disk at every version, and render of a cold replay of it. */
  private def crcs(t: String): Seq[(Long, ObjectNode, ObjectNode)] = {
    val logDir = new Path(t, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    (0L to DeltaSnapshotReader.latestVersion(spark, t)).map { v =>
      DeltaSnapshotReader.invalidate(t)
      val cold = Checksum.render(DeltaSnapshotReader.snapshotAt(spark, t, Some(v)))
      val disk = Checksum.read(fs, logDir, v).getOrElse(fail(s"v$v wrote no crc"))
      (v, om.readTree(disk).asInstanceOf[ObjectNode], om.readTree(cold).asInstanceOf[ObjectNode])
    }
  }

  /** Runs the sequence on a fresh table made by `create` under the gates
    * `conf`, compares every crc with a cold render, and returns the
    * versions whose crc has no `allFiles` echo though the table is small
    * enough for one. */
  private def differential(seed: Long, conf: Map[String, String])(create: (DataFrame, String) => Unit): Seq[Long] = {
    val t = Files.createTempDirectory("graft_crcdiff").toString + "/tbl"
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val log = try {
      create(created(0, 30), t)
      run(t, seed)
    } finally conf.keys.foreach(spark.conf.unset)
    crcs(t).flatMap { case (v, disk, cold) =>
      val echoless = !disk.has("allFiles") && cold.has("allFiles")
      if (echoless) cold.remove("allFiles")
      assert(disk == cold, s"seed $seed v$v (ops ${log.mkString(", ")}):\ndisk $disk\ncold $cold")
      if (echoless) Some(v) else None
    }
  }

  private def plain(df: DataFrame, t: String): Unit = DeltaWriter.write(df.coalesce(1), t)
  private def mappedPartitioned(df: DataFrame, t: String): Unit =
    DeltaWriter.createColumnMapped(df.coalesce(1), t, "name", Seq("grp"))

  test("differential, default gates: every crc of a plain table is rendered from its snapshot") {
    assert(differential(12001L, Map.empty)(plain).isEmpty)
  }

  test("differential, default gates: every crc of a partitioned column-mapped table is rendered from its snapshot") {
    assert(differential(12002L, Map.empty)(mappedPartitioned).isEmpty)
  }

  test("differential, driverFileListThreshold=0: the chained crcs of a plain table equal a cold render") {
    val chained = differential(12003L, Map(Threshold -> "0"))(plain)
    assert(chained.size >= 30, s"only ${chained.size} crcs chained: $chained")
  }

  test("differential, driverFileListThreshold=0: the chained crcs of a partitioned column-mapped table equal a cold render") {
    val chained = differential(12004L, Map(Threshold -> "0"))(mappedPartitioned)
    assert(chained.size >= 30, s"only ${chained.size} crcs chained: $chained")
  }
}
