package graft.delta

import graft.SparkSpec
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}

/** Job budget of DELETE, UPDATE and MERGE, which all run through one
  * row-action core ([[DeltaWriter]]), on the shape of an ingest table in
  * use: a checkpointed 400-row base plus 12 appends of 50 rows, a warm
  * snapshot and no auto-checkpoint. The DML touches the last 4 batches; the
  * upsert has 40 rows, half of them matching. Each verb runs on its own copy
  * of the same table, copy-on-write and with deletion vectors, and the
  * fixed-shape `merge` is locked together with the same upsert written as a
  * clause list. */
class DmlJobBudgetSpec extends SparkSpec {
  import DeltaWriter._
  import spark.implicits._

  /** Jobs launched by `body`, seen by a listener over a drained bus, and
    * where they came from: per SQL execution, its job count and the first
    * engine frame of its call site. */
  private def jobsOf[A](body: => A): (A, Int, String) = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val sites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sites.put(x.executionId.toString,
            x.details.split("\n").find(_.contains("graft.")).getOrElse(x.description).trim)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.sql.execution.id")).orNull))
    }
    sc.addSparkListener(l)
    try {
      val a = body
      BusDrain.drain(sc)
      val ids = jobs.toArray(Array.empty[String]).toSeq
      val where = ids.distinct.map(x => s"${ids.count(_ == x)} × ${sites.getOrDefault(x, "no SQL execution")}")
      (a, ids.size, where.mkString("; "))
    } finally sc.removeSparkListener(l)
  }

  private def grpOf(i: Long): Int = ((i / 7) % 8).toInt

  private def rows(from: Long, n: Int, batch: Int): DataFrame =
    (from until from + n).map(i => (i, grpOf(i), i * 7 % 1000, batch))
      .toDF("id", "grp", "value", "batch").coalesce(1)

  private def template(dv: Boolean): Path = {
    val t = Files.createTempDirectory("graft_dmljobs").resolve("tbl")
    DeltaWriter.write(rows(0L, 400, 0), t.toString)
    DeltaWriter.setProperties(spark, t.toString,
      Map("delta.checkpointInterval" -> "0", "delta.enableDeletionVectors" -> dv.toString))
    DeltaWriter.checkpoint(spark, t.toString)
    for (b <- 1 to 12) DeltaWriter.write(rows(400L + (b - 1) * 50, 50, b), t.toString)
    t
  }
  private lazy val cowTemplate = template(dv = false)
  private lazy val dvTemplate = template(dv = true)

  /** A private copy of the template, its snapshot warm. */
  private def copyOf(src: Path): String = {
    val dst = Files.createTempDirectory("graft_dmljobs").resolve("tbl")
    val walk = Files.walk(src)
    try walk.forEach { p =>
      Files.copy(p, dst.resolve(src.relativize(p).toString), StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    assert(DeltaSnapshotReader.snapshot(spark, dst.toString).files.size == 13)
    dst.toString
  }

  /** 20 ids from batches 9..12 (ids 800..999) plus 20 new ones. */
  private def upsert: DataFrame =
    ((800L until 1000L by 10L) ++ (5000L until 5020L))
      .map(i => (i, 1, -1L, 13)).toDF("id", "grp", "value", "batch")

  private val recent = col("batch") >= 9

  private def check(tbl: String, verb: String, budget: Int)(run: String => Long): Unit = {
    val before = DeltaSnapshotReader.snapshot(spark, tbl).version
    val (v, jobs, where) = jobsOf(run(tbl))
    assert(v == before + 1, s"$verb did not commit")
    info(s"$verb: $jobs jobs ($where)")
    assert(jobs <= budget, s"$verb launched $jobs jobs (budget $budget): $where")
  }

  private def budgets(mode: String, template: => Path, update: Int, delete: Int, merge: Int): Unit = {
    test(s"$mode: UPDATE ≤ $update, DELETE ≤ $delete, MERGE ≤ $merge jobs in both forms") {
      val u = copyOf(template)
      check(u, "UPDATE", update)(DeltaWriter.update(spark, _,
        recent && col("grp") === 3 && pmod(col("id"), lit(2L)) === 0, Map("value" -> (col("value") + 1L))))
      assert(DeltaSnapshotReader.load(spark, u).filter(col("value") =!= col("id") * 7 % 1000)
        .count() == (800L until 1000L).count(i => grpOf(i) == 3 && i % 2 == 0))

      val d = copyOf(template)
      check(d, "DELETE", delete)(DeltaWriter.delete(spark, _,
        recent && col("grp") === 5 && pmod(col("id"), lit(3L)) === 1))
      assert(DeltaSnapshotReader.load(spark, d).count() ==
        1000 - (800L until 1000L).count(i => grpOf(i) == 5 && i % 3 == 1))

      val m = copyOf(template)
      check(m, "merge", merge)(DeltaWriter.merge(spark, _, upsert, Seq("id")))
      val c = copyOf(template)
      check(c, "clause-list upsert", merge)(DeltaWriter.mergeClauses(spark, _, upsert, Seq("id"),
        Seq(MatchedUpdateAll(), NotMatchedInsertAll())))
      Seq(m, c).foreach { t =>
        val got = DeltaSnapshotReader.load(spark, t)
        assert(got.count() == 1020 && got.filter(col("value") === -1L).count() == 40)
      }
    }
  }

  budgets("copy-on-write", cowTemplate, update = 3, delete = 3, merge = 11)
  budgets("deletion vectors", dvTemplate, update = 5, delete = 4, merge = 13)
}
