package graft.delta

import graft.SparkSpec
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** File-system calls and Spark jobs of a plain append outside
  * `_delta_log`. The write tasks put the data files straight into the
  * commit directory and report them, so an append stages nothing under
  * `_temporary`, writes no `_SUCCESS` marker, lists no directory of the
  * table, renames only its log commit and runs its write as its one Spark
  * job, however many files it writes.
  *
  * Measured on the 50-row append below (4 write tasks, so 4 data files),
  * staging through Hadoop's `FileOutputCommitter` → writing through
  * [[DataFiles]]: files created 7 → 6 (the `_SUCCESS` marker is gone),
  * `mkdirs` calls 9 → 7, renames 9 → 1, listings outside `_delta_log`
  * 7 → 0. The 40-partition append ran 2 Spark jobs (the write, then a
  * footer-stats job over its 40 files) → 1. */
class WriteFsCallSpec extends SparkSpec {
  import spark.implicits._

  private def append(t: String, i: Int): Unit =
    DeltaWriter.write((0 until 50).map(j => (i * 50L + j, j % 7, i)).toDF("id", "grp", "batch"), t)

  private def table(): String = {
    val t = Files.createTempDirectory("graft_writefs").toString + "/tbl"
    (0 until 3).foreach(append(t, _))
    DeltaSnapshotReader.snapshot(spark, t).files
    t
  }

  test("a plain append: no staging directory, no _SUCCESS, no listing of the table, one rename") {
    val t = table()
    val before = DeltaSnapshotReader.snapshot(spark, t).files.map(_.path).toSet
    val (_, calls) = CountingFileSystem.count(spark)(append(t, 3))
    info(s"plain append: $calls")
    val root = new java.io.File(t).getAbsolutePath
    val staged = (calls.created ++ calls.madeDirs).filter(p => p.contains("_temporary") || p.endsWith("_SUCCESS"))
    assert(staged.isEmpty, s"staged or marked: $staged")
    // the only data files created are the ones the commit adds
    val added = DeltaSnapshotReader.snapshot(spark, t).files.map(_.path).filterNot(before)
    assert(calls.created.filterNot(_.contains("/_delta_log/")).toSet ==
      added.map(p => s"$root/${DeltaActions.decodePath(p)}").toSet, s"created: ${calls.created}")
    assert(calls.listedData.isEmpty, s"listed outside _delta_log: ${calls.listedData}")
    assert(calls.renamed.map(_._2) == Seq(f"$root/_delta_log/${3L}%020d.json"), s"renames: ${calls.renamed}")
    assert(DeltaSnapshotReader.load(spark, t).count() == 200)
  }

  test("a 40-partition append is one Spark job") {
    val t = table()
    val sc = spark.sparkContext
    val df = spark.range(0, 4000, 1, 40).select(col("id"), (col("id") % 7).cast("int").as("grp"),
      lit(3).as("batch"))
    BusDrain.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      DeltaWriter.write(df, t)
      BusDrain.drain(sc)
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 1, s"a 40-partition append launched ${jobs.get} jobs")
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.files.size == 3 * 4 + 40 && snap.files.forall(_.stats.isDefined))
    assert(DeltaSnapshotReader.load(spark, t).count() == 4150)
  }
}
