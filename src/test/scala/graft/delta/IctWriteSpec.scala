package graft.delta

import graft.SparkSpec
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Writer-side in-commit timestamps (`delta.enableInCommitTimestamps`):
  * every commit after enablement records a strictly monotone
  * `commitInfo.inCommitTimestamp`, the enabling commit stamps the
  * provenance properties and the protocol-7 feature, and timestamp time
  * travel resolves by ICT above the enablement point. */
class IctWriteSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_ict").toString + "/tbl"

  test("enabling stamps feature + provenance; subsequent commits are strictly monotone") {
    val t = newTable()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "s"), t)               // v0
    DeltaWriter.setProperties(spark, t,
      Map("delta.enableInCommitTimestamps" -> "true"))                 // v1
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.configuration("delta.inCommitTimestampEnablementVersion") == "1")
    assert(snap.protocol.get.writerFeatures.get.contains("inCommitTimestamp"))
    assert(snap.protocol.get.minWriterVersion == 7)
    // a burst of commits inside the same millisecond must still be monotone
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "s"), t)               // v2
    DeltaWriter.update(spark, t, col("id") === 1L, Map("s" -> lit("u"))) // v3
    DeltaWriter.delete(spark, t, col("id") === 2L)                     // v4
    DeltaWriter.setProperties(spark, t, Map("k" -> "v"))               // v5
    val icts = (1L to 5L).map(v => DeltaSnapshotReader.commitTimestamp(spark, t, v))
    assert(icts == icts.sorted && icts.distinct.size == icts.size,
      s"ICTs not strictly monotone: $icts")
    // the enablement timestamp property equals v1's ICT
    assert(snap.configuration("delta.inCommitTimestampEnablementTimestamp") == icts.head.toString)
    // history surfaces the ICT as the authoritative timestamp
    val hist = DeltaSnapshotReader.history(spark, t)
      .select("version", "timestamp").as[(Long, Long)].collect().toMap
    (1L to 5L).foreach(v => assert(hist(v) == icts(v.toInt - 1)))
  }

  test("timestamp time travel resolves by ICT after enablement") {
    val t = newTable()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "s"), t)               // v0
    DeltaWriter.setProperties(spark, t,
      Map("delta.enableInCommitTimestamps" -> "true"))                 // v1
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "s"), t)               // v2
    DeltaWriter.write(Seq((3L, "c")).toDF("id", "s"), t)               // v3
    val ict2 = DeltaSnapshotReader.commitTimestamp(spark, t, 2L)
    val ict3 = DeltaSnapshotReader.commitTimestamp(spark, t, 3L)
    assert(DeltaSnapshotReader.versionAtTimestamp(spark, t, ict2) == 2L)
    assert(DeltaSnapshotReader.versionAtTimestamp(spark, t, ict3 - 1) == 2L)
    assert(DeltaSnapshotReader.versionAtTimestamp(spark, t, ict3) == 3L)
    assert(DeltaSnapshotReader.loadAtTime(spark, t, ict2).count() == 2L)
  }

  /** Jobs launched by `body`, counted by a listener over a drained bus. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; BusDrain.drain(sc); jobs.get } finally sc.removeSparkListener(l)
  }

  test("an append to an ICT table launches as many jobs as a plain append") {
    val (plain, ict) = (newTable(), newTable())
    Seq(plain, ict).foreach(t => DeltaWriter.write(Seq((1L, "a")).toDF("id", "s"), t))
    DeltaWriter.setProperties(spark, ict, Map("delta.enableInCommitTimestamps" -> "true"))
    val jobs = Seq(plain, ict).map { t =>
      DeltaSnapshotReader.snapshot(spark, t).files // the writer's prior snapshot, warm
      jobsOf(DeltaWriter.write(Seq((2L, "b")).toDF("id", "s"), t))
    }
    assert(jobs(1) == jobs(0), s"an ICT append launched ${jobs(1)} jobs, a plain one ${jobs(0)}")
    assert(DeltaSnapshotReader.commitTimestamp(spark, ict, 2L) > DeltaSnapshotReader.commitTimestamp(spark, ict, 1L))
  }
}
