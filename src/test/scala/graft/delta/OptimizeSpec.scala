package graft.delta

import graft.SparkSpec
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** OPTIMIZE (small-file compaction): many tiny commits → one file per
  * partition; identical rows; stats merged; old versions still readable. */
class OptimizeSpec extends SparkSpec {
  import spark.implicits._

  test("compaction merges small files, preserves rows, merges stats") {
    val t = Files.createTempDirectory("graft_opt").toString + "/tbl"
    // 5 tiny commits = 5 files (the streaming-ingest small-file shape)
    (0 until 5).foreach { i =>
      DeltaWriter.write(Seq((i.toLong, s"v$i")).toDF("id", "s"), t)
    }
    val before = DeltaSnapshotReader.snapshot(spark, t)
    assert(before.files.size == 5)

    val v = DeltaWriter.optimize(spark, t)
    assert(v.contains(5L))
    val after = DeltaSnapshotReader.snapshot(spark, t)
    assert(after.files.size == 1, s"expected 1 compacted file, got ${after.files.size}")

    // identical content
    val got = DeltaSnapshotReader.load(spark, t).as[(Long, String)].collect().toSet
    assert(got == (0 until 5).map(i => (i.toLong, s"v$i")).toSet)

    // merged stats: numRecords summed, id range [0,4]
    val stats = DataSkipping.parse(after.files.head.stats.get).get
    assert(stats.numRecords.contains(5L))
    assert(stats.mins("id") == BigDecimal(0) && stats.maxs("id") == BigDecimal(4))

    // pre-compaction version still time-travels
    val v4 = DeltaSnapshotReader.load(spark, t, versionAsOf = Some(4L))
      .as[(Long, String)].collect().toSet
    assert(v4 == got)

    // idempotent: nothing left to compact
    assert(DeltaWriter.optimize(spark, t).isEmpty)
  }

  test("partitioned compaction keeps partition boundaries") {
    val t = Files.createTempDirectory("graft_opt").toString + "/tbl"
    (0 until 4).foreach { i =>
      DeltaWriter.write(
        Seq((i.toLong, 1995 + i % 2, s"r$i")).toDF("id", "yr", "s"),
        t, partitionBy = Seq("yr"))
    }
    assert(DeltaSnapshotReader.snapshot(spark, t).files.size == 4)
    DeltaWriter.optimize(spark, t)
    val after = DeltaSnapshotReader.snapshot(spark, t)
    assert(after.files.size == 2) // one per year
    assert(after.files.map(_.partitionValues("yr")).sorted == Seq("1995", "1996"))
    val got = DeltaSnapshotReader.load(spark, t)
      .select("id", "yr").as[(Long, Int)].collect().toSet
    assert(got == Set((0L, 1995), (1L, 1996), (2L, 1995), (3L, 1996)))
  }

  /** Call sites of the jobs `body` launches: the first stage's name,
    * `<method> at <file>:<line>`. */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.headOption.map(_.name).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      val a = body
      BusDrain.drain(sc)
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  test("multi-bin OPTIMIZE writes every bin in ONE job and ONE commit") {
    val t = Files.createTempDirectory("graft_opt_par").toString + "/tbl"
    // 8 partitions x 4 small files = 32 inputs → 8 bins (one per partition)
    (0 until 4).foreach { c =>
      DeltaWriter.write(
        (0 until 8).map(p => (p * 100L + c, p)).toDF("id", "p"), t, Seq("p"))
    }
    assert(DeltaSnapshotReader.snapshot(spark, t).fileSet.count == 32L)
    val (v, jobs) = jobsOf(DeltaWriter.optimize(spark, t))
    assert(v.contains(4L))
    // one planning job (the distributed bin-packing) and ONE data-writing
    // job for all 8 bins, each bin one write task
    assert(jobs.size == 2 && jobs.count(_.contains("DataFiles")) == 1, jobs)
    val after = DeltaSnapshotReader.snapshot(spark, t)
    // every bin landed in the SINGLE commit, one compacted file per partition
    assert(after.fileSet.count == 8L)
    assert(after.version == 4L)
    val got = DeltaSnapshotReader.load(spark, t)
      .select("id").as[Long].collect().toSet
    assert(got == (for (p <- 0 until 8; c <- 0 until 4) yield p * 100L + c).toSet)
    // per-bin stats, from each bin's write task
    assert(after.fileSet.collected.forall(f =>
      DataSkipping.parse(f.stats.get).exists(_.numRecords.contains(4L))))
  }

  test("OPTIMIZE keeps string, date and null partition values exactly") {
    val t = Files.createTempDirectory("graft_opt_pv").toString + "/tbl"
    val parts = Seq(("a+b", "2024-02-29"), ("x y", "1999-12-31"), (null, null), ("a+b", null))
    (0 until 3).foreach { c =>
      DeltaWriter.write(parts.zipWithIndex.map { case ((s, d), i) => (i * 10L + c, s, d) }
        .toDF("id", "s", "d").withColumn("d", to_date(col("d"))), t, Seq("s", "d"))
    }
    val before = DeltaSnapshotReader.snapshot(spark, t)
    assert(before.files.size == 12)
    val rows = DeltaSnapshotReader.load(spark, t).collect().toSet
    DeltaWriter.optimize(spark, t)
    val after = DeltaSnapshotReader.snapshot(spark, t)
    assert(after.files.size == 4, after.files.map(_.path))
    // each compacted add carries exactly its inputs' partition values
    assert(after.files.map(_.partitionValues).toSet == before.files.map(_.partitionValues).toSet,
      s"${after.files.map(_.partitionValues)} vs ${before.files.map(_.partitionValues).distinct}")
    assert(after.files.map(_.partitionValues).toSet.contains(Map("s" -> null, "d" -> null)))
    assert(DeltaSnapshotReader.load(spark, t).collect().toSet == rows)
    assert(DeltaSnapshotReader.load(spark, t)
      .filter(col("s") === "x y" && col("d") === lit("1999-12-31").cast("date")).count() == 3L)
  }
}
