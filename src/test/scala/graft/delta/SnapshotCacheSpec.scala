package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The snapshot cache checks its own entries: an entry for (table, v) is
  * served only while the listing shows the file it was built from, so a
  * table recreated at its path reads its new state with no `invalidate`
  * call; and the cache holds at most
  * [[DeltaSnapshotReader.CacheCapacity]] snapshots, releasing the file
  * set of each one it evicts without breaking a query planned over it. */
class SnapshotCacheSpec extends SparkSpec {
  import spark.implicits._

  private val Gates = Seq("spark.graft.delta.driverFileListThreshold" -> "0",
    "spark.graft.delta.localReplayMaxBytes" -> "0")

  private def withConf[A](kv: Seq[(String, String)])(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def newTable(): String = Files.createTempDirectory("graft_snapcache").toString + "/tbl"

  /** A table of `n` versions written as log text: v0 creates it with one
    * file, every later version adds one. No data file exists. Each
    * version v > 0 also has the compacted range [0, v], so a replay of v
    * reads one log file. */
  private def textTable(n: Int): String = {
    val t = newTable()
    Files.createDirectories(Paths.get(t, "_delta_log"))
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    val create = Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"cache-spec","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{}}}""")
    def add(v: Int) = s"""{"add":{"path":"f$v.parquet","partitionValues":{},"size":${100 + v},"modificationTime":0,"dataChange":true}}"""
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(t, "_delta_log", name), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    (0 until n).foreach { v =>
      write(LogListing.commitName(v), (if (v > 0) Nil else create) :+ add(v))
      if (v > 0) write(LogListing.compactedName(0, v), create ++ (0 to v).map(add))
    }
    t
  }

  private def ids(t: String, v: Option[Long]): Seq[Long] =
    DeltaSnapshotReader.load(spark, t, v).select("id").as[Long].collect().sorted.toSeq

  private def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }

  test("a table deleted and recreated at its path reads its new rows at every version, with no invalidate") {
    val t = newTable()
    /** Three appends of `base`, `base + 1`, `base + 2`, written elsewhere
      * and copied to `t` (no writer of this engine touches `t`). */
    def recreate(base: Long): Unit = {
      val staged = newTable()
      (0L until 3L).foreach(i => DeltaWriter.write(Seq(base + i).toDF("id"), staged))
      val walk = Files.walk(Paths.get(staged))
      try walk.forEach(p => Files.copy(p, Paths.get(t).resolve(Paths.get(staged).relativize(p))))
      finally walk.close()
    }
    recreate(0L)
    assert(ids(t, None) == Seq(0L, 1L, 2L))
    (0L to 2L).foreach(v => assert(ids(t, Some(v)) == (0L to v)))
    rm(new java.io.File(t))
    recreate(100L)
    assert(ids(t, None) == Seq(100L, 101L, 102L))
    (0L to 2L).foreach(v => assert(ids(t, Some(v)) == (100L to 100L + v)))
  }

  test("resolving 100 versions with both gates at 0 pins at most the cache's capacity of file sets") {
    val t = textTable(100)
    // four resolving threads, one shuffle partition: the same cache
    // traffic in a fraction of the time
    withConf(Gates :+ ("spark.sql.shuffle.partitions" -> "1")) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val pool = Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val resolved = try Await.result(Future.traverse((0L until 100L).toVector) { v =>
        Future {
          val snap = DeltaSnapshotReader.snapshotAt(spark, t, Some(v))
          (snap.fileSet.count, snap.fileSet.isCollected)
        }
      }, 5.minutes) finally pool.shutdown()
      assert(resolved == (1L to 100L).map(_ -> false))
      val grown = spark.sparkContext.getPersistentRDDs.size - before
      assert(grown <= DeltaSnapshotReader.CacheCapacity,
        s"100 resolved versions left $grown more persisted RDDs (capacity ${DeltaSnapshotReader.CacheCapacity})")
    }
  }

  test("a DataFrame planned over an evicted snapshot still returns the right answer") {
    val t = newTable()
    DeltaWriter.write((0L until 5L).toDF("id"), t)
    DeltaWriter.write((5L until 10L).toDF("id"), t)
    // without a crc the file set is not collected for validation: it is
    // persisted at its first touch and stays distributed
    new java.io.File(t, "_delta_log").listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    // the writes cached the snapshot their commits leave: read cold
    DeltaSnapshotReader.invalidate(t)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val (snap, evens) = withConf(Gates) {
      val snap = DeltaSnapshotReader.snapshot(spark, t)
      val evens = DeltaSnapshotReader.load(spark, t).where(col("id") % 2 === 0).select("id").as[Long]
      assert(evens.count() == 5L && !snap.fileSet.isCollected)
      (snap, evens)
    }
    val pinned = persisted -- before
    assert(pinned.nonEmpty)
    // fill the cache with other entries: the table's snapshot is evicted
    val other = textTable(DeltaSnapshotReader.CacheCapacity + 1)
    (0L to DeltaSnapshotReader.CacheCapacity.toLong).foreach(v =>
      DeltaSnapshotReader.snapshotAt(spark, other, Some(v)))
    assert(DeltaSnapshotReader.snapshot(spark, t) ne snap)
    assert((pinned & persisted).isEmpty, "the evicted file set is still persisted")
    val released = persisted
    assert(evens.collect().sorted.toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    assert((persisted -- released).isEmpty, "the evicted file set was persisted again")
  }
}
