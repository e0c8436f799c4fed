package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Change Data Feed: DML on a `delta.enableChangeDataFeed=true` table
  * writes `_change_data` files + `cdc` actions; the reader returns the
  * row-level feed per version range, reconstructing inserts/deletes from
  * plain add/remove commits. Covers UPDATE pre/post images, DELETE (CoW
  * and DV), MERGE (update + insert in one commit, no double-count),
  * append/overwrite derivation, protocol bump, and the disabled-table
  * error. */
class ChangeDataFeedSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_cdf").toString + "/tbl"

  /** CDF-enabled table: v0 = ids 0-9, v1 = SET TBLPROPERTIES. */
  private def mkTable(): String = {
    val t = newTable()
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i", i % 2)).toDF("id", "s", "p"),
      t, partitionBy = Seq("p"))
    DeltaWriter.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    t
  }

  /** The commit's change-file dir: `_change_data/v<N>-<uuid>` (commit-
    * unique since the conflict-retry hardening; consumers resolve through
    * the log's cdc paths, the name is debugging sugar). */
  private def cdfDir(t: String, version: Long): Option[java.io.File] = {
    val base = new java.io.File(new java.net.URI("file://" + t + "/_change_data"))
    Option(base.listFiles()).getOrElse(Array.empty)
      .find(f => f.getName == s"v$version" || f.getName.startsWith(s"v$version-"))
  }

  private def feed(t: String, from: Long, to: Option[Long] = None) =
    ChangeDataFeed.read(spark, t, from, to)
      .select(col("id"), col("s"), col("p"),
        col("_change_type").as("ct"), col("_commit_version").as("v"))

  test("enabling CDF bumps writer protocol to 4 and update writes change files") {
    val t = mkTable()
    val p = DeltaSnapshotReader.snapshot(spark, t).protocol.get
    assert(p.minWriterVersion == 4)
    DeltaWriter.update(spark, t, col("id") >= 8L, Map("s" -> lit("upd"))) // v2
    assert(cdfDir(t, 2L).exists(_.isDirectory), "_change_data/v2* missing")
    val got = feed(t, 2L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(got == Set(
      (8L, "r8", 0L, "update_preimage", 2L), (9L, "r9", 1L, "update_preimage", 2L),
      (8L, "upd", 0L, "update_postimage", 2L), (9L, "upd", 1L, "update_postimage", 2L)))
    // timestamps populate per version
    val ts = ChangeDataFeed.read(spark, t, 2L).select("_commit_timestamp").distinct().collect()
    assert(ts.length == 1 && ts.head.getTimestamp(0) != null)
  }

  test("CoW delete and DV delete both feed exact deleted rows") {
    val t = mkTable()
    DeltaWriter.delete(spark, t, col("id") === 3L)          // v2 (copy-on-write)
    DeltaWriter.deleteWithDV(spark, t, col("id").isin(4L, 5L)) // v3 (deletion vectors)
    val got = feed(t, 2L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(got == Set(
      (3L, "r3", 1L, "delete", 2L),
      (4L, "r4", 0L, "delete", 3L), (5L, "r5", 1L, "delete", 3L)))
    // a second DV delete must not re-report already-deleted rows
    DeltaWriter.deleteWithDV(spark, t, col("id") <= 5L)     // v4: only 0,1,2 live
    val v4 = feed(t, 4L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(v4.map(_._1) == Set(0L, 1L, 2L))
  }

  test("DV update and DV merge feed the same change rows as their CoW twins") {
    val t = mkTable()
    DeltaWriter.updateWithDV(spark, t, col("id") >= 8L, Map("s" -> lit("upd"))) // v2
    val got = feed(t, 2L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(got == Set(
      (8L, "r8", 0L, "update_preimage", 2L), (9L, "r9", 1L, "update_preimage", 2L),
      (8L, "upd", 0L, "update_postimage", 2L), (9L, "upd", 1L, "update_postimage", 2L)))
    val src = Seq((1L, "m1", 1L), (20L, "new", 0L)).toDF("id", "s", "p")
    DeltaWriter.mergeWithDV(spark, t, src, Seq("id")) // v3
    val v3 = feed(t, 3L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(v3 == Set(
      (1L, "r1", 1L, "update_preimage", 3L),
      (1L, "m1", 1L, "update_postimage", 3L),
      (20L, "new", 0L, "insert", 3L)))
    // superseded (DV-masked) copies never re-report: a later delete of id=8
    // feeds only its LIVE (replacement) row
    DeltaWriter.deleteWithDV(spark, t, col("id") === 8L) // v4
    val v4 = feed(t, 4L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(v4 == Set((8L, "upd", 0L, "delete", 4L)))
  }

  test("merge feeds preimage+postimage for matches, insert for new keys — no double count") {
    val t = mkTable()
    val src = Seq((1L, "m1", 1L), (20L, "new", 0L)).toDF("id", "s", "p")
    DeltaWriter.merge(spark, t, src, Seq("id")) // v2
    val got = feed(t, 2L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "r1", 1L, "update_preimage", 2L),
      (1L, "m1", 1L, "update_postimage", 2L),
      (20L, "new", 0L, "insert", 2L)))
  }

  test("appends derive insert from add actions without cdc files; overwrite derives both") {
    val t = mkTable()
    DeltaWriter.write(Seq((10L, "r10", 0L)).toDF("id", "s", "p"), t,
      partitionBy = Seq("p")) // v2 append
    assert(cdfDir(t, 2L).isEmpty, "append must not write cdc files")
    val ins = feed(t, 2L).as[(Long, String, Long, String, Long)].collect().toSet
    assert(ins == Set((10L, "r10", 0L, "insert", 2L)))
    DeltaWriter.write(Seq((99L, "ow", 1L)).toDF("id", "s", "p"), t,
      partitionBy = Seq("p"), mode = "overwrite") // v3
    val ow = feed(t, 3L).as[(Long, String, Long, String, Long)].collect()
    assert(ow.count(_._4 == "delete") == 11 && ow.count(_._4 == "insert") == 1)
    assert(ow.filter(_._4 == "insert").map(_._1).toSeq == Seq(99L))
    // full-range read spans mixed derivation modes
    assert(feed(t, 0L).count() == 10 + 1 + 12)
  }

  test("reading a non-CDF table or an invalid range fails loudly") {
    val t = newTable()
    DeltaWriter.write(Seq((1L, "a", 0L)).toDF("id", "s", "p"), t)
    val e = intercept[IllegalArgumentException](ChangeDataFeed.read(spark, t, 0L))
    assert(e.getMessage.contains("enableChangeDataFeed"))
    val t2 = mkTable()
    intercept[IllegalArgumentException](ChangeDataFeed.read(spark, t2, 7L))
  }

  test("a remove of a file not active at v-1 fails the same way on both placements") {
    val t = mkTable()
    // v2: a foreign commit removing a file the table never had
    java.nio.file.Files.write(java.nio.file.Paths.get(t, "_delta_log", f"${2L}%020d.json"),
      ("""{"remove":{"path":"p=0/ghost.parquet","deletionTimestamp":1,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    DeltaSnapshotReader.invalidate(t)
    def failure(localMax: Option[String]): Throwable = {
      localMax.foreach(spark.conf.set("spark.graft.delta.localReplayMaxBytes", _))
      try intercept[Throwable](ChangeDataFeed.read(spark, t, 2L).collect())
      finally spark.conf.unset("spark.graft.delta.localReplayMaxBytes")
    }
    val local = failure(None)
    val distributed = failure(Some("0"))
    assert(local.getClass == distributed.getClass,
      s"local placement threw ${local.getClass}, distributed ${distributed.getClass}")
    Seq(local, distributed).foreach { e =>
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("that was not active at 1")), e)
    }
  }

  test("streaming CDF: AvailableNow drains resume from the checkpoint and feed DML") {
    val t = mkTable() // v0 data, v1 enable CDF
    val ck = Files.createTempDirectory("graft_cdf_ck").toString
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graftdelta")
        .option("readChangeFeed", "true").load(t)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = df.select("id", "s", "_change_type", "_commit_version")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          buf.synchronized { buf ++= rows }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // bootstrap: snapshot rows as inserts at the current version
    assert(buf.size == 10 && buf.forall(r => r._3 == "insert" && r._4 == 1L))
    DeltaWriter.update(spark, t, col("id") === 1L, Map("s" -> lit("u"))) // v2
    DeltaWriter.delete(spark, t, col("id") === 2L)                      // v3
    drain() // resumes at v2 — must deliver exactly the DML's change rows
    assert(buf.filter(_._4 >= 2L).toSet == Set(
      (1L, "r1", "update_preimage", 2L), (1L, "u", "update_postimage", 2L),
      (2L, "r2", "delete", 3L)))
    drain() // no new commits → no new rows
    assert(buf.size == 13)
  }

  test("update change files carry partition layout (hive dirs + injected values)") {
    val t = mkTable()
    DeltaWriter.update(spark, t, col("id") === 2L, Map("s" -> lit("x"))) // v2
    val cdcDir = cdfDir(t, 2L).get
    // id=2 lives in p=0: the change file must sit under the hive dir
    assert(cdcDir.listFiles().exists(f => f.getName == "p=0"))
    val byPart = feed(t, 2L).groupBy("p").count().as[(Long, Long)].collect().toMap
    assert(byPart == Map(0L -> 2L))
  }
}
