package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** File-system calls on `_delta_log` of the two metadata-plane operations
  * an ingest table repeats: a plain append on a warm snapshot, and a
  * fresh snapshot + load of a checkpointed table. Each bound is the count
  * the engine made before its snapshot cache checked entries against the
  * listing (append 2 listStatus, 3 exists, 1 open; fresh read 4, 5, 6),
  * so that check can never add a call. The two together are locked at
  * the count measured once a fresh read advances the writer's snapshot
  * (3, 2, 3), and must open no checkpoint. A caller that holds a
  * snapshot and reads it through [[DeltaFileIndex.relation]] lists
  * `_delta_log` once, for the snapshot. */
class LogFsCallSpec extends SparkSpec {
  import spark.implicits._

  private def append(t: String, i: Int): Unit =
    DeltaWriter.write((0 until 50).map(j => (i * 50L + j, j % 7, i)).toDF("id", "grp", "batch"), t)

  /** 3 appends and a checkpoint at v2, its snapshot warm. */
  private def checkpointed(): String = {
    val t = Files.createTempDirectory("graft_fscalls").toString + "/tbl"
    (0 until 3).foreach(append(t, _))
    DeltaWriter.checkpoint(spark, t)
    DeltaSnapshotReader.snapshot(spark, t).files
    t
  }

  test("a plain append: listStatus, exists and open calls on _delta_log") {
    val t = checkpointed()
    val (_, calls) = CountingFileSystem.count(spark)(append(t, 3))
    info(s"plain append: $calls")
    assert(calls.listStatus <= 2 && calls.exists <= 3 && calls.open <= 1, s"a plain append made $calls")
  }

  test("snapshot + load at its version of a checkpointed table: listStatus, exists and open calls") {
    val t = checkpointed()
    append(t, 3) // v3: a version no snapshot has resolved yet
    val (n, calls) = CountingFileSystem.count(spark) {
      val snap = DeltaSnapshotReader.snapshot(spark, t)
      DeltaSnapshotReader.load(spark, t, Some(snap.version)).filter(col("grp") === 3).count()
    }
    assert(n == 4 * 7) // grp 3 holds 7 of every 50-row batch's rows
    info(s"fresh read: $calls")
    assert(calls.listStatus <= 4 && calls.exists <= 5 && calls.open <= 6, s"a fresh read made $calls")
  }

  test("an append followed by snapshot + load: listStatus, exists and open calls, and no checkpoint opened") {
    val t = checkpointed()
    val (n, calls) = CountingFileSystem.count(spark) {
      append(t, 3)
      val snap = DeltaSnapshotReader.snapshot(spark, t)
      DeltaSnapshotReader.load(spark, t, Some(snap.version)).filter(col("grp") === 3).count()
    }
    assert(n == 4 * 7)
    info(s"append + fresh read: $calls")
    // the new version is advanced from the writer's snapshot: the read
    // opens the new commit and its crc, and no checkpoint
    assert(!calls.opened.exists(_.contains(".checkpoint")), s"a checkpoint was opened: $calls")
    assert(calls.listStatus <= 3 && calls.exists <= 2 && calls.open <= 3, s"an append + fresh read made $calls")
  }

  test("a caller holding a snapshot reads it through DeltaFileIndex.relation: one _delta_log listing") {
    val t = checkpointed()
    append(t, 3)
    val (n, calls) = CountingFileSystem.count(spark) {
      val snap = DeltaSnapshotReader.snapshot(spark, t)
      DeltaFileIndex.relation(spark, snap).filter(col("grp") === 3).count()
    }
    assert(n == 4 * 7)
    info(s"snapshot in hand: $calls")
    // the snapshot's own listing is the only one: planning and reading it
    // list nothing more
    assert(calls.listStatus == 1, s"snapshot + relation made $calls")
  }
}
