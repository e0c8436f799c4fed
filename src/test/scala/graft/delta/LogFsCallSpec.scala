package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** File-system calls on `_delta_log` of the two metadata-plane operations
  * an ingest table repeats: a plain append on a warm snapshot, and a
  * fresh snapshot + load of a checkpointed table. The fresh read's bound
  * is the count the engine made before its snapshot cache checked
  * entries against the listing (4 listStatus, 5 exists, 6 open), so that
  * check can never add a call. The append is locked at the count
  * measured once its crc is rendered from the snapshot its commit leaves
  * (1, 1, 0: no previous crc is read), and the two together at the count
  * measured once that snapshot is cached for the read after the write
  * (3, 1, 0), which opens no log file at all. A caller that holds a
  * snapshot and reads it through [[DeltaFileIndex.relation]] lists
  * `_delta_log` once, for the snapshot, and so does a `graftdelta2` read
  * (3 listings before its provider held the snapshot it infers). */
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
    // the crc is rendered from the post-commit snapshot: no previous crc is read
    assert(calls.listStatus <= 1 && calls.exists <= 1 && calls.open == 0, s"a plain append made $calls")
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
    // the append cached the snapshot its commit leaves: the read is a hit
    // and opens no log file, checkpoint or commit
    assert(!calls.opened.exists(_.contains(".checkpoint")), s"a checkpoint was opened: $calls")
    assert(calls.listStatus <= 3 && calls.exists <= 1 && calls.open == 0, s"an append + fresh read made $calls")
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

  test("a graftdelta2 read lists _delta_log once") {
    val t = checkpointed()
    append(t, 3)
    val (n, calls) = CountingFileSystem.count(spark) {
      spark.read.format("graftdelta2").load(t).filter(col("grp") === 3).count()
    }
    assert(n == 4 * 7)
    info(s"graftdelta2 read: $calls")
    // schema inference, partitioning inference and the table share the
    // provider's one resolution
    assert(calls.listStatus == 1, s"a graftdelta2 read made $calls")
  }
}
