package graft.delta

import graft.SparkSpec

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Every commit runs the same post-commit hooks, whatever op made it: an op
  * whose commit lands on `delta.checkpointInterval` leaves the checkpoint
  * and `_last_checkpoint` at that version, as an append does. */
class TransactionHookSpec extends SparkSpec {
  import spark.implicits._

  /** v0 append, v1 sets the interval to 3, v2 append: the op under test
    * commits v3. */
  private def table(): String = {
    val t = Files.createTempDirectory("graft_txhook").toString + "/t"
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "v"), t)
    DeltaWriter.setProperties(spark, t, Map("delta.checkpointInterval" -> "3"))
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "v"), t)
    t
  }

  private def assertCheckpointedAt3(t: String, op: String): Unit = {
    val log = new File(t, "_delta_log")
    assert(new File(log, f"${3L}%020d.checkpoint.parquet").exists(),
      s"$op committed v3 on the interval but left no checkpoint")
    val last = new String(Files.readAllBytes(new File(log, "_last_checkpoint").toPath),
      StandardCharsets.UTF_8)
    assert(""""version"\s*:\s*(\d+)""".r.findFirstMatchIn(last).map(_.group(1)).contains("3"),
      s"$op: _last_checkpoint is $last")
  }

  test("SET TBLPROPERTIES on the checkpoint interval writes the checkpoint") {
    val t = table()
    assert(DeltaWriter.setProperties(spark, t, Map("owner" -> "ingest")) == 3L)
    assertCheckpointedAt3(t, "SET TBLPROPERTIES")
  }

  test("RESTORE on the checkpoint interval writes the checkpoint") {
    val t = table()
    assert(DeltaWriter.restore(spark, t, 1L) == 3L)
    assertCheckpointedAt3(t, "RESTORE")
    assert(DeltaSnapshotReader.load(spark, t).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("FSCK REPAIR on the checkpoint interval writes the checkpoint") {
    val t = table()
    val v1 = DeltaSnapshotReader.snapshotAt(spark, t, Some(1L)).files.map(_.path).toSet
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    val lost = snap.files.filterNot(f => v1.contains(f.path))
    assert(lost.size == 1)
    assert(new File(snap.absolutePath(lost.head)).delete())
    assert(DeltaWriter.fsckRepair(spark, t).size == 1)
    assert(DeltaSnapshotReader.snapshot(spark, t).version == 3L)
    assertCheckpointedAt3(t, "FSCK REPAIR")
  }

  test("COMPUTE STATS on the checkpoint interval writes the checkpoint") {
    val t = table()
    assert(DeltaWriter.recomputeStats(spark, t) == 3L)
    assertCheckpointedAt3(t, "COMPUTE STATS")
  }
}
