package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import graft.delta.{DeltaSnapshotReader, DeltaWriter}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Ingest with read-your-writes: each iteration appends a small seeded
  * batch and then counts one group through a fresh snapshot; every
  * `DmlEvery`-th iteration also runs a MERGE, UPDATE or DELETE (in turn),
  * followed by another fresh read. A row model checks every read and the
  * final table. */
final class LakeCommits(ctx: Ctx) extends Workload {
  import LakeCommits._
  import ctx._

  val name = "lake_commits"
  private val probe = new SnapshotProbe(ctx)
  private val checkpointOps = mutable.ArrayBuffer.empty[Int]
  private var filesRewritten, bytesRewritten = 0L
  private val json = new ObjectMapper()

  private var table: String = _
  private var model: RowModel = _
  private var gen: Gen.Events = _
  private var iter = 0

  /** A fresh table of `InitialRows` rows with a checkpoint, as a table in
    * use would have: every fresh read replays a checkpoint plus a JSON tail. */
  def setup(d: String): Unit = {
    table = s"$d/events"
    model = new RowModel
    gen = new Gen.Events(seed)
    iter = 0
    val rows = gen.batch(InitialRows, 0)
    DeltaWriter.write(Gen.eventsDf(spark, rows), table)
    model.append(rows)
    DeltaWriter.checkpoint(spark, table)
  }

  private def expectVersion(v: Long, what: String): Unit =
    if (v != model.version) rec.markWrong(rec.ops.last.id, s"$what committed v$v, model is at v${model.version}")

  /** Run a committing op; in traced runs, note whether it left a new checkpoint. */
  private def commitOp(kind: String)(body: => Long): Option[Long] = {
    val before = if (rec.traced && rec.recording) checkpoints() else 0
    val v = rec.op(kind)(body)
    if (rec.traced && rec.recording && v.isDefined && checkpoints() > before) checkpointOps += rec.ops.last.id
    v
  }

  private def checkpoints(): Int =
    ctx.fs(table).listStatus(new Path(table, "_delta_log")).count(_.getPath.getName.contains(".checkpoint"))

  private def iterate(dmlEvery: Int): Unit = {
    iter += 1
    val batch = gen.batch(BatchRows, iter)
    commitOp("append") {
      if (rec.traced) probe(table) // the writer's prior snapshot: same version as the last read
      rec.span("delta.write") { DeltaWriter.write(Gen.eventsDf(spark, batch), table) }
    }.foreach { v => model.append(batch); expectVersion(v, "append") }

    freshRead()
    if (iter % dmlEvery == 0) {
      dmlStep((iter / dmlEvery - 1) % DmlKinds.size)
      freshRead()
    }
  }

  /** Count one group through a fresh snapshot; must match the model at
    * the version read. */
  private def freshRead(): Unit = {
    val g = gen.group()
    rec.op("fresh_read") {
      val snap = probe(table)
      (snap.version, DeltaSnapshotReader.load(spark, table, Some(snap.version)).filter(col("grp") === g).count())
    }.foreach { case (v, n) =>
      if (v != model.version) rec.markWrong(rec.ops.last.id, s"fresh read saw v$v, model is at v${model.version}")
      else if (n != model.countAt(v, g)) rec.markWrong(rec.ops.last.id, s"grp $g at v$v: $n rows, model has ${model.countAt(v, g)}")
    }
  }

  /** DML on the rows of the last `RecentBatches` batches, as late
    * corrections to recent ingest are: each rewrites a few recent files. */
  private def dmlStep(kind: Int): Unit = {
    val since = iter - RecentBatches + 1
    DmlKinds(kind) match {
      case "merge" =>
        val src = gen.mergeSource(model.idsSince(since).toIndexedSeq, MergeRows, iter)
        dml("merge") { DeltaWriter.merge(spark, table, Gen.eventsDf(spark, src), Seq("id")) }
          .foreach { v => model.merge(src); expectVersion(v, "merge") }
      case "update" =>
        val p = gen.predicate(2, since)
        dml("update") { DeltaWriter.update(spark, table, pred(p), Map("value" -> (col("value") + 1L))) }
          .foreach { v => model.update(p, 1L); expectVersion(v, "update") }
      case "delete" =>
        val p = gen.predicate(3, since)
        dml("delete") { DeltaWriter.delete(spark, table, pred(p)) }
          .foreach { v => model.delete(p); expectVersion(v, "delete") }
    }
  }

  private def dml(kind: String)(body: => Long): Option[Long] = {
    val v = commitOp(kind)(rec.span("delta.dml") { body })
    if (rec.traced && rec.recording) v.foreach(rewritten)
    v
  }

  /** Files a DML commit removed and bytes it added, from its log entry. */
  private def rewritten(v: Long): Unit = {
    val f = new Path(table, f"_delta_log/$v%020d.json")
    val in = ctx.fs(table).open(f)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { line =>
      val n = json.readTree(line)
      if (n.has("remove")) filesRewritten += 1
      if (n.has("add")) bytesRewritten += n.get("add").get("size").asLong()
    } finally in.close()
  }

  /** The final table must equal the model. */
  def verify(): Unit = {
    val got = DeltaSnapshotReader.load(spark, table).orderBy("id").collect()
      .map(r => Event(r.getAs[Long]("id"), r.getAs[Int]("grp"), r.getAs[Long]("value"), r.getAs[Int]("batch"))).toSeq
    val want = model.sorted
    if (got != want && rec.ops.nonEmpty) {
      val diff = got.diff(want).take(3) ++ want.diff(got).take(3)
      rec.markWrong(rec.ops.last.id, s"final table has ${got.size} rows, model ${want.size}; e.g. $diff")
    }
  }

  private def pred(p: GrpMod): Column =
    col("batch") >= p.minBatch && col("grp") === p.grp && pmod(col("id"), lit(p.mod.toLong)) === p.rem

  /** One iteration with a MERGE before timing. */
  def warmup(): Unit = iterate(dmlEvery = 1)

  def step(): Unit = iterate(DmlEvery)

  private def commitKinds = "append" +: DmlKinds

  def headline(loopS: Double): (Double, Double, Double) =
    (Workload.p50(rec, "append"), commitKinds.map(rec.okOps(_).size).sum / loopS, writeAmp)

  private def writeAmp: Double =
    Workload.writeAmp(ctx, table, DeltaSnapshotReader.snapshot(spark, table).files.map(_.size).sum)

  def metrics(loopS: Double): Seq[Metric] = {
    val dmlMs = DmlKinds.flatMap(rec.okOps).map(_.ms)
    Seq(Metric("commit_ms_p50", Workload.p50(rec, "append"), "ms")) ++
      Workload.tail(rec.okOps("append").map(_.ms), "commit") ++
      Seq(Metric("fresh_read_ms_p50", Workload.p50(rec, "fresh_read"), "ms")) ++
      Workload.tail(rec.okOps("fresh_read").map(_.ms), "fresh_read") ++
      Seq(Metric("dml_ms_p50", Stats.median(dmlMs), "ms"), Metric("dml_n", dmlMs.size.toDouble, "count"),
        Metric("commit_ops_per_s", commitKinds.map(rec.okOps(_).size).sum / loopS, "1/s"),
        Metric("write_amp", writeAmp, "ratio"))
  }

  override def layerExtras(): Seq[Metric] = {
    val byId = rec.ops.map(o => o.id -> o).toMap
    Seq(
      Metric("delta.checkpoint.count", checkpointOps.size.toDouble, "count"),
      Metric("delta.checkpoint_commit_ms", Stats.median(checkpointOps.toSeq.map(byId(_).ms)), "ms"),
      Metric("delta.dml_ms", Stats.median(rec.spansNamed("delta.dml").map(_.ms)), "ms")) ++
      DmlKinds.map(k => Metric(s"delta.dml_ms.$k", Workload.p50(rec, k), "ms")) ++
      Seq(Metric("delta.dml.files_rewritten", filesRewritten.toDouble, "count"),
        Metric("delta.dml.bytes_rewritten", bytesRewritten.toDouble, "bytes")) ++
      Workload.writeSpans(rec) ++ probe.metrics()
  }
}

object LakeCommits {
  val InitialRows = 400
  val BatchRows = 50
  val MergeRows = 40
  val DmlEvery = 2
  val DmlKinds: Seq[String] = Seq("merge", "update", "delete")
  /** DML touches rows of this many most recent batches. */
  val RecentBatches = 4
}
