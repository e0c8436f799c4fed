package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A named value with its unit, as printed and as emitted in JSON. */
final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long, val seconds: Double) {
  def fs(path: String) = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Loop time spent preparing inputs rather than running ops; the loop
    * clock excludes it. */
  var pausedNs = 0L
  def paused[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }
}

/** One closed-loop workload with a single client: `setup` builds every
  * input from the seed under a fresh directory, `warmup` runs each op kind
  * once untimed, `step` is one loop iteration (one or more ops), `verify`
  * checks the final state. */
trait Workload {
  def name: String
  def setup(dir: String): Unit
  def warmup(): Unit
  def step(): Unit
  def verify(): Unit
  /** The workload's end-to-end metrics under their own names. */
  def metrics(loopS: Double): Seq[Metric]
  /** The three cross-workload values: main-op median, work rate, write amplification. */
  def headline(loopS: Double): (Double, Double, Double)
  /** Per-layer values only this workload can compute (traced runs). */
  def layerExtras(): Seq[Metric] = Nil
  /** Extra ops a traced run makes after the timed loop. */
  def tracedPhase(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "lake_read"    => new LakeRead(ctx)
    case "lake_commits" => new LakeCommits(ctx)
    case "llm_pipeline" => new LlmPipeline(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Median of the op latencies of `kind`, in ms. */
  def p50(rec: Recorder, kind: String): Double = Stats.median(rec.okOps(kind).map(_.ms))

  /** `<prefix>_ms_p90`-style tail of latencies `xs`: the highest ladder
    * percentile with at least 10 samples beyond it, named after the
    * percentile it reached, and the sample count. */
  def tail(xs: Seq[Double], prefix: String): Seq[Metric] =
    Stats.tailPercentile(xs.size).filter(_ > 50).toSeq.map { p =>
      val label = if (p == p.floor) f"$p%.0f" else p.toString.replace(".", "_")
      Metric(s"${prefix}_ms_p$label", Stats.quantile(xs, p / 100.0), "ms")
    } :+ Metric(s"${prefix}_n", xs.size.toDouble, "count")

  /** All bytes under a table directory / bytes of its live data files. */
  def writeAmp(ctx: Ctx, table: String, liveBytes: Long): Double = {
    val fs = ctx.fs(table)
    val total = fs.getContentSummary(new Path(table)).getLength
    total.toDouble / math.max(1L, liveBytes)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** `delta.write_ms` (median per `DeltaWriter.write` call) and
    * `delta.write.jobs` (Spark jobs per call). */
  def writeSpans(rec: Recorder): Seq[Metric] = {
    val ws = rec.spansNamed("delta.write")
    Seq(Metric("delta.write_ms", Stats.median(ws.map(_.ms)), "ms"),
      Metric("delta.write.jobs", if (ws.isEmpty) 0.0 else ws.map(rec.jobsIn).sum.toDouble / ws.size, "count"))
  }
}

/** Times `DeltaSnapshotReader.snapshot` calls and counts cache hits: a hit
  * is the same instance returned again for the same table version. */
final class SnapshotProbe(ctx: Ctx) {
  private val last = mutable.HashMap.empty[String, graft.delta.DeltaSnapshot]
  var calls, hits = 0

  def apply(table: String): graft.delta.DeltaSnapshot = {
    val s = ctx.rec.span("delta.snapshot") { graft.delta.DeltaSnapshotReader.snapshot(ctx.spark, table) }
    if (ctx.rec.recording) {
      calls += 1
      if (last.get(table).exists(p => p.version == s.version && (p eq s))) hits += 1
    }
    last(table) = s
    s
  }

  def metrics(): Seq[Metric] = {
    val spans = ctx.rec.spansNamed("delta.snapshot")
    Seq(
      Metric("delta.snapshot_ms", Stats.median(spans.map(_.ms)), "ms"),
      Metric("delta.snapshot.hit_ratio", if (calls == 0) 0.0 else hits.toDouble / calls, "ratio"),
      Metric("delta.snapshot.jobs", if (spans.isEmpty) 0.0 else spans.map(ctx.rec.jobsIn).sum.toDouble / spans.size, "count"))
  }
}
