package graftbench

import scala.collection.mutable

import graft.dedup.DedupOps
import graft.delta.{DeltaSnapshotReader, DeltaWriter}
import graft.text.QualityOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-data curation of fresh corpus shards: each `shard` op takes one new
  * shard directory through the quality filter, line dedup and MinHash
  * near-dup operators and appends the surviving documents to a Delta
  * table. Every shard is new, so the operators' directory-keyed caches
  * never turn an op into a hit. `pool` shards are written at set-up; a
  * faster program gets more, made while the loop clock is paused. */
final class Curation(ctx: Ctx, pool: Int) {
  import Curation._
  import ctx._

  private var shards: IndexedSeq[String] = IndexedSeq.empty
  private var dir: String = _
  private var next = 0
  private val survivors = mutable.ArrayBuffer.empty[(Int, Long)] // (op, survivors)
  def out: String = s"$dir/curated"

  def setup(d: String): Unit = {
    dir = d
    shards = Gen.writeShards(spark, s"$d/corpus", seed, 0, pool, Docs).toIndexedSeq
    next = 0
    survivors.clear()
  }

  private def ids(rows: Array[Row]): Set[Long] = rows.map(_.getLong(0)).toSet

  /** One shard end to end; returns the number of surviving documents. */
  private def curate(shardDir: String, table: String): Option[Int] = rec.op("shard") {
    val shard = shardDir.split('/').last.toInt
    val good = rec.span("text.quality") {
      ids(QualityOps.gopherQuality(spark, shardDir).filter(col("passes") === 1).select("doc_id").collect())
    }
    val kept = rec.span("text.line_dedup") {
      ids(QualityOps.lineDedup(spark, shardDir).filter(col("n_kept") > 0).select("doc_id").collect())
    }
    val dups = rec.span("dedup.minhash") {
      ids(DedupOps.dedupMinhash(spark, shardDir).select("doc_b").collect())
    }
    val keep = ((good intersect kept) -- dups).toSeq.sorted
    val rows = keep.map(id => Row(id, shard))
    rec.span("delta.write") {
      DeltaWriter.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema), table)
    }
    keep.size
  }

  /** A small shard through every operator, unrecorded. */
  def warmup(): Unit = {
    val w = Gen.writeShards(spark, s"$dir/warmup", seed + 1000003L, 0, 1, WarmupDocs).head
    val was = rec.recording
    rec.recording = false
    try curate(w, s"$out-warmup") finally rec.recording = was
  }

  /** Curate the next fresh shard. */
  def step(): Unit = {
    if (next == shards.size) ctx.paused {
      shards ++= Gen.writeShards(spark, s"$dir/corpus", seed, shards.size, shards.size + pool, Docs)
    }
    curate(shards(next), out).foreach(n => survivors += ((rec.ops.last.id, n.toLong)))
    next += 1
  }

  /** The Delta table holds exactly the survivors the ops reported. */
  def verify(): Unit = if (survivors.nonEmpty) {
    val rows = DeltaSnapshotReader.load(spark, out).count()
    val want = survivors.map(_._2).sum
    if (rows != want) rec.markWrong(survivors.last._1, s"curated table has $rows rows, survivors sum to $want")
  }

  def docsIn: Long = rec.okOps("shard").size.toLong * Docs

  def writeAmp: Double =
    if (survivors.isEmpty) 0.0
    else Workload.writeAmp(ctx, out, DeltaSnapshotReader.snapshot(spark, out).files.map(_.size).sum)

  /** Documents per second of curation op time. */
  def docsPerOpSecond: Double = docsIn / math.max(1e-9, rec.okOps("shard").map(_.ms).sum / 1000.0)

  def layerMetrics(): Seq[Metric] = {
    def p50(n: String) = Stats.median(rec.spansNamed(n).map(_.ms))
    Seq(
      Metric("text.quality_ms", p50("text.quality"), "ms"),
      Metric("text.line_dedup_ms", p50("text.line_dedup"), "ms"),
      Metric("dedup.minhash_ms", p50("dedup.minhash"), "ms"),
      Metric("dedup.survivor_ratio", if (docsIn == 0) 0.0 else survivors.map(_._2).sum.toDouble / docsIn, "ratio"))
  }
}

object Curation {
  val Docs = 1000
  val WarmupDocs = 200
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("shard", IntegerType, nullable = false)))
}

/** Batch LLM-data curation on its own: the loop curates one fresh shard
  * after another. Not in BENCHMARK.json (see README.md); `lake_commits`
  * runs the same op every few iterations. */
final class LlmPipeline(ctx: Ctx) extends Workload {
  val name = "llm_pipeline"
  private val curation = new Curation(ctx, math.ceil(ctx.seconds).toInt)

  def setup(d: String): Unit = curation.setup(d)
  def warmup(): Unit = curation.warmup()
  def step(): Unit = curation.step()
  def verify(): Unit = curation.verify()

  def headline(loopS: Double): (Double, Double, Double) =
    (Workload.p50(ctx.rec, "shard"), curation.docsIn / loopS, curation.writeAmp)

  def metrics(loopS: Double): Seq[Metric] = Seq(
    Metric("pipeline_docs_per_s", curation.docsIn / loopS, "1/s"),
    Metric("shard_ms_p50", Workload.p50(ctx.rec, "shard"), "ms"),
    Metric("shard_n", ctx.rec.okOps("shard").size.toDouble, "count"),
    Metric("write_amp", curation.writeAmp, "ratio"))

  override def layerExtras(): Seq[Metric] = curation.layerMetrics() ++ Workload.writeSpans(ctx.rec)
}
