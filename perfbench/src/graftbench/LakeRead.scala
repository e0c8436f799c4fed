package graftbench

import scala.collection.mutable
import scala.util.Random

import graft.catalog.PathCatalog
import graft.delta.DeltaWriter
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Interactive read-only SQL over Delta: every query resolves its tables
  * through `PathCatalog.table` and runs one of three templates. Nothing
  * writes during the loop, so snapshots stay cached. */
final class LakeRead(ctx: Ctx) extends Workload {
  import LakeRead._
  import ctx._

  val name = "lake_read"
  private val Orders = 150000L // sf0.1
  private var dir: String = _
  private var catalog: PathCatalog = _
  private var params: Map[String, IndexedSeq[Param]] = Map.empty
  private var rnd: Random = _
  private var block: List[String] = Nil
  private val answers = mutable.ArrayBuffer.empty[(Int, String, Param, Array[Row])]
  private val probe = new SnapshotProbe(ctx)
  private val filesTotal = mutable.HashMap.empty[Int, Long]
  private val curation = new Curation(ctx, CuratedShards)

  private def lake(t: String) = s"$dir/lake/$t"

  /** The source fixtures are plain parquet (`lineitem` hive-partitioned by
    * ship year, ~40 files each covering a few months of ship dates), made
    * Delta tables in place by `CONVERT TO DELTA`, which records per-file
    * stats, so `pruned` can skip files by date. */
  def setup(d: String): Unit = {
    dir = d
    val orders = Gen.orders(spark, seed, Orders, GenParts)
    orders.write.parquet(lake("orders"))
    DeltaWriter.convertToDelta(spark, lake("orders"))
    Gen.lineitem(orders, seed).write.partitionBy("l_shipyear").parquet(lake("lineitem"))
    DeltaWriter.convertToDelta(spark, lake("lineitem"), Seq("l_shipyear"))
    catalog = new PathCatalog(spark, s"$dir/lake")
    val r = new Random(seed)
    params = Map(
      "scan" -> r.shuffle((60 to 120 by 5).toIndexedSeq).take(3).map(d => Param(d, 0, 0)),
      "pruned" -> IndexedSeq.fill(4)(Param(1993 + r.nextInt(5), 1 + r.nextInt(12), 2 + r.nextInt(7))),
      "join" -> IndexedSeq.fill(3)(Param(1993 + r.nextInt(5), 1 + 3 * r.nextInt(4), 0)))
    rnd = new Random(seed * 17L + 1L)
    block = Nil
    answers.clear()
  }

  /** Templates in blocks of three, one of each in a seeded order, so every
    * run has the same mix. */
  private def nextTemplate(): String = {
    if (block.isEmpty) block = rnd.shuffle(Templates.toList)
    val t = block.head; block = block.tail; t
  }

  private def query(t: String, p: Param): Unit =
    rec.op(t) {
      if (rec.traced) {
        probe(lake("lineitem"))
        if (t == "join") probe(lake("orders"))
      }
      val li = rec.span("catalog.resolve") { catalog.table("lineitem") }
      val od = if (t == "join") rec.span("catalog.resolve") { catalog.table("orders") } else null
      rec.span("query.collect") { run(t, p, li, od).collect() }
    }.foreach(rows => if (rec.recording) answers += ((rec.ops.last.id, t, p, rows)))

  def warmup(): Unit = Templates.foreach(t => query(t, params(t).head))

  def step(): Unit = {
    val t = nextTemplate()
    val ps = params(t)
    query(t, ps(rnd.nextInt(ps.size)))
    if (rec.traced && rec.ops.last.ok) filesTotal(rec.ops.last.id) =
      graft.delta.DeltaSnapshotReader.snapshot(spark, lake("lineitem")).files.size +
        (if (t == "join") graft.delta.DeltaSnapshotReader.snapshot(spark, lake("orders")).files.size else 0)
  }

  /** Batch curation of fresh corpus shards, so the `text` and `dedup`
    * layers are measured too; after the loop, so it moves no query metric. */
  override def tracedPhase(): Unit = {
    curation.setup(s"$dir/curation")
    curation.warmup()
    (1 to CuratedShards).foreach(_ => curation.step())
  }

  /** Every answer must match the same template run by Spark's plain
    * parquet reader over the source fixtures. */
  def verify(): Unit = {
    if (rec.traced) curation.verify()
    val li = spark.read.parquet(lake("lineitem"))
    val od = spark.read.parquet(lake("orders"))
    answers.groupBy(a => (a._2, a._3)).foreach { case ((t, p), as) =>
      val expect = run(t, p, li, od).collect()
      as.foreach { case (op, _, _, got) =>
        sameRows(got, expect).foreach(why => rec.markWrong(op, s"$t $p: $why"))
      }
    }
  }

  private def liveBytes: Long = Seq("lineitem", "orders")
    .map(t => graft.delta.DeltaSnapshotReader.snapshot(spark, lake(t)).files.map(_.size).sum).sum

  def headline(loopS: Double): (Double, Double, Double) = {
    val all = Templates.flatMap(rec.okOps).map(_.ms)
    val amp = Workload.writeAmp(ctx, s"$dir/lake", liveBytes)
    (Stats.median(all), all.size / loopS, amp)
  }

  def metrics(loopS: Double): Seq[Metric] = {
    val all = Templates.flatMap(rec.okOps).map(_.ms)
    Seq(Metric("read_qps", all.size / loopS, "1/s"), Metric("read_ms_p50", Stats.median(all), "ms")) ++
      Workload.tail(all, "read") ++
      Templates.map(t => Metric(s"read_${t}_ms_p50", Workload.p50(rec, t), "ms"))
  }

  override def layerExtras(): Seq[Metric] = {
    val resolve = rec.spansNamed("catalog.resolve")
    val byKind = Templates.map { t =>
      val ops = rec.okOps(t)
      val read = ops.map(o => rec.layers.get(o.id).map(_.filesRead).getOrElse(0L)).sum
      val total = ops.map(o => filesTotal.getOrElse(o.id, 0L)).sum
      Metric(s"scan.pruning_ratio.$t", if (total == 0) 0.0 else read.toDouble / total, "ratio")
    }
    Seq(Metric("catalog.resolve_ms", Stats.median(resolve.map(_.ms)), "ms")) ++ byKind ++ probe.metrics() ++
      curation.layerMetrics() ++ Workload.writeSpans(rec) :+
      Metric("pipeline_docs_per_s", curation.docsPerOpSecond, "1/s")
  }
}

object LakeRead {
  val Templates: Seq[String] = Seq("scan", "pruned", "join")
  /** Generator partitions, hence data files per ship year (about 40 in all). */
  val GenParts = 32
  /** Shards a traced run curates after the loop. */
  val CuratedShards = 2

  /** scan: (cutoff days, -, -); pruned: (year, month, discount %);
    * join: (year, first month of the quarter, -). */
  final case class Param(a: Int, b: Int, c: Int)

  private def date(y: Int, m: Int): Column = lit(java.sql.Date.valueOf(f"$y%04d-$m%02d-01"))

  /** The three templates, over either the Delta frames or the source parquet. */
  def run(t: String, p: Param, li: DataFrame, od: DataFrame): DataFrame = t match {
    case "scan" => // Q1 shape: full scan, grouped aggregate
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.filter(col("l_shipdate") <= date_sub(lit(java.sql.Date.valueOf("1998-12-01")), p.a))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity"), sum("l_extendedprice"), sum(disc),
          sum(disc * (lit(1.0) + col("l_tax"))), avg("l_quantity"), avg("l_extendedprice"),
          avg("l_discount"), count(lit(1)))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    case "pruned" => // Q6 shape: one partition, one month, a discount band
      val from = date(p.a, p.b)
      li.filter(col("l_shipyear") === p.a && col("l_shipdate") >= from && col("l_shipdate") < add_months(from, 1) &&
          col("l_discount").between((p.c - 1) / 100.0, (p.c + 1) / 100.0) && col("l_quantity") < 24.0)
        .agg(sum(col("l_extendedprice") * col("l_discount")), count(lit(1)))
    case "join" => // lineitem ⋈ orders over one quarter of order dates
      val from = date(p.a, p.b)
      li.join(od.filter(col("o_orderdate") >= from && col("o_orderdate") < add_months(from, 3)),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)), sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .orderBy(col("o_orderpriority"))
  }

  /** None when equal; doubles compare to a relative 1e-9, since the two
    * plans sum in different orders. */
  def sameRows(got: Array[Row], expect: Array[Row]): Option[String] =
    if (got.length != expect.length) Some(s"${got.length} rows, expected ${expect.length}")
    else got.zip(expect).collectFirst {
      case (g, e) if g.length != e.length || g.toSeq.zip(e.toSeq).exists { case (a, b) => !close(a, b) } =>
        s"row $g, expected $e"
    }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }
}
