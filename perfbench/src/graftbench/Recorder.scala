package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed-loop operation as the client saw it. */
final case class OpRec(id: Int, kind: String, startNs: Long, endNs: Long,
                       startMs: Long, endMs: Long, error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = error.isEmpty
}

/** What the layers under one op did, gathered in traced runs only. */
final class OpLayers {
  var jobs, stages, tasks = 0L
  var scanTaskMs, bytesRead, rowsRead = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var planMs = 0.0
  var filesRead = 0L
  var gcMs = 0L
  var fs: Array[Long] = Array.fill(CountingLocalFileSystem.Names.size)(0L)
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Times every op; in traced runs it also records a span per call into a
  * layer and attaches the Spark listeners that attribute jobs, stages,
  * tasks, shuffle, scan and planning work to the op that caused them. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  val layers = mutable.HashMap.empty[Int, OpLayers]
  private val wrong = mutable.LinkedHashMap.empty[Int, String]
  private var stack: List[Int] = Nil
  private var current = -1
  private var nextSpan = 0
  /** While false, ops run untimed and unrecorded (warm-up). */
  var recording = true

  private val OpKey = "graftbench.op"
  private val jobOp = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val queries = new ConcurrentLinkedQueue[(Double, Long)]()

  private def layer(op: Int): OpLayers = layers.getOrElseUpdate(op, new OpLayers)

  private object Jobs extends SparkListener {
    private def opOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt).getOrElse(-1)
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val op = opOf(e.properties)
      jobOp(e.jobId) = op; jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      if (op >= 0) layer(op).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      val op = jobOp.getOrElse(e.jobId, -1)
      if (op >= 0) layer(op).jobIntervals += ((jobStart(e.jobId), e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      val op = opOf(e.properties)
      stageOp(e.stageInfo.stageId) = op
      if (op >= 0) layer(op).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val op = stageOp.getOrElse(e.stageId, -1)
      val m = e.taskMetrics
      if (op >= 0 && m != null) {
        val l = layer(op)
        l.tasks += 1
        if (m.inputMetrics.bytesRead > 0) {
          l.scanTaskMs += m.executorRunTime
          l.bytesRead += m.inputMetrics.bytesRead
          l.rowsRead += m.inputMetrics.recordsRead
        }
        l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  private object Queries extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private val Phases = Set("analysis", "optimization", "planning")
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.collect { case (k, p) if Phases(k) => p.durationMs.toDouble }.sum
      val files = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      queries.add((planMs, files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (traced) {
    sc.addSparkListener(Jobs)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(Queries)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run one op of `kind`. A throwing op is recorded as failed and yields
    * None; during warm-up the exception propagates instead. */
  def op[T](kind: String)(body: => T): Option[T] = {
    if (!recording) return Some(body)
    val id = ops.size
    current = id
    if (traced) {
      BusDrain.drain(sc)
      queries.clear()
      sc.setLocalProperty(OpKey, id.toString)
    }
    val fs0 = CountingLocalFileSystem.snapshot()
    val gc0 = gcMs()
    val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    val spanId = nextSpan; nextSpan += 1
    stack = spanId :: stack
    val result = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val s1 = System.nanoTime(); val m1 = System.currentTimeMillis()
    stack = stack.tail
    spans += Span(spanId, s"op.$kind", id, -1, s0, s1)
    ops += OpRec(id, kind, s0, s1, m0, m1, result.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
    if (traced) {
      sc.setLocalProperty(OpKey, null)
      BusDrain.drain(sc)
      synchronized {
        val l = layer(id)
        l.gcMs = gcMs() - gc0
        val fs1 = CountingLocalFileSystem.snapshot()
        l.fs = fs1.zip(fs0).map { case (a, b) => a - b }
        queries.asScala.foreach { case (p, f) => l.planMs += p; l.filesRead += f }
        queries.clear()
      }
    }
    current = -1
    result.toOption
  }

  /** Time one call into a layer; recorded in traced runs only. */
  def span[T](name: String)(body: => T): T =
    if (!traced || !recording || current < 0) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, current, parent, s0, System.nanoTime())
        stack = stack.tail
      }
    }

  def markWrong(op: Int, why: String): Unit = if (recording && !wrong.contains(op)) wrong(op) = why

  def attempted: Int = ops.size
  def failures: Seq[(Int, String)] =
    (ops.flatMap(o => o.error.map(o.id -> _)) ++ wrong).groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)

  def okOps(kind: String): Seq[OpRec] = ops.filter(o => o.kind == kind && o.ok).toSeq
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Jobs started inside a span's wall interval (traced runs). */
  def jobsIn(s: Span): Int = synchronized {
    val op = ops(s.op)
    val lo = op.startMs + (s.startNs - op.startNs) / 1000000L
    val hi = op.startMs + (s.endNs - op.startNs) / 1000000L
    layers.get(s.op).map(_.jobIntervals.count { case (a, _) => a >= lo && a <= hi }).getOrElse(0)
  }

  /** Op wall minus the union of its jobs' intervals: the driver-only part. */
  def driverOnlyMs(o: OpRec): Double = synchronized {
    val jobs = layers.get(o.id).map(_.jobIntervals.toSeq).getOrElse(Nil)
    o.ms - Stats.unionLength(jobs, o.startMs, o.endMs)
  }
}
