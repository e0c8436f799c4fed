package graftbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM against `local[cores]` with a single
  * closed-loop client, prints a human-readable report, and writes the
  * result object (every metric it computed) to `--result`.
  *
  *   graftbench.Main --workload lake_read --seed 1 --seconds 20 --trace 0 \
  *     --cores 4 --work <dir> --result <file>
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Op kinds that per-kind layer metrics are keyed by (DML kinds fold into `dml`). */
  val LayerKinds: Seq[String] = Seq("scan", "pruned", "join", "append", "fresh_read", "dml", "shard")
  private def layerKind(kind: String) = if (LakeCommits.DmlKinds.contains(kind)) "dml" else kind

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = new File(arg("work")).getAbsoluteFile
    Workload.deleteRecursively(work)
    work.mkdirs()

    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (traced) {
        val fsClass = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
          spark.sessionState.newHadoopConf()).getClass
        require(fsClass == classOf[CountingLocalFileSystem], s"file: resolves to $fsClass, not the counting FS")
      }
      val result = run(spark, workload, seed, seconds, traced, cores, work)
      val out = new PrintWriter(arg("result"), "UTF-8")
      try out.println(result) finally out.close()
    } finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  traced: Boolean, cores: Int, work: File): String = {
    val rec = new Recorder(spark, traced)
    val ctx = new Ctx(spark, rec, seed, seconds)
    val wl = Workload(workload, ctx)

    rec.recording = false
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      wl.setup(new File(work, s"data$i").getPath)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    rec.recording = true

    ctx.pausedNs = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline + ctx.pausedNs) wl.step()
    val loopS = (System.nanoTime() - t0 - ctx.pausedNs) / 1e9
    val loopOps = rec.ops.size
    if (traced) wl.tracedPhase()
    wl.verify()

    val failures = rec.failures
    val (opP50, perS, amp) = wl.headline(loopS)
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_ms_p50", opP50, "ms"),
      Metric("items_per_s", perS, "1/s"),
      Metric("write_amp", amp, "ratio"))
    val named = Seq(
      Metric("failed_ratio", failures.size.toDouble / math.max(1, rec.attempted), "ratio"),
      Metric("cached_mb", cachedMb, "MB")) ++ wl.metrics(loopS).filterNot(m => endToEnd.exists(_.name == m.name))
    val layers = if (traced) layerMetrics(rec, loopOps) ++ wl.layerExtras() else Nil

    println(s"graftbench $workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"master=local[$cores] clients=1 (closed loop) ops=${rec.attempted} loop_s=${fmt(loopS)}")
    println(s"  set-ups: ${setups.map(fmt).mkString(", ")} s; warm-up ${fmt(warmS)} s; inputs made in the loop ${fmt(ctx.pausedNs / 1e9)} s")
    (endToEnd ++ named).foreach(m => println(f"  ${m.name}%-28s ${fmt(m.value)}%14s ${m.unit}"))
    rec.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val ms = os.filter(_.ok).map(_.ms).toSeq.sorted
      println(s"  op $k: n=${ms.size} min=${fmt(ms.headOption.getOrElse(Double.NaN))} " +
        s"p50=${fmt(Stats.median(ms))} max=${fmt(ms.lastOption.getOrElse(Double.NaN))} ms")
    }
    if (traced) {
      println("  per layer:")
      layers.foreach(m => println(f"    ${m.name}%-34s ${fmt(m.value)}%14s ${m.unit}"))
      println("  self time by span (ms total / calls):")
      val self = Stats.selfTimes(rec.spans.toSeq)
      rec.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        println(f"    $n%-22s self ${fmt(ss.map(s => self(s.id)).sum / 1e6)}%12s  wall ${fmt(ss.map(_.ms).sum)}%12s  n=${ss.size}")
      }
      writeSpans(new File(work, s"spans-$workload-$seed.jsonl"), rec, self)
    }
    failures.take(10).foreach { case (op, why) => println(s"  FAILED op $op: $why") }

    val all = endToEnd ++ named ++ layers
    val metrics = all.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": ${failures.isEmpty}, "attempted": ${rec.attempted}, "failed": ${failures.size}, "metrics": {$metrics}}"""
  }

  /** Layer metrics every workload reports, from the listeners and the
    * counting FS: means over the loop's first `loopOps` ops, and per op kind. */
  private def layerMetrics(rec: Recorder, loopOps: Int): Seq[Metric] = {
    val ok = rec.ops.filter(_.ok).toSeq
    val ls = ok.filter(_.id < loopOps).map(o => rec.layers.getOrElse(o.id, new OpLayers))
    def mean(f: OpLayers => Double) = if (ls.isEmpty) 0.0 else ls.map(f).sum / ls.size
    val perOp = Seq(
      Metric("plan.ms", mean(_.planMs), "ms"),
      Metric("scan.files_read", mean(_.filesRead.toDouble), "count"),
      Metric("scan.bytes_read", mean(_.bytesRead.toDouble), "bytes"),
      Metric("scan.rows_read", mean(_.rowsRead.toDouble), "count"),
      Metric("scan.task_ms", mean(_.scanTaskMs.toDouble), "ms"),
      Metric("shuffle.write_bytes", mean(_.shuffleWrite.toDouble), "bytes"),
      Metric("shuffle.read_bytes", mean(_.shuffleRead.toDouble), "bytes"),
      Metric("shuffle.fetch_wait_ms", mean(_.fetchWaitMs.toDouble), "ms"),
      Metric("jvm.gc_ms", mean(_.gcMs.toDouble), "ms"))
    // only the kinds this workload ran; the launcher reports the others as 0
    val byKind = ok.groupBy(o => layerKind(o.kind)).toSeq.sortBy(kv => LayerKinds.indexOf(kv._1)).flatMap { case (k, ops) =>
      val kl = ops.map(o => rec.layers.getOrElse(o.id, new OpLayers))
      def m(f: OpLayers => Double) = kl.map(f).sum / kl.size
      Seq(
        Metric(s"sched.jobs.$k", m(_.jobs.toDouble), "count"),
        Metric(s"sched.stages.$k", m(_.stages.toDouble), "count"),
        Metric(s"sched.tasks.$k", m(_.tasks.toDouble), "count"),
        Metric(s"sched.driver_only_ms.$k", Stats.median(ops.map(rec.driverOnlyMs)), "ms")) ++
        CountingLocalFileSystem.Names.zipWithIndex.map { case (n, i) =>
          Metric(s"fs.${n}_calls.$k", m(_.fs(i).toDouble), "count")
        }
    }
    perOp ++ byKind
  }

  private def writeSpans(f: File, rec: Recorder, self: Map[Int, Long]): Unit = {
    val out = new PrintWriter(f, "UTF-8")
    try rec.spans.foreach { s =>
      out.println(s"""{"id": ${s.id}, "name": "${s.name}", "op": ${s.op}, "parent": ${s.parent}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ns": ${self(s.id)}}""")
    } finally out.close()
  }

  private def fmt(x: Double): String = if (x.isNaN) "n/a" else f"$x%.4f"
  private def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
}
