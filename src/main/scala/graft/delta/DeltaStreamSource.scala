package graft.delta

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming SOURCE over a Delta table: the stream tails the
  * transaction log, delivering the current snapshot as the first
  * micro-batch and, from then on, exactly the rows added by each new
  * commit ([[DeltaSnapshotReader.changes]]) — the same contract Delta's
  * own streaming source provides, here on the V1 `Source` API where a
  * micro-batch IS a DataFrame.
  *
  * With `cdf=true` (`readChangeFeed` option) the stream is the CHANGE
  * FEED instead: every micro-batch is [[ChangeDataFeed.read]] of the new
  * commit range — row-level insert/delete/update_pre/postimage rows with
  * `_change_type`/`_commit_version`/`_commit_timestamp` — so DML
  * propagates downstream, which a plain adds-tail must refuse.
  *
  * `startingVersion` (both modes) starts the stream at a version instead
  * of the initial-snapshot batch — the standard backfill-from-history
  * entry point.
  *
  * DML tolerance (adds-tail mode; delta-spark's documented options): a
  * commit that deletes or rewrites rows refuses LOUDLY by default (the
  * adds-tail would silently miss the change). `ignoreDeletes` tolerates
  * delete-only commits (nothing was added — the tail stays exact);
  * `skipChangeCommits` skips any changing commit wholesale (appends-only
  * flow, changed data dropped — the option's contract). CDF mode needs
  * neither: DML flows as change rows.
  *
  * Offsets are log versions (monotonic, durable in the query checkpoint),
  * so restarts resume from the last committed version without re-reading
  * the snapshot. Combined with [[graft.stream.DeltaStreamSink]] this
  * closes the loop: Delta → stream transforms → Delta, exactly-once on
  * both ends.
  *
  * Scale notes: `getOffset` is one directory listing; each batch reads
  * only the files the commit range added/changed (no snapshot replay, no
  * full-table rescans as the table grows). `maxFilesPerTrigger` bounds a
  * micro-batch to roughly that many newly-added files (always at least
  * one full commit — offsets stay version-granular, so existing
  * checkpoints keep working): a stream catching up on a busy table
  * processes the backlog in bounded steps instead of one giant batch.
  * The initial-snapshot batch is not split (start from `startingVersion`
  * to backfill incrementally).
  */
final class DeltaStreamSource(sqlContext: SQLContext, tablePath: String,
                              cdf: Boolean = false,
                              startingVersion: Option[Long] = None,
                              maxFilesPerTrigger: Option[Long] = None,
                              nonAppendMode: String = "fail")
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession
  private val initialSnapshot = DeltaSnapshotReader.snapshot(spark, tablePath)

  /** Trigger.AvailableNow: the run drains up to the version seen at query
    * start, then stops — even if writers keep committing. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(DeltaSnapshotReader.latestVersion(spark, tablePath))

  /** End version of the last micro-batch handed out — the rate limiter's
    * resume point (micro-batches execute serially; best-effort: the batch
    * right after a checkpoint restart may exceed the bound once). */
  @volatile private var lastBatchEnd: Option[Long] = None

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = Option(start).map {
      case o: Offset => version(o)
      case other => version(SerializedOffset(other.json()))
    }
    LongOffset(nextEnd(from.orElse(lastBatchEnd)))
  }

  /** Next batch's end version: the live cap, or — under
    * `maxFilesPerTrigger` — whole versions from `from` until the add
    * budget is spent (always ≥ 1 commit). The initial-snapshot batch
    * (no `from`, no `startingVersion`) is never split. */
  private def nextEnd(fromOpt: Option[Long]): Long = {
    val live = DeltaSnapshotReader.latestVersion(spark, tablePath)
    val cap = availableNowCap.fold(live)(math.min(live, _))
    (maxFilesPerTrigger, fromOpt.orElse(startingVersion.map(_ - 1))) match {
      case (Some(mf), Some(from)) if from < cap =>
        var v = from
        var files = 0L
        while (v < cap && files < mf) { v += 1; files += addCountOf(v) }
        v
      case _ => cap
    }
  }

  /** Add-action count of one commit: a line scan of its JSON (one action
    * object per line) — metadata-cheap, no Spark job, bounded by the
    * commits actually inspected. Only `dataChange:true` adds count against
    * the budget: a maintenance commit (OPTIMIZE, row-tracking backfill)
    * re-adds the whole table with `dataChange:false` and delivers zero new
    * rows, so it must not eat a trigger's budget. Each action line holds
    * exactly ONE top-level member (the action envelope), so anchoring the
    * key at the line start cannot false-match an `add` key nested inside
    * `partitionValues`; the lookbehind on dataChange excludes escaped
    * occurrences inside stats strings. Counts are memoized — commit JSONs
    * are immutable, and `latestOffset` fires every trigger. */
  private val addLineRe = """^\s*\{\s*"add"\s*:""".r
  private val dataChangeTrueRe = """(?<!\\)"dataChange"\s*:\s*true""".r
  private val addCounts = scala.collection.concurrent.TrieMap.empty[Long, Long]

  private def addCountOf(v: Long): Long = addCounts.getOrElseUpdate(v, {
    val p = LogListing.commitFile(tablePath, v)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .count(l => addLineRe.findFirstIn(l).isDefined &&
        dataChangeTrueRe.findFirstIn(l).isDefined)
    finally in.close()
  })

  override def schema: StructType =
    if (!cdf) initialSnapshot.schema
    else StructType(initialSnapshot.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ChangeDataFeed.ChangeTypeCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(ChangeDataFeed.VersionCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(ChangeDataFeed.TimestampCol,
        org.apache.spark.sql.types.TimestampType)))

  override def getOffset: Option[Offset] = Some(LongOffset(nextEnd(lastBatchEnd)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = version(end)
    lastBatchEnd = Some(endV)
    val batch = (start, startingVersion) match {
      case (None, Some(sv)) if cdf =>
        ChangeDataFeed.read(spark, tablePath, sv, Some(endV))
      case (None, Some(sv)) =>
        // adds-tail backfill: rows added in [sv, endV]
        DeltaSnapshotReader.changes(spark, tablePath, sv - 1, Some(endV), nonAppendMode)
      case (None, None) if cdf =>
        // first batch: the snapshot's rows AS INSERT changes at endV
        // (delta-spark's CDF-stream bootstrap semantics)
        import org.apache.spark.sql.functions._
        DeltaFileIndex.relation(spark,
          DeltaSnapshotReader.snapshotAt(spark, tablePath, Some(endV)))
          .withColumn(ChangeDataFeed.ChangeTypeCol, lit("insert"))
          .withColumn(ChangeDataFeed.VersionCol, lit(endV))
          .withColumn(ChangeDataFeed.TimestampCol, timestamp_millis(
            lit(DeltaSnapshotReader.commitTimestamp(spark, tablePath, endV))))
      case (None, None) =>
        // first batch: the whole snapshot as of the end version
        DeltaFileIndex.relation(spark,
          DeltaSnapshotReader.snapshotAt(spark, tablePath, Some(endV)))
      case (Some(s), _) if cdf =>
        if (version(s) >= endV) // restart replay of an empty range
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else ChangeDataFeed.read(spark, tablePath, version(s) + 1, Some(endV))
      case (Some(s), _) =>
        DeltaSnapshotReader.changes(spark, tablePath, version(s), Some(endV), nonAppendMode)
    }
    org.apache.spark.sql.graft.StreamingDataFrame.asStreaming(batch)
  }

  private def version(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => throw new IllegalStateException(s"unexpected offset $other")
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"DeltaStreamSource[$tablePath]"
}
