package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** From-scratch Delta transaction-log snapshot reader (SURVEY.md §7 Step 1).
  *
  * Replays `_delta_log/` — parquet checkpoint (if any) + subsequent JSON
  * commits — into a [[DeltaSnapshot]]: latest metadata (schema from
  * `schemaString` via `DataType.fromJson`, exactly what the reference gets
  * from `snapshot.getMetadata.getSchema`, DeltaMetadataHandler.scala:99-107)
  * plus the active file set (`snapshot.getAllFiles`, :119,151).
  *
  * One replay, two placements ([[LogReplay]]): one decoder (Spark's JSON
  * parser), one per-key reducer and one snapshot assembly, run either on
  * the driver or distributed. `spark.graft.delta.localReplayMaxBytes`
  * (default 4 MiB) is the only fork: a checkpoint-less segment of at most
  * that many bytes is decoded and reduced on the driver; every other
  * segment — every table with a checkpoint, and a multi-million-action log
  * — is read with `spark.read` and reduced per key group on executors.
  * The placement decides where rows are decoded and reduced, never what
  * they mean.
  *
  * Every read lists `_delta_log` once ([[LogListing]]). Snapshots are
  * cached per (table, version) — the reference re-reads the log three
  * times per query (DeltaMetadataHandler.scala:99,117,150), which
  * SURVEY.md §3.2 flags as a design flaw to avoid — and the cache decides
  * their freshness itself: an entry is served only while that listing
  * shows the file it was built from ([[snapshotAt]]). It holds at most
  * [[CacheCapacity]] snapshots, least recently used out first. No writer
  * has to tell it that a table changed. A version after a cached one is
  * advanced from it rather than replayed ([[advanced]]): the new commits
  * are decoded on the driver and folded into the cached snapshot's
  * winners by the same reducer and assembly, so a read after a write —
  * another writer's, a conflict retry's, a checkpoint's — resolves with
  * no Spark job. The session's own commit is folded in once, from the
  * lines it committed, and cached ([[committed]]): the read after it is a
  * hit.
  *
  * Job budget of a cold snapshot. On the driver placement: zero jobs, and
  * the file set is born collected, so its files, validation and listing
  * cost none either (SnapshotJobBudgetSpec). On the distributed placement
  * the checkpoint's schema comes from its footer, read on the driver (no
  * inference job), and protocol + metaData come from ONE collect — 1 job
  * to resolve the snapshot (V2 checkpoints add 1 for their sidecar
  * paths). The rest costs 2 more at the first touch of the file set, or
  * of its tombstones, txns or domains (a key shuffle and the pass that
  * builds them), where `spark.graft.delta.driverFileListThreshold`
  * applies ([[DeltaFileSet]]): when the version's crc records at most
  * that many files, that one pass collects the file set, tombstones,
  * txns and domains together, and crc validation, the DV probe and
  * listing run on the driver, so a cold snapshot + load + filtered count
  * costs 5 jobs in all, and the snapshot can be advanced. A set the crc
  * records as larger, or a version without a crc, is persisted on
  * executors instead, after one pass over the log; tombstones (2 jobs)
  * and txns + domains (2) are then lazy passes of their own. Each pass
  * reads only the action columns it needs. An advanced snapshot costs no
  * job: a fresh read after an append costs only its query's.
  */
object DeltaSnapshotReader {
  import DeltaActions._

  /** The most snapshots the cache holds. Eviction, least recently used
    * first, releases the evicted file set ([[DeltaFileSet.unpersist]]); a
    * query planned over it still reads, building the set again. 64 is well
    * above the snapshots one operation resolves and then reuses (a
    * writer's start and retry snapshots, a change feed's prior snapshot
    * per removing version, read back when the feed runs), so those reuses
    * stay hits and no job count the budget specs lock moves; and a session
    * pins at most 64 file sets instead of one per (table, version) it ever
    * read. */
  private[delta] val CacheCapacity = 64

  /** A cached snapshot, with its winners ([[LogReplay.Replayed]]), and the
    * file it was built from: its name, length and modification time
    * ([[LogListing.fileAt]]). */
  private final case class Cached(stamp: Option[(String, Long, Long)], replayed: LogReplay.Replayed)
  /** Per (table, version), in access order; guarded by itself, and never
    * held during a replay. */
  private val cache = new java.util.LinkedHashMap[(String, Long), Cached](16, 0.75f, true)

  private val logger = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** Latest snapshot of the table at `tablePath`. */
  def snapshot(spark: SparkSession, tablePath: String): DeltaSnapshot =
    snapshotAt(spark, tablePath, None)

  /** Snapshot at a specific version (time travel), or latest when None. */
  def snapshotAt(spark: SparkSession, tablePath: String, versionAsOf: Option[Long]): DeltaSnapshot =
    snapshotAt(spark, LogListing.ofTable(spark, tablePath), versionAsOf)

  private def stampAt(log: LogListing, v: Long): Option[(String, Long, Long)] =
    log.fileAt(v).map(st => (st.getPath.getName, st.getLen, st.getModificationTime))

  /** Snapshot of `log`'s table at `versionAsOf`, latest when None.
    *
    * Freshness is decided here, from the listing the caller already made:
    * a cached snapshot of (table, v) is served only while the listing
    * shows the same file it was built from (delta-spark reuses a snapshot
    * while its log segment's file statuses are unchanged). A table deleted
    * and recreated at its path, or a log cleaned up past v, shows another
    * file or none, and the snapshot is resolved again and replaces the
    * entry. A checkpoint or compaction written later leaves `v.json` as it
    * was, so the entry still serves. The check costs no file-system call.
    *
    * A version not cached is advanced from an earlier cached one when it
    * can be ([[advanced]]), else replayed ([[replay]]). Each resolution
    * logs one DEBUG line saying which: `hit`, `advanced from u (k
    * commits)`, `cold driver` or `cold distributed`. */
  private[delta] def snapshotAt(spark: SparkSession, log: LogListing, versionAsOf: Option[Long]): DeltaSnapshot = {
    val latest = log.latest
    val target = versionAsOf.getOrElse(latest)
    require(target <= latest, s"version $target > latest $latest for ${log.tablePath}")
    val key = (log.tablePath, target)
    val stamp = stampAt(log, target)
    cache.synchronized(Option(cache.get(key)).filter(_.stamp == stamp)) match {
      case Some(hit) => resolved(log.tablePath, target, "hit"); hit.replayed.snap
      case None =>
        // the target's crc, read once at the file set's first touch: its
        // numFiles places a replayed set (DeltaFileSet), then validation
        // checks the set against it
        lazy val crc = Checksum.read(log.fs, log.logPath, target)
        val r = advanced(spark, log, target).getOrElse(replay(spark, log, target, () => crc))
        // Per-version state-checksum validation ([[Checksum]]): armed LAZY —
        // it runs at the first access to the file set's rows (ADVICE r13:
        // eager validation inside the cache fill charged one distributed
        // aggregate per cold load to metadata-plane callers that never
        // touch the file set). Data is still never served unvalidated:
        // every data-plane path goes through fileSet.df, and a mismatch
        // POISONS the set — the refusal rethrows on every later access
        // instead of being cached away. (On a collected file set — every
        // advanced or locally-replayed one, and every replayed one at or
        // under driverFileListThreshold from its first touch — the
        // validation aggregates are driver-local folds: same contract,
        // zero jobs.)
        r.snap.fileSet.armValidator(() => Checksum.validate(log.logPath, r.snap, crc))
        put(key, Cached(stamp, r))
        r.snap
    }
  }

  /** Cache `entry` under `key`, evicting past [[CacheCapacity]]. */
  private def put(key: (String, Long), entry: Cached): Unit = release(cache.synchronized {
    val replaced = Option(cache.put(key, entry))
    val lru = cache.values.iterator
    replaced ++ Seq.fill(cache.size - CacheCapacity max 0) { val c = lru.next(); lru.remove(); c }
  })

  /** The DEBUG line of one resolution, logged as its path is taken. */
  private def resolved(tablePath: String, target: Long, how: String): Unit =
    logger.debug(s"snapshot $tablePath v$target: $how")

  /** Release the file sets of entries taken out of the cache, outside its
    * lock (a file set's lock may be held by a thread building it). */
  private def release(gone: Iterable[Cached]): Unit = gone.foreach(_.replayed.snap.fileSet.unpersist())

  /** Snapshot `target` advanced from the newest cached snapshot u <
    * `target` of the same table, when
    *  - the listing still shows the file u was built from;
    *  - the driver holds all of u's winners (a collected file set, plus
    *    resolved tombstones, txns and domains), and its file set is within
    *    `spark.graft.delta.driverFileListThreshold`, the largest planned
    *    from a driver list;
    *  - every commit in (u, target] is listed as a plain commit file;
    *  - those commits total at most `spark.graft.delta.localReplayMaxBytes`.
    * The commits are decoded on the driver and folded into u's winners by
    * the replay's own reducer and assembly ([[LogReplay.replayOnDriver]]):
    * zero Spark jobs, and the result is what a cold replay gives, with
    * two exceptions. An add keeps the `addedVersion` u held for it, where
    * a cold replay from a checkpoint or compacted range newer than the add
    * raises it to that file's version, so the advanced one is never higher
    * ([[AddFile.addedVersion]]). And a tombstone u held stays, where a
    * newer checkpoint may have dropped it past its retention. None when
    * any condition fails: the caller replays cold. */
  private def advanced(spark: SparkSession, log: LogListing, target: Long): Option[LogReplay.Replayed] = {
    val base = cache.synchronized(cache.asScala.toSeq.collect {
      case ((t, u), c) if t == log.tablePath && u < target => (u, c)
    }.maxByOption(_._1))
    for {
      (u, cached) <- base
      if cached.stamp == stampAt(log, u)
      winners <- cached.replayed.winners()
      if winners.count(LogReplay.isAdd) <= DeltaFileSet.driverListThreshold(spark)
      commits = log.commits.range(u + 1, target + 1).toSeq
      if commits.length == target - u && commits.map(_._2.getLen).sum <= LogReplay.localMaxBytes(spark)
    } yield {
      resolved(log.tablePath, target, s"advanced from $u (${commits.length} commits)")
      val tail = LogReplay.decode(spark, actionSchema, commits.map { case (v, st) => v -> st.getPath })
      LogReplay.replayOnDriver(log.tablePath, target, winners.iterator ++ tail.iterator)
    }
  }

  /** The snapshot a writer's commit leaves: `pre`, the snapshot it was
    * made on (None for a table's first commit: no winners), advanced by
    * the `lines` committed as `version`, decoded in memory and folded into
    * pre's winners as [[advanced]] folds. Cached, stamped by one
    * `getFileStatus` of the commit file, so the read after the write is a
    * hit. None unless pre is the cached snapshot of its version, the
    * driver holds its winners, they and the lines number at most
    * `spark.graft.delta.driverFileListThreshold`, and pre passes
    * validation against its own crc (a driver fold on a held set). */
  private[delta] def committed(spark: SparkSession, tablePath: String, pre: Option[DeltaSnapshot],
                               version: Long, lines: Seq[String]): Option[DeltaSnapshot] = {
    val base = pre match {
      case None => Some(Nil)
      case Some(p) => cache.synchronized(Option(cache.get((p.tablePath, p.version))))
        .filter(_.replayed.snap eq p).flatMap(_.replayed.winners())
    }
    for {
      winners <- base
      if winners.count(LogReplay.isAdd) + lines.size <= DeltaFileSet.driverListThreshold(spark)
      if pre.forall(p => scala.util.Try(p.fileSet.count).isSuccess)
    } yield {
      val table = pre.fold(tablePath)(_.tablePath)
      val r = LogReplay.replayOnDriver(table, version,
        winners.iterator ++ LogReplay.decodeLines(spark, actionSchema, version, lines).iterator)
      val commit = LogListing.commitFile(table, version)
      scala.util.Try(commit.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(commit))
        .foreach { st =>
          resolved(table, version, "advanced by its commit")
          put((table, version), Cached(Some((st.getPath.getName, st.getLen, st.getModificationTime)), r))
        }
      r.snap
    }
  }

  /** Replay `log`'s table at version `target`; `crc` is the target's crc
    * text, whose `numFiles` places a distributed file set. */
  private def replay(spark: SparkSession, log: LogListing, target: Long,
                     crc: () => Option[String]): LogReplay.Replayed = {
    // newest checkpoint at or below the target version, if any
    val cpVersion = log.checkpoints.keys.filter(_ <= target).maxOption
    // Optimized log replay: substitute compacted range files for the
    // individual commit JSONs they cover. Greedy left-to-right chaining —
    // at each uncovered version take the longest compacted range starting
    // exactly there (ranges never overlap or gap by construction of the
    // walk), fall back to the plain commit otherwise. All actions of a
    // compacted file replay at its END version: the file is already
    // reconciled per path, so later commits still win per-path ties.
    val lo = cpVersion.getOrElse(-1L) + 1
    val compactedByStart = log.compacted
      .filter { case (a, b, _) => a >= lo && b <= target }.groupBy(_._1)
    val chosenCompactions = Seq.newBuilder[(Long, FileStatus)]
    var covered = Set.empty[Long]
    var walk = lo
    while (walk <= target) {
      compactedByStart.get(walk).map(_.maxBy(_._2)) match {
        case Some((s0, e0, st)) =>
          chosenCompactions += e0 -> st; covered ++= (s0 to e0); walk = e0 + 1
        case None => walk += 1
      }
    }
    val tail = log.commits.range(lo, target + 1).filter { case (v, _) => !covered(v) }

    // The byte gate (`spark.graft.delta.localReplayMaxBytes`) is the one
    // fork of the replay ([[LogReplay]]): a checkpoint-less segment of at
    // most that many bytes is decoded and reduced on the driver — zero
    // Spark jobs, and a born-collected file set, so listing, validation
    // and pruning stay on the driver too. Any other segment (every table
    // with a checkpoint; DeltaScaleSpec's 50k-file logs) replays
    // distributed.
    val segment: Seq[(Long, FileStatus)] = (chosenCompactions.result() ++ tail).sortBy(_._1)
    val sources = segment.map { case (v, st) => v -> st.getPath }
    val (tablePath, logPath) = (log.tablePath, log.logPath)
    if (cpVersion.isEmpty && sources.nonEmpty && segment.map(_._2.getLen).sum <= LogReplay.localMaxBytes(spark)) {
      resolved(log.tablePath, target, "cold driver")
      LogReplay.replayOnDriver(tablePath, target, LogReplay.decode(spark, actionSchema, sources).iterator)
    } else {
      resolved(log.tablePath, target, "cold distributed")
      val cpDf = cpVersion.map { v =>
        val (v2Files, classicFiles) = log.checkpoints(v).partition(_._2)
        val actions =
          if (classicFiles.nonEmpty) {
            val parts = classicFiles.map(_._1).sortBy(_.getPath.getName)
            normalizeActions(readCheckpointParquet(spark, parts.map(_.getPath), parts.head))
          } else
            // several writers may leave several uuid checkpoints for the
            // same version; each is complete — pick one deterministically
            readV2Checkpoint(spark, logPath, v2Files.map(_._1).maxBy(_.getPath.toString))
        actions.withColumn("version", lit(v))
      }
      val tailDf = if (sources.isEmpty) None
        else Some(LogReplay.actions(spark, actionSchema, sources))
      LogReplay.replayDistributed(spark, tablePath, target,
        (cpDf.toSeq ++ tailDf).reduce(_ unionByName _),
        DeltaFileSet.driverListThreshold(spark), () => crc().flatMap(Checksum.recordedNumFiles))
    }
  }

  /** Evict cached snapshots of a table, releasing their file sets: the
    * next read replays the log cold. Freshness needs no call to this
    * ([[snapshotAt]] checks each entry against the listing). */
  def invalidate(tablePath: String): Unit = release(cache.synchronized {
    val gone = cache.asScala.filter(_._1._1 == tablePath).toSeq
    gone.foreach(e => cache.remove(e._1))
    gone.map(_._2)
  })

  /** `commitInfo.inCommitTimestamp` of a commit line. */
  private val ictSchema = StructType(Seq(StructField("commitInfo",
    StructType(Seq(StructField("inCommitTimestamp", LongType))))))

  /** The in-commit timestamps recorded in `commits`, by version: decoded
    * on the driver ([[LogReplay.decodeRows]]) when the commits total at
    * most `spark.graft.delta.localReplayMaxBytes`, else read on executors
    * (one row per commit reaches the driver). */
  private def inCommitTimestamps(spark: SparkSession, commits: Seq[(Long, FileStatus)]): Map[Long, Long] = {
    val sources = commits.map { case (v, st) => v -> st.getPath }
    val stamped =
      if (commits.map(_._2.getLen).sum <= LogReplay.localMaxBytes(spark)) LogReplay.decodeRows(spark, ictSchema, sources)
      else LogReplay.actions(spark, ictSchema, sources).where(col("commitInfo.inCommitTimestamp").isNotNull).collect().toSeq
    stamped.filter(r => !r.isNullAt(0) && !r.getStruct(0).isNullAt(0))
      .groupMapReduce(_.getLong(1))(_.getStruct(0).getLong(0))(math.max)
  }

  /** Time travel by TIMESTAMP (Delta's second time-travel axis): the
    * latest version whose commit file's modification time is ≤ `tsMillis`
    * — exactly delta-spark's resolution rule, so the two engines pick the
    * same version for the same timestamp. Errors if the timestamp predates
    * the table's first commit. */
  def versionAtTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): Long = {
    val log = LogListing.ofTable(spark, tablePath)
    val listed = log.commits.toSeq
    require(listed.nonEmpty, s"no commit JSONs in $tablePath (log truncated?)")
    // In-commit timestamps (delta.enableInCommitTimestamps): the
    // authoritative commit time is commitInfo.inCommitTimestamp — monotone
    // and clock-skew-safe, unlike file mtimes, which a log copy rewrites.
    // Commits that predate enablement keep their mtime (the spec's rule).
    val ictEnabled =
      try snapshotAt(spark, log, None).configuration
        .get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))
      catch { case _: Exception => false }
    val icts = if (ictEnabled) inCommitTimestamps(spark, listed) else Map.empty[Long, Long]
    val commits = listed.map { case (v, st) => (v, icts.getOrElse(v, st.getModificationTime)) }
    val eligible = commits.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestamp $tsMillis predates the first commit of $tablePath " +
        s"(earliest ${commits.head._2})")
    eligible.map(_._1).max
  }

  /** [[versionAtTimestamp]] of a timestamp string in the session time
    * zone (`what` names the argument in a parse error); with
    * `firstAtOrAfter`, the first version committed at or after it instead
    * — version 0 when it predates the whole log, where a change feed
    * starting there starts. */
  def versionAtTimestamp(spark: SparkSession, tablePath: String, ts: String, what: String,
                         firstAtOrAfter: Boolean): Long = {
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val millis = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .stringToTimestamp(org.apache.spark.unsafe.types.UTF8String.fromString(ts), zone)
      .getOrElse(throw new IllegalArgumentException(s"$what: cannot parse timestamp '$ts'")) / 1000L
    if (!firstAtOrAfter) versionAtTimestamp(spark, tablePath, millis)
    // the last version at or before (ts - 1 ms), plus one
    else try versionAtTimestamp(spark, tablePath, millis - 1L) + 1L
    catch { case _: IllegalArgumentException => 0L }
  }

  /** Commit time of one version (millis): the in-commit timestamp when the
    * writer recorded one, else the commit file's mtime — the same
    * resolution rule history/time-travel use. A commit within the replay
    * byte gate is decoded on the driver, with no Spark job. */
  def commitTimestamp(spark: SparkSession, tablePath: String, version: Long): Long = {
    val f = LogListing.commitFile(tablePath, version)
    val st = try f.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(f) catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"no commit JSON for version $version of $tablePath")
    }
    inCommitTimestamps(spark, Seq(version -> st)).getOrElse(version, st.getModificationTime)
  }

  /** Snapshot as of a wall-clock timestamp (millis since epoch). */
  def snapshotAtTime(spark: SparkSession, tablePath: String, tsMillis: Long): DeltaSnapshot =
    snapshotAt(spark, tablePath, Some(versionAtTimestamp(spark, tablePath, tsMillis)))

  /** DataFrame as of a wall-clock timestamp. */
  def loadAtTime(spark: SparkSession, tablePath: String, tsMillis: Long): DataFrame =
    DeltaFileIndex.relation(spark, snapshotAtTime(spark, tablePath, tsMillis))

  /** DESCRIBE HISTORY: one row per commit — (version, timestamp, operation,
    * operationParameters, engineInfo) from each commit's `commitInfo`
    * action (nulls for writers that record none). Distributed read of the
    * commit JSONs; newest first, Delta's own display order. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val commits = LogListing.ofTable(spark, tablePath).commits.toSeq.map { case (v, st) => v -> st.getPath }
    require(commits.nonEmpty, s"no commit JSONs in $tablePath (log truncated?)")
    val ciSchema = StructType(Seq(StructField("commitInfo", StructType(Seq(
      StructField("timestamp", LongType),
      StructField("inCommitTimestamp", LongType),
      StructField("operation", StringType),
      StructField("operationParameters", MapType(StringType, StringType)),
      StructField("engineInfo", StringType))))))
    LogReplay.actions(spark, ciSchema, commits)
      // one row per VERSION even when a (foreign) commit wrote no
      // commitInfo: keep the single non-null struct per commit, else null
      .groupBy(col("version"))
      .agg(first(col("commitInfo"), ignoreNulls = true).as("ci"))
      // the in-commit timestamp, when recorded, is the authoritative one
      .select(col("version"),
        coalesce(col("ci.inCommitTimestamp"), col("ci.timestamp")).as("timestamp"),
        col("ci.operation").as("operation"),
        col("ci.operationParameters").as("operationParameters"),
        col("ci.engineInfo").as("engineInfo"))
      .orderBy(col("version").desc)
  }

  /** Latest log version — one directory listing, no replay (the streaming
    * source polls this per micro-batch). */
  def latestVersion(spark: SparkSession, tablePath: String): Long =
    LogListing.ofTable(spark, tablePath).latest

  /** Read one V2 checkpoint main file (json or parquet) and expand its
    * sidecars: the main file holds the non-file actions (protocol,
    * metaData, txn, …) plus either inline add/remove actions (the
    * sidecar-less single-file form) or `sidecar` pointers to parquet files
    * under `_delta_log/_sidecars/` that hold the file actions. The driver
    * collects only the sidecar PATHS (bounded by the sidecar count, not the
    * file count; one job); the sidecar contents replay distributed like any
    * checkpoint. */
  private def readV2Checkpoint(spark: SparkSession, logPath: Path, main: FileStatus): DataFrame = {
    val mainFile = main.getPath.toString
    val raw =
      if (mainFile.endsWith(".json"))
        spark.read.schema(v2CheckpointFileSchema).json(mainFile)
      else readCheckpointParquet(spark, Seq(main.getPath), main)
    val sidecarPaths: Seq[Path] =
      if (!raw.schema.fieldNames.contains("sidecar")) Nil
      else raw.where(col("sidecar.path").isNotNull)
        .select(col("sidecar.path")).collect().map(_.getString(0)).toSeq.sorted
        .map { p =>
          // spec: sidecar paths are relative to _delta_log/_sidecars/
          // (URL-encoded) or absolute URIs
          if (p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*") || p.startsWith("/")) new Path(p)
          else new Path(new Path(logPath, "_sidecars"), DeltaActions.decodePath(p))
        }
    val mainActions = normalizeActions(raw) // sidecar/checkpointMetadata rows → all-null action rows (inert in replay)
    if (sidecarPaths.isEmpty) mainActions
    else {
      val first = sidecarPaths.head
      val firstStatus = first.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(first)
      mainActions.unionByName(normalizeActions(readCheckpointParquet(spark, sidecarPaths, firstStatus)))
    }
  }

  /** Read checkpoint parquet `files` with the schema of one of them
    * (`schemaFrom`), taken from its footer on the driver. Without an
    * explicit schema Spark infers one by reading that same footer in a
    * Spark job — one job per cold snapshot. Like Spark's inference
    * (`mergeSchema` off), one footer is consulted: every part of one
    * checkpoint shares a schema. */
  private def readCheckpointParquet(spark: SparkSession, files: Seq[Path],
                                    schemaFrom: FileStatus): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val meta = DataFiles.readFooter(schemaFrom, spark.sessionState.newHadoopConf()).getFileMetaData
    // Spark-written files carry their exact Spark schema in the footer;
    // inference prefers it over the parquet types, and so do we
    val schema = Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    spark.read.schema(schema).parquet(files.map(_.toString): _*)
  }

  /** Project a foreign-writer checkpoint (which may carry extra fields like
    * `txn`, `stats_parsed`, …) onto our action schema, nulling absences. */
  private def normalizeActions(df: DataFrame): DataFrame = {
    def sub(top: String, shape: StructType): Column = {
      df.schema.find(_.name == top) match {
        case Some(StructField(_, present: StructType, _, _)) =>
          struct(shape.map { f =>
            if (present.fieldNames.contains(f.name)) col(s"$top.${f.name}").cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*).as(top)
        case _ => lit(null).cast(shape).as(top)
      }
    }
    // a row with all-null `add` must stay "no add action": rebuild struct as
    // null when the original top-level field was null
    def guarded(top: String, shape: StructType): Column =
      if (df.schema.fieldNames.contains(top))
        when(col(top).isNotNull, sub(top, shape)).otherwise(lit(null).cast(shape)).as(top)
      else lit(null).cast(shape).as(top)
    df.select(
      guarded("add", addType),
      guarded("remove", removeType),
      guarded("metaData", metaDataType),
      guarded("protocol", protocolType),
      guarded("txn", txnType),
      guarded("domainMetadata", domainMetadataType))
  }

  // ---------------------------------------------------------------------
  // DataFrame materialization
  // ---------------------------------------------------------------------

  /** The snapshot as a DataFrame through Spark's native scan stack
    * ([[DeltaFileIndex]] inside a HadoopFsRelation): partition values are
    * injected from the log by the scan (reference A10), partition filters
    * prune at the log level via `PruneFileSourcePartitions` (A6), data
    * filters push to parquet row groups, and the read is vectorized.
    * `load` resolves the snapshot, which lists `_delta_log`; a caller that
    * already holds a snapshot reads it with
    * `DeltaFileIndex.relation(spark, snap)`, which lists nothing more. */
  def load(spark: SparkSession, tablePath: String, versionAsOf: Option[Long] = None): DataFrame =
    DeltaFileIndex.relation(spark, snapshotAt(spark, tablePath, versionAsOf))

  /** Partition-pruned read. With the native FileIndex this is just a
    * filter — Catalyst routes partition predicates into
    * [[DeltaFileIndex.listFiles]], so pruned partitions never open a data
    * file (verified in DeltaSpec/PlanSpec via [[prunedFiles]]). */
  def loadWhere(spark: SparkSession, tablePath: String, predicate: Column): DataFrame =
    load(spark, tablePath).filter(predicate)

  /** Incremental read: rows ADDED to the table in versions
    * `(fromVersion, toVersion]` — the file-granular change feed a streaming
    * consumer tails (Delta's own streaming source works the same way: new
    * `add` actions with `dataChange=true` become the next micro-batch;
    * layout-only rewrites like OPTIMIZE/ZORDER are invisible because their
    * adds carry `dataChange=false`). Schema/partition handling comes from
    * the end-of-range snapshot, so evolved columns read as null for files
    * written before the evolution. */
  def changes(spark: SparkSession, tablePath: String, fromVersion: Long,
              toVersion: Option[Long] = None,
              nonAppendMode: String = "fail"): DataFrame = {
    val log = LogListing.ofTable(spark, tablePath)
    val endSnap = snapshotAt(spark, log, toVersion)
    val end = endSnap.version
    require(fromVersion <= end, s"fromVersion $fromVersion > end version $end")
    val commits = log.commitsIn(fromVersion, end)
    // append-only guard (same default as Delta's streaming source): a
    // dataChange remove in the range means rows were deleted/rewritten and
    // "rows added" would double-count — by default the consumer must
    // restart from a full snapshot. delta-spark's documented opt-outs
    // (`nonAppendMode`, wired from the stream source's options):
    //   - "ignoreDeletes": commits that ONLY delete data (dataChange
    //     removes, no dataChange adds, no DV adds) are dropped from the
    //     range — nothing was added, so the adds-tail stays exact;
    //     rewrites (UPDATE/MERGE/DV masks) still refuse.
    //   - "skipChangeCommits": any commit carrying a dataChange remove or
    //     a DV-carrying add is skipped WHOLESALE (its adds are not
    //     delivered either) — appends-only flow, changed data silently
    //     dropped, exactly the option's contract.
    // Per commit: does it remove data, add a deletion vector, add data —
    // bounded by the commit count — then the adds of the commits kept.
    // Under the replay byte gate the range is decoded on the driver and
    // these predicates run as Row functions (no job, no query to plan);
    // above it the classification is one aggregate on executors and only
    // the delivered adds reach the driver. Nothing is cached.
    def flag(r: Row, i: Int) = !r.isNullAt(i) && r.getBoolean(i)
    def rowIsRm(r: Row) = !r.isNullAt(1) && !r.getStruct(1).isNullAt(0) && flag(r.getStruct(1), 2)
    def rowIsAdd(r: Row) = !r.isNullAt(0) && !r.getStruct(0).isNullAt(0) && flag(r.getStruct(0), 4)
    def rowIsDvAdd(r: Row) = rowIsAdd(r) &&
      !r.getStruct(0).isNullAt(6) && !r.getStruct(0).getStruct(6).isNullAt(0)
    val isRm = col("remove.path").isNotNull && (col("remove.dataChange") <=> true)
    val isAdd = col("add.path").isNotNull && (col("add.dataChange") <=> true)
    val isDvAdd = isAdd && col("add.deletionVector.storageType").isNotNull
    val sources = commits.map(c => c._1 -> c._2.getPath).toSeq
    val (cls, addsOf): (Seq[(Long, Boolean, Boolean, Boolean)], Set[Long] => Seq[Row]) =
      if (commits.map(_._2.getLen).sum <= LogReplay.localMaxBytes(spark)) {
        val rows = LogReplay.decodeRows(spark, actionSchema, sources)
        (rows.groupBy(_.getLong(6)).toSeq.sortBy(_._1).map { case (v, rs) =>
          (v, rs.exists(rowIsRm), rs.exists(rowIsDvAdd), rs.exists(rowIsAdd))
        }, dropped => rows.filter(r => rowIsAdd(r) && !dropped(r.getLong(6))).map(_.getStruct(0)))
      } else {
        val acts = LogReplay.actions(spark, actionSchema, sources)
        (acts.groupBy(col("version")).agg(
            max(isRm.cast("int")).as("rm"),
            max(isDvAdd.cast("int")).as("dva"),
            max(isAdd.cast("int")).as("adds"))
          .collect().toSeq.sortBy(_.getLong(0))
          .map(r => (r.getLong(0), r.getInt(1) == 1, r.getInt(2) == 1, r.getInt(3) == 1)),
          dropped => acts.where(if (dropped.isEmpty) isAdd else isAdd && !col("version").isInCollection(dropped))
            .select(col("add")).collect().toSeq.map(_.getStruct(0)))
      }
    val violating = cls.filter { case (_, rm, dva, _) => rm || dva }
    val dropped: Set[Long] = nonAppendMode match {
      case _ if violating.isEmpty => Set.empty
      case "skipChangeCommits" => violating.map(_._1).toSet
      case "ignoreDeletes" =>
        val rewrites = violating.filter { case (_, _, dva, adds) => dva || adds }
        require(rewrites.isEmpty,
          s"commits ${rewrites.map(_._1).mkString(",")} in ($fromVersion, $end] " +
            "UPDATE existing rows (rewrites/deletion vectors) — ignoreDeletes " +
            "only tolerates delete-only commits; use skipChangeCommits to " +
            "skip changed data entirely, or restart from a full snapshot")
        violating.map(_._1).toSet
      case _ =>
        throw new IllegalArgumentException(
          s"non-append changes (updates/deletes) at versions " +
            s"${violating.map(_._1).mkString(",")} in ($fromVersion, $end] — " +
            "read a full snapshot instead, or opt out with ignoreDeletes " +
            "(delete-only commits) / skipChangeCommits (skip changed data)")
    }
    val added = addsOf(dropped)
      .map(a => AddFile(
        a.getString(0),
        Option(a.getMap[String, String](1)).map(m => Map(m.toSeq: _*)).getOrElse(Map.empty),
        if (a.isNullAt(2)) 0L else a.getLong(2),
        if (a.isNullAt(3)) 0L else a.getLong(3),
        if (a.isNullAt(5)) None else Some(a.getString(5))))
      .sortBy(_.path)
    if (added.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], endSnap.schema)
    else DeltaFileIndex.relation(spark, endSnap.withFiles(added))
  }

  /** The pre-FileIndex materialization (explicit file list + broadcast
    * partition-value join). Kept as the API-level reference implementation;
    * DeltaSpec asserts both paths agree. */
  def loadViaJoin(spark: SparkSession, tablePath: String, versionAsOf: Option[Long] = None): DataFrame =
    toDf(spark, snapshotAt(spark, tablePath, versionAsOf), None)

  /** Evaluate a partition predicate against the file set (fully
    * distributed: the filter runs over the file-set DataFrame and only the
    * SURVIVORS are collected — works for arbitrarily complex predicates). */
  def prunedFiles(spark: SparkSession, snap: DeltaSnapshot, predicate: Column): Seq[AddFile] = {
    if (snap.partitionColumns.isEmpty) return snap.files
    val keep = partitionValuesDf(spark, snap)
      .filter(predicate).select("__path").collect().map(_.getString(0)).toSet
    snap.fileSet.filterCollect(f => keep.contains(f.path))
  }

  /** One row per active file: (__path, typed partition columns) — a
    * projection of the distributed file set, no driver materialization. */
  def partitionValuesDf(spark: SparkSession, snap: DeltaSnapshot): DataFrame = {
    val typed = snap.partitionColumns.map { c =>
      element_at(col("partitionValues"), c).cast(snap.schema(c).dataType).as(c)
    }
    snap.fileSet.df.select(col("path").as("__path") +: typed: _*)
  }

  private def toDf(spark: SparkSession, snap: DeltaSnapshot, filesOpt: Option[Seq[AddFile]]): DataFrame = {
    val active = filesOpt.getOrElse(snap.files)
    if (active.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    val paths = snap.absolutePaths(active)
    // read under physical names (column mapping), rename back to logical;
    // deletion vectors filter on _metadata before the projection
    val dataCols = snap.schema.filterNot(f => snap.partitionColumns.contains(f.name)).map { f =>
      val phys = snap.physicalFieldName(f.name)
      if (!snap.needsLogicalRename(f.name)) col(f.name)
      else col(s"`$phys`").cast(f.dataType).as(f.name)
    }
    val base = DeletionVectors.applyToScan(spark,
      spark.read.schema(snap.physicalDataSchema).parquet(paths: _*),
      snap.withFiles(active), dataCols)
    if (snap.partitionColumns.isEmpty) base
    else {
      // Partition-value injection: data files don't contain partition
      // columns; join them in from the log by full file path (file NAMES
      // are not unique — partitionBy writes the same task file name into
      // every partition dir). Both sides are normalized to the decoded
      // scheme/authority-less absolute path. The mapping side is tiny →
      // broadcast.
      val mapping = spark.createDataFrame(
        spark.sparkContext.parallelize(active.map { f =>
          org.apache.spark.sql.Row.fromSeq(
            snap.normAbsolutePath(f) +: snap.partitionColumns.map(c => f.partitionValues.getOrElse(c, null)))
        }, 1),
        StructType(StructField("__fpath", StringType) +:
          snap.partitionColumns.map(c => StructField(c, StringType)).toSeq))
      val typedPart = snap.partitionColumns.map(c => col(c).cast(snap.schema(c).dataType).as(c))
      graft.functions.PathNorm.register(spark)
      val withName = base.withColumn("__fpath", call_function("norm_uri_path", input_file_name()))
      withName.join(broadcast(mapping.select(col("__fpath") +: typedPart: _*)), Seq("__fpath"))
        .select(snap.schema.map(f => col(f.name)): _*)
    }
  }
}
