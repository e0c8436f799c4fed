package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.concurrent.TrieMap

/** From-scratch Delta transaction-log snapshot reader (SURVEY.md §7 Step 1).
  *
  * Replays `_delta_log/` — parquet checkpoint (if any) + subsequent JSON
  * commits — into a [[DeltaSnapshot]]: latest metadata (schema from
  * `schemaString` via `DataType.fromJson`, exactly what the reference gets
  * from `snapshot.getMetadata.getSchema`, DeltaMetadataHandler.scala:99-107)
  * plus the active file set (`snapshot.getAllFiles`, :119,151).
  *
  * Scale design: the log itself is read with Spark (`spark.read.json` /
  * `parquet` with explicit schemas — a multi-million-action log replays as
  * a distributed `max_by(version)` per path, not a driver loop), and the
  * snapshot is cached per (table, version) per session — the reference
  * re-reads the log three times per query (DeltaMetadataHandler.scala:99,
  * 117,150), which SURVEY.md §3.2 flags as a design flaw to avoid.
  *
  * Job budget of a cold snapshot. A small checkpoint-less log replays on
  * the driver: zero jobs. Every table with a checkpoint replays
  * distributed: the checkpoint's schema comes from its footer, read on
  * the driver (no inference job), and protocol + metaData come from ONE
  * collect ([[replay]]) — 1 job to resolve the snapshot (V2 checkpoints
  * add 1 for their sidecar paths). The file set costs 2 more at its first
  * touch, where `spark.graft.delta.driverFileListThreshold` applies
  * ([[DeltaFileSet]]): when the version's crc records at most that many
  * files the set is collected in that same pass, and crc validation, the
  * DV probe and listing run on the driver, so a cold snapshot + load +
  * filtered count costs 5 jobs in all (SnapshotJobBudgetSpec). A set the
  * crc records as larger, or a version without a crc, is persisted on
  * executors instead, after one pass over the log.
  */
object DeltaSnapshotReader {
  import DeltaActions._

  private val cache = TrieMap.empty[(String, Long), DeltaSnapshot]

  private val commitRe = """(\d{20})\.json""".r
  private val checkpointRe = """(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.parquet""".r
  /** V2 (UUID-named) checkpoint: `<v>.checkpoint.<uuid>.{json|parquet}`.
    * Unlike classic multi-part files, EACH uuid-named file is a complete
    * checkpoint on its own (its file actions may live in sidecars). The
    * classic pattern is tried first, so the two never overlap. */
  private val v2CheckpointRe = """(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)""".r
  /** Minor log compaction: `<start>.<end>.compacted.json` carries the
    * reconciled actions of commit range [start, end]
    * (DeltaWriter.compactLog). */
  private val compactedRe = """(\d{20})\.(\d{20})\.compacted\.json""".r

  /** Latest snapshot of the table at `tablePath`. */
  def snapshot(spark: SparkSession, tablePath: String): DeltaSnapshot =
    snapshotAt(spark, tablePath, None)

  /** Snapshot at a specific version (time travel), or latest when None. */
  def snapshotAt(spark: SparkSession, tablePath: String, versionAsOf: Option[Long]): DeltaSnapshot = {
    val logPath = new Path(tablePath, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logPath))
      throw new IllegalArgumentException(s"not a Delta table (no _delta_log): $tablePath")
    // Catalog-owned tables (ADVICE r13: ownership is table state, and
    // readers must route too): complete any claimed-but-unbackfilled
    // commit BEFORE listing, so an owned commit inside another writer's
    // claim-then-die window is visible to every reader, not only catalog
    // API callers. No-ops in one directory probe when the table has no
    // `_commits` registry (the overwhelmingly common case).
    CatalogCommitOwner.recoverTable(tablePath)
    val entries: Array[FileStatus] = fs.listStatus(logPath)

    val commits = entries.flatMap { st =>
      st.getPath.getName match {
        case commitRe(v) => Some(v.toLong -> st.getPath)
        case _ => None
      }
    }.sortBy(_._1)
    // (version, path, isV2): classic multi-part checkpoints share a version
    // and are read TOGETHER; v2 uuid-named files are each self-contained
    val checkpoints = entries.flatMap { st =>
      st.getPath.getName match {
        case checkpointRe(v) => Some((v.toLong, st.getPath, false))
        case v2CheckpointRe(v, _, _) => Some((v.toLong, st.getPath, true))
        case _ => None
      }
    }.groupBy(_._1)

    if (commits.isEmpty && checkpoints.isEmpty)
      throw new IllegalArgumentException(s"empty _delta_log at $tablePath")

    val latest = (commits.map(_._1) ++ checkpoints.keys).max
    val target = versionAsOf.getOrElse(latest)
    require(target <= latest, s"version $target > latest $latest for $tablePath")

    cache.getOrElseUpdate((tablePath, target), {
      // newest checkpoint at or below the target version, if any
      val cpVersion = checkpoints.keys.filter(_ <= target) match {
        case ks if ks.isEmpty => None
        case ks => Some(ks.max)
      }
      // Optimized log replay: substitute compacted range files for the
      // individual commit JSONs they cover. Greedy left-to-right chaining —
      // at each uncovered version take the longest compacted range starting
      // exactly there (ranges never overlap or gap by construction of the
      // walk), fall back to the plain commit otherwise. All actions of a
      // compacted file replay at its END version: the file is already
      // reconciled per path, so later commits still win per-path ties.
      val lo = cpVersion.getOrElse(-1L) + 1
      val compactedByStart = entries.flatMap { st =>
        st.getPath.getName match {
          case compactedRe(a, b) if a.toLong >= lo && b.toLong <= target =>
            Some((a.toLong, b.toLong, st.getPath))
          case _ => None
        }
      }.groupBy(_._1)
      val chosenCompactions = Seq.newBuilder[(Long, Long, Path)]
      var covered = Set.empty[Long]
      var walk = lo
      while (walk <= target) {
        compactedByStart.get(walk).map(_.maxBy(_._2)) match {
          case Some(c @ (s0, e0, _)) =>
            chosenCompactions += c; covered ++= (s0 to e0); walk = e0 + 1
          case None => walk += 1
        }
      }
      val tailCommitPairs = commits
        .filter { case (v, _) => v >= lo && v <= target && !covered(v) }
      val tailCommits = tailCommitPairs.map(_._2.toString)
      val chosenC = chosenCompactions.result()

      // DRIVER-SIDE replay fast path (optimization r17, guide §1.2/§5): a
      // checkpoint-less log whose replayed segment is small is parsed with
      // Jackson on the driver — zero Spark jobs for snapshot construction,
      // and the born-collected file set makes listing, validation and
      // pruning driver-local too (DeltaFileIndex's existing small-table
      // path). The byte gate (`spark.graft.delta.localReplayMaxBytes`,
      // default 4 MiB ≈ thousands of adds) bounds driver work; above it —
      // i.e. at 100 TB scale, where a snapshot holds millions of adds —
      // the distributed `max_by(version)`-per-path replay below remains
      // the only path, exactly as before (DeltaScaleSpec's 50k-file locks
      // run ~10 MiB logs and stay distributed).
      val localMax = spark.conf.getOption("spark.graft.delta.localReplayMaxBytes")
        .map(_.toLong).getOrElse(4L * 1024 * 1024)
      val statusByPath: Map[Path, FileStatus] = entries.map(st => st.getPath -> st).toMap
      val localSources: Seq[(Long, Path)] =
        (chosenC.map { case (_, end, p) => (end, p) } ++ tailCommitPairs).sortBy(_._1)
      // a source missing from the listing disqualifies the local path
      // outright (no sentinel length whose sum could overflow)
      val localLens = localSources.map { case (_, p) => statusByPath.get(p).map(_.getLen) }
      // the target's crc, read once at the file set's first touch: its
      // numFiles places the set (DeltaFileSet), then validation checks it
      lazy val crc = Checksum.read(fs, logPath, target)
      val snap =
        if (cpVersion.isEmpty && localSources.nonEmpty && localLens.forall(_.isDefined) &&
            localLens.flatten.sum <= localMax)
          localReplay(spark, tablePath, target, localSources)
        else {
          val compactedDfs = chosenC.map { case (_, end, p) =>
            spark.read.schema(actionSchema).json(p.toString)
              .withColumn("version", lit(end))
          }
          val cpDf = cpVersion.map { v =>
            val (v2Files, classicFiles) = checkpoints(v).partition(_._3)
            val actions =
              if (classicFiles.nonEmpty) {
                val parts = classicFiles.map(_._2).toSeq.sortBy(_.getName)
                normalizeActions(readCheckpointParquet(spark, parts, statusByPath(parts.head)))
              } else
                // several writers may leave several uuid checkpoints for the
                // same version; each is complete — pick one deterministically
                readV2Checkpoint(spark, logPath, statusByPath(v2Files.map(_._2).maxBy(_.toString)))
            actions.withColumn("version", lit(v))
          }
          val jsonDf = if (tailCommits.isEmpty) None else Some {
            spark.read.schema(actionSchema).json(tailCommits: _*)
              .withColumn("version",
                regexp_extract(input_file_name(), """(\d{20})\.json""", 1).cast(LongType))
          }
          val actions = (cpDf.toSeq ++ compactedDfs ++ jsonDf.toSeq).reduce(_ unionByName _)
          replay(spark, tablePath, target, actions, () => crc.flatMap(Checksum.recordedNumFiles))
        }
      // Per-version state-checksum validation ([[Checksum]]): armed LAZY —
      // it runs at the first access to the file set's distributed rows
      // (ADVICE r13: eager validation inside the cache fill charged one
      // distributed aggregate per cold load to metadata-plane callers that
      // never touch the file set). Data is still never served unvalidated:
      // every data-plane path goes through fileSet.df, and a mismatch
      // POISONS the set — the refusal rethrows on every later access
      // instead of being cached away. (On a collected file set — every
      // locally-replayed one, and every replayed one at or under
      // driverFileListThreshold from its first touch — the validation
      // aggregates are driver-local folds: same contract, zero jobs.)
      snap.fileSet.armValidator(() => Checksum.validate(logPath, snap, crc))
      snap
    })
  }

  /** Evict cached snapshots of a table (e.g. after a write), releasing
    * their persisted file-set DataFrames. */
  def invalidate(tablePath: String): Unit =
    cache.keys.filter(_._1 == tablePath)
      .foreach(k => cache.remove(k).foreach(_.fileSet.unpersist()))

  /** Time travel by TIMESTAMP (Delta's second time-travel axis): the
    * latest version whose commit file's modification time is ≤ `tsMillis`
    * — exactly delta-spark's resolution rule, so the two engines pick the
    * same version for the same timestamp. Errors if the timestamp predates
    * the table's first commit. */
  def versionAtTimestamp(spark: SparkSession, tablePath: String, tsMillis: Long): Long = {
    val logPath = new Path(tablePath, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logPath))
      throw new IllegalArgumentException(s"not a Delta table (no _delta_log): $tablePath")
    val listed = fs.listStatus(logPath).flatMap { st =>
      st.getPath.getName match {
        case commitRe(v) => Some((v.toLong, st.getModificationTime, st.getPath.toString))
        case _ => None
      }
    }.sortBy(_._1)
    require(listed.nonEmpty, s"no commit JSONs in $tablePath (log truncated?)")
    // In-commit timestamps (delta.enableInCommitTimestamps): the
    // authoritative commit time is commitInfo.inCommitTimestamp — monotone
    // and clock-skew-safe, unlike file mtimes, which a log copy rewrites.
    // Commits that predate enablement keep their mtime (the spec's rule).
    val ictEnabled =
      try snapshot(spark, tablePath).configuration
        .get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))
      catch { case _: Exception => false }
    val commits: Seq[(Long, Long)] =
      if (!ictEnabled) listed.map(c => (c._1, c._2)).toSeq
      else {
        val ictSchema = StructType(Seq(StructField("commitInfo",
          StructType(Seq(StructField("inCommitTimestamp", LongType))))))
        val icts: Map[Long, Long] =
          spark.read.schema(ictSchema).json(listed.map(_._3).toSeq: _*)
            .withColumn("version",
              regexp_extract(input_file_name(), """(\d{20})\.json""", 1).cast(LongType))
            .where(col("commitInfo.inCommitTimestamp").isNotNull)
            .groupBy(col("version"))
            .agg(max(col("commitInfo.inCommitTimestamp")).as("ict"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        listed.map(c => (c._1, icts.getOrElse(c._1, c._2))).toSeq
      }
    val eligible = commits.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestamp $tsMillis predates the first commit of $tablePath " +
        s"(earliest ${commits.head._2})")
    eligible.map(_._1).max
  }

  /** Commit time of one version (millis): the in-commit timestamp when the
    * writer recorded one, else the commit file's mtime — the same
    * resolution rule history/time-travel use. */
  def commitTimestamp(spark: SparkSession, tablePath: String, version: Long): Long = {
    val logPath = new Path(tablePath, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val f = new Path(logPath, f"$version%020d.json")
    require(fs.exists(f), s"no commit JSON for version $version of $tablePath")
    val ictSchema = StructType(Seq(StructField("commitInfo",
      StructType(Seq(StructField("inCommitTimestamp", LongType))))))
    spark.read.schema(ictSchema).json(f.toString)
      .where(col("commitInfo.inCommitTimestamp").isNotNull)
      .select(max(col("commitInfo.inCommitTimestamp")))
      .collect().headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
      .getOrElse(fs.getFileStatus(f).getModificationTime)
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
    val logPath = new Path(tablePath, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logPath))
      throw new IllegalArgumentException(s"not a Delta table (no _delta_log): $tablePath")
    val commitFiles = fs.listStatus(logPath).flatMap { st =>
      st.getPath.getName match {
        case commitRe(_) => Some(st.getPath.toString)
        case _ => None
      }
    }.toSeq
    require(commitFiles.nonEmpty, s"no commit JSONs in $tablePath (log truncated?)")
    val ciSchema = StructType(Seq(StructField("commitInfo", StructType(Seq(
      StructField("timestamp", LongType),
      StructField("inCommitTimestamp", LongType),
      StructField("operation", StringType),
      StructField("operationParameters", MapType(StringType, StringType)),
      StructField("engineInfo", StringType))))))
    spark.read.schema(ciSchema).json(commitFiles: _*)
      .withColumn("version",
        regexp_extract(input_file_name(), """(\d{20})\.json""", 1).cast(LongType))
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
  def latestVersion(spark: SparkSession, tablePath: String): Long = {
    val logPath = new Path(tablePath, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logPath))
      throw new IllegalArgumentException(s"not a Delta table (no _delta_log): $tablePath")
    val versions = fs.listStatus(logPath).flatMap { st =>
      st.getPath.getName match {
        case commitRe(v) => Some(v.toLong)
        case checkpointRe(v) => Some(v.toLong)
        case v2CheckpointRe(v, _, _) => Some(v.toLong)
        case _ => None
      }
    }
    require(versions.nonEmpty, s"empty _delta_log at $tablePath")
    versions.max
  }

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
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(schemaFrom, spark.sessionState.newHadoopConf()))
    val schema = try {
      val meta = reader.getFooter.getFileMetaData
      // Spark-written files carry their exact Spark schema in the footer;
      // inference prefers it over the parquet types, and so do we
      Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    } finally reader.close()
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

  /** Protocol gate shared by both replay paths. v1/v2 are fully supported;
    * v3 (table features) is accepted iff every readerFeature is one this
    * engine understands: columnMapping is implemented in replay;
    * deletionVectors are decoded and APPLIED at scan time
    * ([[DeletionVectors.applyToScan]]). */
  private val supportedReaderFeatures =
    Set("columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
      "vacuumProtocolCheck", "variantType", "typeWidening")

  private def gateProtocol(protocol: Option[DeltaProtocol], tablePath: String): Unit =
    protocol.foreach { p =>
      val v = p.minReaderVersion
      if (v == 3) {
        val feats = p.readerFeatures.map(_.toSet).getOrElse(Set.empty)
        val unknown = feats -- supportedReaderFeatures
        if (unknown.nonEmpty)
          throw DeltaUnsupportedFeatureException(unknown.toSeq.sorted.mkString(","),
            s"table at $tablePath requires reader features ${unknown.toSeq.sorted.mkString(", ")} " +
              s"(minReaderVersion=3); this reader supports ${supportedReaderFeatures.toSeq.sorted.mkString(", ")}")
      } else if (v > 3)
        throw DeltaUnsupportedFeatureException(s"minReaderVersion=$v",
          s"table at $tablePath requires Delta reader protocol $v; max supported is 3")
    }

  /** Physical (column-mapping) schema for a resolved metaData, shared by
    * both replay paths. */
  private def resolvePhysicalSchema(schema: StructType,
      configuration: Map[String, String], tablePath: String): Option[StructType] =
    configuration.getOrElse("delta.columnMapping.mode", "none") match {
      case "none" => None
      case "name" => Some(ColumnMapping.toPhysical(schema).asInstanceOf[StructType])
      case "id" =>
        Some(ColumnMapping.toPhysical(schema, withFieldIds = true).asInstanceOf[StructType])
      case other => throw DeltaUnsupportedFeatureException(s"columnMapping=$other",
        s"table at $tablePath uses delta.columnMapping.mode=$other; supported modes: none, name, id")
    }

  private val localOm = new com.fasterxml.jackson.databind.ObjectMapper()

  /** DRIVER-SIDE replay of a small, checkpoint-less log segment: the exact
    * semantics of [[replay]] (per-path winner by (version, add-present),
    * latest metaData/protocol, latest txn per appId, latest domain,
    * remove-after-add tombstones) computed with Jackson over the commit
    * JSONs — zero Spark jobs. Only entered under the byte gate in
    * [[snapshotAt]]; the resulting file set is born collected, which routes
    * every downstream consumer (listing, validation, pruning, stats) onto
    * its existing driver-local branches. `sources` are (replayVersion,
    * file) pairs in ascending version order — a compacted range file
    * carries its END version, exactly as the distributed path stamps it. */
  private def localReplay(spark: SparkSession, tablePath: String, target: Long,
                          sources: Seq[(Long, Path)]): DeltaSnapshot = {
    import com.fasterxml.jackson.databind.JsonNode
    val conf = spark.sessionState.newHadoopConf()
    def optText(n: JsonNode, f: String): Option[String] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText())
    def optLong(n: JsonNode, f: String): Option[Long] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asLong())
    def optInt(n: JsonNode, f: String): Option[Int] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asInt())
    def optBool(n: JsonNode, f: String): Option[Boolean] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean())
    def strMap(n: JsonNode): Map[String, String] = {
      val b = Map.newBuilder[String, String]
      val it = n.fields()
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
      }
      b.result()
    }
    def strSeq(n: JsonNode): Seq[String] = {
      import scala.jdk.CollectionConverters._
      n.elements().asScala.map(_.asText()).toSeq
    }
    // per-path replay state: winner by lexicographic (version, hasAdd) —
    // a DV rewrite commits remove+add of the SAME path in one commit and
    // the add must win; tombstones additionally need the last add/remove
    // versions per path (remove is a tombstone iff no add at-or-after it)
    final class PState {
      var winVer: Long = -1L; var winAdd: JsonNode = _
      var lastAddVer: Long = -1L
      var lastRemVer: Long = -1L; var lastRem: JsonNode = _
    }
    val paths = scala.collection.mutable.HashMap.empty[String, PState]
    var protoVer = -1L; var protoNode: JsonNode = null
    var metaVer = -1L; var metaNode: JsonNode = null
    val txns0 = scala.collection.mutable.HashMap.empty[String, (Long, JsonNode)]
    val domains0 = scala.collection.mutable.HashMap.empty[String, (Long, JsonNode)]
    for ((ver, file) <- sources) {
      val in = file.getFileSystem(conf).open(file)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toString("UTF-8")
      } finally in.close()
      txt.split('\n').foreach { line0 =>
        val line = line0.trim
        if (line.nonEmpty) {
          // a malformed line is inert — same tolerance as the distributed
          // PERMISSIVE json read (all-null action row)
          val root = try localOm.readTree(line) catch { case _: Exception => null }
          if (root != null) {
            Option(root.get("add")).filterNot(_.isNull).foreach { a =>
              optText(a, "path").foreach { p =>
                val st = paths.getOrElseUpdate(p, new PState)
                if (ver >= st.lastAddVer) st.lastAddVer = ver
                if (ver > st.winVer || (ver == st.winVer)) {
                  st.winVer = ver; st.winAdd = a
                }
              }
            }
            Option(root.get("remove")).filterNot(_.isNull).foreach { r =>
              optText(r, "path").foreach { p =>
                val st = paths.getOrElseUpdate(p, new PState)
                if (ver >= st.lastRemVer) { st.lastRemVer = ver; st.lastRem = r }
                if (ver > st.winVer) { st.winVer = ver; st.winAdd = null }
              }
            }
            Option(root.get("protocol")).filterNot(_.isNull)
              .filter(p => optInt(p, "minReaderVersion").isDefined).foreach { p =>
                if (ver >= protoVer) { protoVer = ver; protoNode = p }
              }
            Option(root.get("metaData")).filterNot(_.isNull)
              .filter(m => optText(m, "id").isDefined).foreach { m =>
                if (ver >= metaVer) { metaVer = ver; metaNode = m }
              }
            Option(root.get("txn")).filterNot(_.isNull).foreach { t =>
              optText(t, "appId").foreach { app =>
                if (!txns0.get(app).exists(_._1 > ver)) txns0(app) = (ver, t)
              }
            }
            Option(root.get("domainMetadata")).filterNot(_.isNull).foreach { d =>
              optText(d, "domain").foreach { dom =>
                if (!domains0.get(dom).exists(_._1 > ver)) domains0(dom) = (ver, d)
              }
            }
          }
        }
      }
    }
    val protocol = Option(protoNode).map { p =>
      DeltaProtocol(
        optInt(p, "minReaderVersion").get,
        optInt(p, "minWriterVersion").getOrElse(2),
        Option(p.get("readerFeatures")).filterNot(_.isNull).map(strSeq),
        Option(p.get("writerFeatures")).filterNot(_.isNull).map(strSeq))
    }
    gateProtocol(protocol, tablePath)
    val meta = Option(metaNode)
      .getOrElse(throw new IllegalStateException(s"no metaData action found in $tablePath"))
    val schema = DataType.fromJson(meta.get("schemaString").asText()).asInstanceOf[StructType]
    val partCols: Seq[String] =
      Option(meta.get("partitionColumns")).filterNot(_.isNull).map(strSeq).getOrElse(Seq.empty)
    val configuration: Map[String, String] =
      Option(meta.get("configuration")).filterNot(_.isNull).map(strMap).getOrElse(Map.empty)
    val physicalSchema = resolvePhysicalSchema(schema, configuration, tablePath)
    val physToLogicalPart: Map[String, String] = physicalSchema match {
      case Some(ps) => partCols.map(c => ps.fields(schema.fieldIndex(c)).name -> c).toMap
      case None => Map.empty
    }
    val adds: Seq[AddFile] = paths.iterator.collect {
      case (p, st) if st.winAdd != null =>
        val a = st.winAdd
        val dv = Option(a.get("deletionVector")).filterNot(_.isNull)
          .flatMap { d =>
            // rows with a descriptor but null storageType are malformed
            optText(d, "storageType").map { sto =>
              DeletionVectors.Descriptor(sto,
                optText(d, "pathOrInlineDv").orNull,
                optInt(d, "offset").getOrElse(0),
                optInt(d, "sizeInBytes").getOrElse(0),
                optLong(d, "cardinality").getOrElse(0L))
            }
          }
        val pv0 = Option(a.get("partitionValues")).filterNot(_.isNull)
          .map(strMap).getOrElse(Map.empty)
        val pv = if (physToLogicalPart.isEmpty) pv0
          else pv0.map { case (k, v) => physToLogicalPart.getOrElse(k, k) -> v }
        AddFile(p, pv,
          optLong(a, "size").getOrElse(0L),
          optLong(a, "modificationTime").getOrElse(0L),
          optText(a, "stats"),
          dv,
          optLong(a, "baseRowId"),
          optLong(a, "defaultRowCommitVersion"),
          Some(st.winVer))
    }.toSeq.sortBy(_.path)
    // tombstones/txns/domains are already parsed — eager locals behind the
    // same lazy-closure surface the distributed snapshot exposes
    val tombstones: Seq[RemoveTombstone] = paths.iterator.collect {
      case (p, st) if st.lastRem != null && st.lastAddVer < st.lastRemVer =>
        RemoveTombstone(p,
          optLong(st.lastRem, "deletionTimestamp").getOrElse(0L),
          optBool(st.lastRem, "dataChange").getOrElse(true))
    }.toSeq.sortBy(_.path)
    val txns: Seq[SetTransaction] = txns0.iterator.map { case (app, (_, t)) =>
      SetTransaction(app, optLong(t, "version").getOrElse(0L), optLong(t, "lastUpdated"))
    }.toSeq.sortBy(_.appId)
    val domainMetadata: Map[String, String] = domains0.iterator.collect {
      case (dom, (_, d)) if !optBool(d, "removed").getOrElse(false) =>
        dom -> optText(d, "configuration").getOrElse("")
    }.toMap
    DeltaSnapshot(tablePath, target, schema, partCols, DeltaFileSet.of(adds),
      () => tombstones, () => txns, configuration, physicalSchema, protocol,
      () => domainMetadata,
      metadataId = optText(meta, "id"),
      metadataCreatedTime = optLong(meta, "createdTime"))
  }

  /** Distributed replay: per path, the action with the highest version wins;
    * survivors whose last action is an `add` form the active set.
    *
    * Job budget of a cold snapshot on this path: ONE job here (protocol
    * and metaData together); the file set (2 jobs at its first touch),
    * tombstones (2) and txns + domains (2, together) are lazy. A checkpoint's schema comes from its footer
    * ([[readCheckpointParquet]]), so reading it costs no job. */
  private def replay(spark: SparkSession, tablePath: String, version: Long, actions: DataFrame,
                     recordedFiles: () => Option[Long]): DeltaSnapshot = {
    // newest protocol and newest metaData in ONE scan: each partition
    // keeps its newest of each, the driver picks the newest overall —
    // the driver holds at most 2 rows per partition
    val isProto = col("protocol.minReaderVersion").isNotNull
    val isMeta = col("metaData.id").isNotNull
    val heads = actions.where(isProto || isMeta)
      .select(col("version"),
        when(isProto, struct(col("protocol.minReaderVersion"), col("protocol.minWriterVersion"),
          col("protocol.readerFeatures"), col("protocol.writerFeatures"))).as("p"),
        when(isMeta, struct(col("metaData.schemaString"), col("metaData.partitionColumns"),
          col("metaData.configuration"), col("metaData.id"), col("metaData.createdTime"))).as("m"))
      .rdd.mapPartitions(newestHeads).collect()
    val survivors = newestHeads(heads.iterator).toSeq
    def newest(i: Int): Option[Row] = survivors.find(!_.isNullAt(i)).map(_.getStruct(i))
    val protocol = newest(1)
      .map { r =>
        DeltaProtocol(
          r.getInt(0),
          if (r.isNullAt(1)) 2 else r.getInt(1),
          if (r.isNullAt(2)) None else Some(r.getSeq[String](2).toSeq),
          if (r.isNullAt(3)) None else Some(r.getSeq[String](3).toSeq))
      }
    gateProtocol(protocol, tablePath)

    val metaRow = newest(2)
      .getOrElse(throw new IllegalStateException(s"no metaData action found in $tablePath"))
    val schema = DataType.fromJson(metaRow.getString(0)).asInstanceOf[StructType]
    val partCols: Seq[String] =
      Option(metaRow.getSeq[String](1)).map(_.toSeq).getOrElse(Seq.empty)
    val configuration: Map[String, String] =
      Option(metaRow.getMap[String, String](2)).map(m => Map(m.toSeq: _*)).getOrElse(Map.empty)
    // Column mapping: `name` mode is a metadata-only indirection — parquet
    // stores every field under its delta.columnMapping.physicalName and
    // add.partitionValues is keyed by physical name. `id` mode files also
    // carry parquet field IDs; the physical schema then embeds
    // parquet.field.id metadata and the scan enables Spark's field-ID
    // matching, so columns resolve even when parquet names diverge.
    val physicalSchema: Option[StructType] =
      resolvePhysicalSchema(schema, configuration, tablePath)
    // physical partition key -> logical column name, for translating
    // add.partitionValues into the logical names everything downstream uses
    val physToLogicalPart: Map[String, String] = physicalSchema match {
      case Some(ps) => partCols.map(c => ps.fields(schema.fieldIndex(c)).name -> c).toMap
      case None => Map.empty
    }

    // Active-file set: the per-path last-action dedup (the expensive part
    // of replay) runs distributed at the set's first touch, over the
    // (lazy) `actions` plan. That same pass collects the set when the crc
    // records at most driverFileListThreshold files; any other set stays
    // persisted on executors and the driver never holds the full list
    // unless a maintenance consumer asks (DeltaFileSet.ensureBuilt).
    val fileSet = DeltaFileSet.fromDf(() => {
      val base = actions
        .where(col("add.path").isNotNull || col("remove.path").isNotNull)
        .select(coalesce(col("add.path"), col("remove.path")).as("__p"),
          col("add"), col("version"))
        .groupBy("__p")
        // same-version tie-break: a DV writer commits remove+add of the
        // SAME path in ONE commit (the add carries the new deletion
        // vector) — the add must win, so order by (version, add-present)
        .agg(max_by(struct(col("add"), col("version")),
          struct(col("version"), col("add").isNotNull)).as("w"))
        .select(col("w.add").as("add"), col("w.version").as("__v"))
        .where(col("add").isNotNull)
      // column-mapped tables key add.partitionValues by PHYSICAL name;
      // translate to logical in the DataFrame so every consumer
      // (distributed pruning included) sees logical keys
      val pv =
        if (physToLogicalPart.isEmpty) col("add.partitionValues")
        else transform_keys(col("add.partitionValues"),
          (k, _) => coalesce(element_at(typedLit(physToLogicalPart), k), k))
      base.select(
        col("add.path").as("path"),
        pv.as("partitionValues"),
        coalesce(col("add.size"), lit(0L)).as("size"),
        coalesce(col("add.modificationTime"), lit(0L)).as("modificationTime"),
        col("add.stats").as("stats"),
        // rows with a descriptor but null storageType are malformed
        when(col("add.deletionVector.storageType").isNotNull, col("add.deletionVector"))
          .otherwise(lit(null).cast(deletionVectorType)).as("deletionVector"),
        col("add.baseRowId").as("baseRowId"),
        col("add.defaultRowCommitVersion").as("defaultRowCommitVersion"),
        // engine-side: the version whose add won replay (post-checkpoint,
        // the checkpoint version — see AddFile.addedVersion)
        col("__v").as("addedVersion"))
    }, DeltaFileSet.driverListThreshold(spark), recordedFiles)

    // Current tombstones: last action for the path is a remove (no later
    // re-add). Checkpoints must retain these until retention expiry, and
    // VACUUM uses them to find deletable files. LAZY (∝ removed files).
    // One aggregate: the newest action per path, an add winning a
    // same-version tie exactly as in the file set; a remove winner is a
    // tombstone.
    val tombstonesF: () => Seq[RemoveTombstone] = () => {
      val isAdd = col("add.path").isNotNull
      actions.where(isAdd || col("remove.path").isNotNull)
        .groupBy(coalesce(col("add.path"), col("remove.path")).as("path"))
        .agg(max_by(struct(isAdd.as("isAdd"), col("remove").as("rm")),
          struct(col("version"), isAdd)).as("w"))
        .where(!col("w.isAdd"))
        .select(col("path"), col("w.rm.deletionTimestamp"), col("w.rm.dataChange"))
        .collect()
        .map(r => RemoveTombstone(
          r.getString(0),
          if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) true else r.getBoolean(2)))
        .sortBy(_.path).toSeq
    }

    // Latest txn watermark per appId (streaming-writer idempotency; must
    // survive checkpointing or foreign streaming writers replay commits)
    // and live metadata domains (domainMetadata writer feature; a
    // removed=true tombstone deletes one), resolved in ONE lazy aggregate:
    // both are bounded by the number of writers and domains, not table
    // size, and a checkpoint needs both. The newest action per key wins.
    lazy val txnsAndDomains: (Seq[SetTransaction], Map[String, String]) = {
      val isTxn = col("txn.appId").isNotNull
      val (txnRows, domainRows) = actions.where(isTxn || col("domainMetadata.domain").isNotNull)
        .groupBy(isTxn.as("isTxn"),
          coalesce(col("txn.appId"), col("domainMetadata.domain")).as("key"))
        .agg(max_by(struct(col("txn"), col("domainMetadata")), col("version")).as("w"))
        .select(col("isTxn"), col("key"), col("w.txn.version"), col("w.txn.lastUpdated"),
          col("w.domainMetadata.configuration"), coalesce(col("w.domainMetadata.removed"), lit(false)))
        .collect()
        .partition(_.getBoolean(0))
      val txns = txnRows
        .map(r => SetTransaction(
          r.getString(1),
          if (r.isNullAt(2)) 0L else r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sortBy(_.appId).toSeq
      val domains = domainRows.filterNot(_.getBoolean(5))
        .map(r => r.getString(1) -> (if (r.isNullAt(4)) "" else r.getString(4)))
        .toMap
      (txns, domains)
    }
    val txnsF: () => Seq[SetTransaction] = () => txnsAndDomains._1
    val domainMetadataF: () => Map[String, String] = () => txnsAndDomains._2

    DeltaSnapshot(tablePath, version, schema, partCols, fileSet, tombstonesF, txnsF,
      configuration, physicalSchema, protocol, domainMetadataF,
      metadataId = Option(metaRow.getString(3)),
      metadataCreatedTime = if (metaRow.isNullAt(4)) None else Some(metaRow.getLong(4)))
  }

  /** Of (version, protocol, metaData) rows, the newest row carrying a
    * protocol and the newest carrying a metaData (later rows win version
    * ties). Executor-safe: runs per partition, then again on the driver
    * over the partitions' survivors. */
  private def newestHeads(rows: Iterator[Row]): Iterator[Row] = {
    var p: Row = null
    var m: Row = null
    rows.foreach { r =>
      if (!r.isNullAt(1) && (p == null || r.getLong(0) >= p.getLong(0))) p = r
      if (!r.isNullAt(2) && (m == null || r.getLong(0) >= m.getLong(0))) m = r
    }
    Iterator(p, m).filter(_ != null).distinct
  }

  // ---------------------------------------------------------------------
  // DataFrame materialization
  // ---------------------------------------------------------------------

  /** The snapshot as a DataFrame through Spark's native scan stack
    * ([[DeltaFileIndex]] inside a HadoopFsRelation): partition values are
    * injected from the log by the scan (reference A10), partition filters
    * prune at the log level via `PruneFileSourcePartitions` (A6), data
    * filters push to parquet row groups, and the read is vectorized. */
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
    val logPath = new Path(tablePath, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val endSnap = snapshotAt(spark, tablePath, toVersion)
    val end = endSnap.version
    require(fromVersion <= end, s"fromVersion $fromVersion > end version $end")
    val commitPaths = fs.listStatus(logPath).flatMap { st =>
      st.getPath.getName match {
        case commitRe(v) if v.toLong > fromVersion && v.toLong <= end =>
          Some(st.getPath.toString)
        case _ => None
      }
    }
    require(commitPaths.length == (end - fromVersion),
      s"missing commit JSONs in ($fromVersion, $end] — log truncated by checkpoint cleanup?")
    if (commitPaths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], endSnap.schema)
    val actions = spark.read.schema(actionSchema).json(commitPaths.toSeq: _*)
      .withColumn("__v",
        regexp_extract(input_file_name(), """(\d+)\.json""", 1).cast("long"))
      .cache()
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
    val isRm = col("remove.path").isNotNull && col("remove.dataChange") === true
    val isAdd = col("add.path").isNotNull && col("add.dataChange") === true
    val isDvAdd = isAdd && col("add.deletionVector.storageType").isNotNull
    // per-commit classification: bounded by the commit count, driver-safe
    val cls = actions.groupBy(col("__v")).agg(
        max(isRm.cast("int")).as("rm"),
        max(isDvAdd.cast("int")).as("dva"),
        max(isAdd.cast("int")).as("adds"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1) == 1, r.getInt(2) == 1, r.getInt(3) == 1))
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
    val added = actions
      .where(if (dropped.isEmpty) isAdd
             else isAdd && !col("__v").isInCollection(dropped))
      .select("add.path", "add.partitionValues", "add.size", "add.modificationTime", "add.stats")
      .collect()
      .map(r => AddFile(
        r.getString(0),
        Option(r.getMap[String, String](1)).map(m => Map(m.toSeq: _*)).getOrElse(Map.empty),
        if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getString(4))))
      .sortBy(_.path).toSeq
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
