package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change Data Feed (`delta.enableChangeDataFeed=true`): the row-level
  * change log the Delta protocol layers over the file-level transaction
  * log — each commit's net row changes, tagged `insert` / `delete` /
  * `update_preimage` / `update_postimage`, consumable by version range.
  *
  * The reference connector is read-only and latest-snapshot-only
  * (DeltaMetadataHandler.scala:99,117,150), so CDF is part of this
  * engine's beyond-the-reference write surface.
  *
  * Protocol shape (public Delta spec, "Change Data Files" + "Add CDC
  * File"):
  *  - Row-level DML (DELETE / UPDATE / MERGE / DV-DELETE) on a CDF table
  *    writes its change rows as parquet under `_change_data/`, with one
  *    extra string column `_change_type`, and records each file as a
  *    `cdc` action (`dataChange=false` — snapshot replay ignores them).
  *  - Commits whose changes ARE their file actions — blind appends and
  *    full overwrites, where every added row is an insert and every
  *    removed row a delete — may omit cdc files; readers reconstruct the
  *    feed from the `add` / `remove` actions (this is why plain appends
  *    stay exactly as cheap with CDF on).
  *
  * Scale shape: the reader materializes only the ACTION metadata of the
  * requested version range on the driver (bounded by files-changed-in-
  * range — the same bound split planning already pays); the change rows
  * themselves stream through ordinary distributed parquet scans with
  * partition values injected from the log, one scan per (version, kind)
  * group, unioned lazily. */
object ChangeDataFeed {

  val ChangeTypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val TimestampCol = "_commit_timestamp"

  def isEnabled(configuration: Map[String, String]): Boolean =
    configuration.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true"))

  /** Write one DML commit's change rows (`changeData` = table columns +
    * [[ChangeTypeCol]]) under `_change_data/v<version>-<id>/`,
    * hive-partitioned like the data files ([[DataFiles.write]]), and
    * return their `cdc` action lines and that directory, so a
    * conflict-checked retry can delete a losing attempt's change files.
    * Runs BEFORE the commit that references them (files without a commit
    * are invisible garbage, the same write-then-commit order the data
    * files use). */
  private[delta] def writeChangeFiles(snap: DeltaSnapshot, version: Long,
                                      changeData: DataFrame): (Seq[String], Path) = {
    val table = new Path(snap.tablePath)
    // commit-unique dir (consumers resolve cdc files through the LOG's
    // action paths, never the dir name): two processes racing DML at the
    // same version must not collide on the change-file paths, and a
    // conflict-checked retry re-renders its change files under the fresh
    // version without tripping over the lost attempt's directory
    val dir = s"_change_data/v$version-${java.util.UUID.randomUUID().toString.take(8)}"
    val partitionBy = snap.partitionColumns
    // disk form is physical on column-mapped tables ([[ColumnMapping]]);
    // `_change_type` itself is never mapped (spec: CDF columns are not)
    val diskPartitionBy = partitionBy.map(snap.physicalFieldName)
    val logical = changeData.select(
      snap.schema.map(f => col(f.name)) :+ col(ChangeTypeCol).cast(StringType): _*)
    val ordered = snap.physicalSchema match {
      case Some(ps) => ColumnMapping.renameToPhysical(logical,
        StructType(snap.schema.fields :+ StructField(ChangeTypeCol, StringType)),
        StructType(ps.fields :+ StructField(ChangeTypeCol, StringType)))
      case None => logical
    }
    val lines = DataFiles.write(ordered, table, dir, diskPartitionBy).map { w =>
      val pv = DeltaWriter.jsonMap(DeltaWriter.hivePartitionValues(w.path, diskPartitionBy))
      s"""{"cdc":{"path":${DeltaWriter.q(DeltaActions.encodePath(w.path))},"partitionValues":$pv,"size":${w.size},"dataChange":false}}"""
    }
    (lines, new Path(table, dir))
  }

  /** Action metadata the reader needs per commit (cdc is absent from the
    * replay [[DeltaActions.actionSchema]] — snapshot state never includes
    * it — so the feed reads with its own schema; remove carries its
    * optional deletionVector only to DETECT the unsupported foreign
    * shape). */
  private val cdfActionSchema = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", DeltaActions.deletionVectorType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", DeltaActions.deletionVectorType)))),
    StructField("cdc", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType)))),
    StructField("commitInfo", StructType(Seq(
      StructField("timestamp", LongType),
      StructField("inCommitTimestamp", LongType))))))

  /** The change feed of `[fromVersion, toVersion]` (inclusive, latest when
    * None — delta-spark's `table_changes` bounds): table columns +
    * `_change_type`, `_commit_version`, `_commit_timestamp`. Commits with
    * cdc actions read those files verbatim; commits without reconstruct
    * inserts from `add` and deletes from `remove` (the removed files are
    * still on disk until VACUUM — reading a range that VACUUM already
    * reclaimed fails, as it must). */
  def read(spark: SparkSession, tablePath: String, fromVersion: Long,
           toVersion: Option[Long] = None): DataFrame = {
    val log = LogListing.ofTable(spark, tablePath)
    val endSnap = DeltaSnapshotReader.snapshotAt(spark, log, toVersion)
    val end = endSnap.version
    require(isEnabled(endSnap.configuration),
      s"change data feed is not enabled on $tablePath (delta.enableChangeDataFeed)")
    require(fromVersion >= 0 && fromVersion <= end,
      s"version range [$fromVersion, $end] invalid for $tablePath")
    val commitFiles = log.commitsIn(fromVersion - 1, end)

    // The range's action rows. Under the replay byte gate they are decoded
    // on the driver ([[LogReplay.decodeRows]]) and the summary and the
    // per-version file sets below come from them through the Row forms of
    // the predicates — no Spark job, no query to plan, every set born
    // collected. Above it (a range spanning a 10M-file rewrite) the
    // ACTIONS stay on executors: the driver gets a per-version SUMMARY
    // (bounded by the range length, never by file count — the same 50k
    // lock the snapshot read path holds, DeltaScaleSpec), and each
    // per-version set reads its OWN commit JSON at execution, so a part
    // never re-scans the range.
    val sources = commitFiles.map { case (v, st) => v -> st.getPath }
    val onDriver = commitFiles.map(_._2.getLen).sum <= LogReplay.localMaxBytes(spark)
    val isCdc = col("cdc").isNotNull
    val isAdd = col("add.dataChange") <=> true
    val removedPath = when(col("remove.dataChange"), col("remove.path"))
    val isDvMove = (isAdd && col("add.deletionVector").isNotNull) ||
      ((col("remove.dataChange") <=> true) && col("remove.deletionVector").isNotNull)
    val ict = col("commitInfo.inCommitTimestamp")
    // the same predicates over a decoded row (add, remove, cdc, commitInfo, version)
    def flag(r: Row, i: Int) = !r.isNullAt(i) && r.getBoolean(i)
    def present(r: Row, i: Int, field: Int) = !r.isNullAt(i) && !r.getStruct(i).isNullAt(field)
    def rowIsCdc(r: Row) = !r.isNullAt(2)
    def rowIsAdd(r: Row) = !r.isNullAt(0) && flag(r.getStruct(0), 4)
    def rowRemovedPath(r: Row) = if (!r.isNullAt(1) && flag(r.getStruct(1), 1)) Option(r.getStruct(1).getString(0)) else None
    def rowIsDvMove(r: Row) = (rowIsAdd(r) && present(r, 0, 6)) ||
      (!r.isNullAt(1) && flag(r.getStruct(1), 1) && present(r, 1, 2))
    def rowIct(r: Row) = if (present(r, 3, 1)) Some(r.getStruct(3).getLong(1)) else None

    // physical → logical partition-key rename (foreign column-mapped
    // tables key cdc partitionValues by physical name, like add)
    val partKeyFix: Map[String, String] = endSnap.physicalSchema match {
      case Some(_) => endSnap.partitionColumns
        .map(c => endSnap.physicalFieldName(c) -> c).toMap
      case None => Map.empty
    }
    def fixKeys(c: Column): Column =
      if (partKeyFix.isEmpty) c
      else transform_keys(c, (k, _) => coalesce(element_at(typedLit(partKeyFix), k), k))
    def rowFixKeys(m: scala.collection.Map[String, String]): Map[String, String] =
      Option(m).map(_.map { case (k, v) => partKeyFix.getOrElse(k, k) -> v }.toMap).getOrElse(Map.empty)
    // one version's cdc files and data-changing adds, in [[DeltaFileSet.schema]]
    val nullDv = lit(null).cast(DeltaActions.deletionVectorType).as("deletionVector")
    val nullLong = (n: String) => lit(null).cast(LongType).as(n)
    val cdcFile = Seq(col("cdc.path").as("path"),
      fixKeys(col("cdc.partitionValues")).as("partitionValues"),
      coalesce(col("cdc.size"), lit(0L)).as("size"), lit(0L).as("modificationTime"),
      lit(null).cast(StringType).as("stats"),
      nullDv, nullLong("baseRowId"), nullLong("defaultRowCommitVersion"), nullLong("addedVersion"))
    val addFile = Seq(col("add.path").as("path"),
      fixKeys(col("add.partitionValues")).as("partitionValues"),
      coalesce(col("add.size"), lit(0L)).as("size"),
      coalesce(col("add.modificationTime"), lit(0L)).as("modificationTime"),
      col("add.stats").as("stats"),
      nullDv, nullLong("baseRowId"), nullLong("defaultRowCommitVersion"), nullLong("addedVersion"))
    def orZero(r: Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    def rowCdcFile(r: Row) = { val c = r.getStruct(2)
      AddFile(c.getString(0), rowFixKeys(c.getMap[String, String](1)), orZero(c, 2), 0L) }
    def rowAddFile(r: Row) = { val a = r.getStruct(0)
      AddFile(a.getString(0), rowFixKeys(a.getMap[String, String](1)), orZero(a, 2), orZero(a, 3),
        Option(a.getString(5))) }

    // driver placement: the decoded rows by version
    val localRows: Map[Long, Seq[Row]] =
      if (onDriver) LogReplay.decodeRows(spark, cdfActionSchema, sources).groupBy(_.getLong(4))
      else Map.empty
    val summary: Array[(Long, Long, Long, Long, Long, Option[Long])] =
      if (onDriver)
        localRows.toArray.map { case (v, rs) =>
          (v, rs.count(rowIsCdc).toLong, rs.count(rowIsAdd).toLong,
            rs.flatMap(rowRemovedPath).distinct.length.toLong, rs.count(rowIsDvMove).toLong,
            rs.flatMap(rowIct).maxOption)
        }.sortBy(_._1)
      else
        LogReplay.actions(spark, cdfActionSchema, sources).groupBy("version").agg(
          count(when(isCdc, 1)).as("nCdc"),
          count(when(isAdd, 1)).as("nAdd"),
          count_distinct(removedPath).as("nRemove"),
          count(when(isDvMove, 1)).as("nDvMove"),
          max(ict).as("ict"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getLong(5))))
          .sortBy(_._1)

    // DV'd file actions are remove+re-add of the same path — only cdc files
    // can describe such a commit's row changes (foreign DV writers that
    // skip them make the range unreadable, loudly)
    val cdcVersions: Set[Long] = summary.filter(_._2 > 0).map(_._1).toSet
    summary.find(s => s._5 > 0 && !cdcVersions.contains(s._1)).foreach { s =>
      throw new IllegalArgumentException(
        s"cannot reconstruct changes of version ${s._1} of $tablePath: the commit moves " +
          "deletion vectors but wrote no cdc files")
    }

    // in-commit timestamp (authoritative when present) else file mtime
    val commitAt = commitFiles.toMap
    val icts: Map[Long, Long] =
      summary.collect { case (v, _, _, _, _, Some(ict)) => v -> ict }.toMap

    // cdc parquet = data columns + _change_type; same partition layout
    val cdcSnapBase = endSnap.copy(
      schema = StructType(endSnap.schema.fields :+ StructField(ChangeTypeCol, StringType)),
      physicalSchema = endSnap.physicalSchema.map(ps =>
        StructType(ps.fields :+ StructField(ChangeTypeCol, StringType))))

    val outCols = endSnap.schema.map(f => col(f.name)) :+ col(ChangeTypeCol)
    def stamp(df: DataFrame, v: Long): DataFrame = df
      .withColumn(VersionCol, lit(v))
      .withColumn(TimestampCol, timestamp_millis(lit(icts.getOrElse(v, commitAt(v).getModificationTime))))

    // per-part file sets in [[DeltaFileSet.schema]] shape, derived from the
    // actions of THAT version's single commit JSON — file-level pruning, so
    // executing any part costs one small JSON read, not a filter over the
    // whole range. [[DeltaFileIndex]] then collects small sets for driver
    // planning and keeps large ones distributed (driverFileListThreshold,
    // `listMax`), so the feed's scale ceiling equals the scan path's.
    val listMax = DeltaFileSet.driverListThreshold(spark)
    def verActs(v: Long): DataFrame = LogReplay.actions(spark, cdfActionSchema, Seq(v -> commitAt(v).getPath))
    def fileSet(v: Long, rowPred: Row => Boolean, rowFile: Row => AddFile,
                pred: Column, file: Seq[Column]): DeltaFileSet =
      if (onDriver) DeltaFileSet.of(localRows(v).filter(rowPred).map(rowFile))
      else DeltaFileSet.fromDf(() => verActs(v).where(pred).select(file: _*), listMax)
    def cdcSet(v: Long): DeltaFileSet = fileSet(v, rowIsCdc, rowCdcFile, isCdc, cdcFile)
    def addSet(v: Long): DeltaFileSet = fileSet(v, rowIsAdd, rowAddFile, isAdd, addFile)

    val parts = Seq.newBuilder[DataFrame]
    summary.foreach { case (v, nCdc, nAdd, nRemove, _, _) =>
      if (nCdc > 0)
        parts += stamp(
          DeltaFileIndex.relation(spark, cdcSnapBase.copy(fileSet = cdcSet(v)))
            .select(outCols: _*), v)
      // a commit that wrote cdc files describes itself COMPLETELY there;
      // its file actions must not be double-counted (e.g. MERGE inserts)
      if (nAdd > 0 && nCdc == 0)
        parts += stamp(
          DeltaFileIndex.relation(spark, endSnap.copy(fileSet = addSet(v)))
            .withColumn(ChangeTypeCol, lit("insert")).select(outCols: _*), v)
      if (nRemove > 0 && nCdc == 0) {
        // the removed files' full AddFile records (partition values, DV
        // state) live in the PRE-commit snapshot — a distributed join
        // against the remove paths; the driver never sees the file list.
        // Consistency (every removed path was active at v-1) is guarded IN
        // the join via raise_error — no planning-time count() job per
        // remove-version. When the range parsed locally AND the prior
        // snapshot is already collected (small table), the lookup is a
        // driver-side map probe instead — for a consistent log only: a
        // remove of a file not active at v-1 takes the join, so both
        // placements fail the same way (raise_error, at execution).
        val prior = DeltaSnapshotReader.snapshotAt(spark, log, Some(v - 1))
        lazy val byPath = prior.files.map(f => f.path -> f).toMap
        lazy val removedPaths = localRows(v).flatMap(rowRemovedPath).distinct.sorted
        val removedSet: DeltaFileSet =
          if (onDriver && prior.fileSet.isCollected && removedPaths.forall(byPath.contains))
            DeltaFileSet.of(removedPaths.map(byPath).toSeq)
          else {
            val removedDf = () => {
              val rmPaths = verActs(v).select(removedPath.as("path"))
                .where(col("path").isNotNull).distinct()
              rmPaths.join(prior.fileSet.df, Seq("path"), "left")
                .withColumn("path", when(col("size").isNull,
                  raise_error(concat(lit(s"version $v of $tablePath removes file "),
                    col("path"), lit(s" that was not active at ${v - 1}"))))
                  .otherwise(col("path")))
                .select(DeltaFileSet.schema.fieldNames.map(col): _*)
            }
            DeltaFileSet.fromDf(removedDf, listMax)
        }
        parts += stamp(
          DeltaFileIndex.relation(spark, prior.copy(fileSet = removedSet))
            .withColumn(ChangeTypeCol, lit("delete")).select(outCols: _*), v)
      }
    }

    parts.result().reduceOption(_ unionByName _).getOrElse {
      val outSchema = StructType(endSnap.schema.fields ++ Seq(
        StructField(ChangeTypeCol, StringType),
        StructField(VersionCol, LongType, nullable = false),
        StructField(TimestampCol, TimestampType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
  }
}
