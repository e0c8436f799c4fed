package graft.delta

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, FileSourceConstantMetadataStructField, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark-native integration of the Delta snapshot: a custom [[FileIndex]]
  * over the transaction log's active-file set (the integration point
  * Spark's `HadoopFsRelation` scan machinery is designed around).
  *
  * With this index in the plan, everything downstream is stock Spark:
  * `PruneFileSourcePartitions` calls [[listFiles]] with the partition
  * predicates (log-level pruning — zero data files opened for pruned
  * partitions, the engine analog of reference A6), data filters are pushed
  * to parquet row groups, the scan is vectorized + whole-stage-codegen'd,
  * and partition values are injected from the log by the scan itself
  * (reference A10) — no per-row join needed.
  *
  * Scale shape: `listFiles` must ultimately return driver-side
  * `PartitionDirectory`s (Spark plans splits on the driver), but for a
  * large snapshot BOTH pruning passes — partition predicates and
  * stats-based data skipping — run DISTRIBUTED over the snapshot's
  * [[DeltaFileSet]] DataFrame, and only the surviving files (stripped of
  * their stats payload) come back. Small snapshots (≤
  * `spark.graft.delta.driverFileListThreshold` files, default 10k, read
  * when the snapshot's file set is made) take the driver path: zero Spark
  * jobs per listing. A replayed set whose crc records that it is small is
  * collected by the pass that builds it, so a cold read of a checkpointed
  * table costs 5 jobs in all: 1 for protocol + metaData, 2 to build and
  * collect the file set, 2 for the query itself. A snapshot advanced from
  * a cached one ([[DeltaSnapshotReader]]) is born collected, so a read
  * after a write costs only the query's 2. */
final class DeltaFileIndex(
    spark: SparkSession,
    snap: DeltaSnapshot) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(snap.tablePath))

  override def partitionSchema: StructType =
    StructType(snap.partitionColumns.map(c => snap.schema(c)))

  def dataSchema: StructType = snap.dataSchema

  /** Driver path for small (or already collected) file sets; the
    * distributed path pays an extra Spark job per plan, which only
    * amortizes once the file list itself is the scaling problem. */
  private def useDriverPath: Boolean = snap.fileSet.servedFromDriver

  /** Group files by partition-value tuple, values cast to the declared
    * partition types as Catalyst internal rows. A file's row-tracking
    * fields ride along as its file-constant `_metadata` values
    * ([[DeltaFileIndex.rowIdMetadata]]). */
  private def partitionDirs(files: Seq[AddFile]): Seq[(InternalRow, Seq[FileStatusWithMetadata])] = {
    val ps = partitionSchema
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // deterministic partition order: element-wise compare with explicit
    // null handling (nulls first) -- no separator-joined string, which could
    // collide with real values and forced a non-text byte into the source
    val nullsFirst: Ordering[String] = (a: String, b: String) =>
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else a.compareTo(b)
    files.groupBy(f => snap.partitionColumns.map(c => f.partitionValues.getOrElse(c, null)))
      .toSeq.sortBy(_._1)(Ordering.Implicits.seqOrdering(nullsFirst))
      .map { case (values, fs) =>
        val row = InternalRow.fromSeq(values.zip(ps).map { case (v, f) =>
          Cast(Literal(if (v == null) null else UTF8String.fromString(v), StringType),
            f.dataType, tz).eval(null)
        })
        val statuses = fs.map(f => FileStatusWithMetadata(
          new FileStatus(f.size, false, 1, 128L * 1024 * 1024, f.modificationTime,
            new Path(snap.absolutePath(f))), DeltaFileIndex.rowIdMetadata(f)))
        (row, statuses)
      }
  }

  /** Bind the conjoined partition filters to the partition schema (shared
    * by the driver and distributed paths; Catalyst expressions serialize). */
  private def boundPartitionFilter(partitionFilters: Seq[Expression]): Option[Expression] =
    if (partitionFilters.isEmpty || partitionSchema.isEmpty) None
    else {
      val ps = partitionSchema
      Some(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = ps.indexWhere(_.name == a.name)
          require(i >= 0, s"partition filter references non-partition column ${a.name}")
          BoundReference(i, ps(i).dataType, nullable = true)
      })
    }

  /** Distributed pruning: partition-predicate evaluation AND stats-based
    * data skipping run inside a map-partitions pass over the file-set
    * DataFrame; only survivors are collected, with their stats payload
    * dropped (split planning needs path/size/partition values only). */
  private def distributedPrune(partitionFilters: Seq[Expression],
                               dataFilters: Seq[Expression]): Seq[AddFile] = {
    val ps = partitionSchema
    val partCols = snap.partitionColumns
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val bound = boundPartitionFilter(partitionFilters)
    // one Cast per partition column over a single string slot, constructed
    // on the DRIVER (so session SQLConf semantics are captured) and
    // evaluated per file on executors
    val casts: Array[Expression] =
      ps.fields.map(f => Cast(BoundReference(0, StringType, nullable = true), f.dataType, tz))
    val dataF = dataFilters.toArray
    snap.fileSet.df.rdd.mapPartitions { it =>
      val pred = bound.map(Predicate.createInterpreted)
      val in = new Array[Any](1)
      it.map(DeltaFileSet.decode).filterNot(DeltaFileIndex.fullyDvDeleted).filter { f =>
        val pOk = pred.forall { p =>
          val vals = new Array[Any](partCols.size)
          var i = 0
          while (i < partCols.size) {
            val v = f.partitionValues.getOrElse(partCols(i), null)
            in(0) = if (v == null) null else UTF8String.fromString(v)
            vals(i) = casts(i).eval(InternalRow.fromSeq(in.toIndexedSeq))
            i += 1
          }
          java.lang.Boolean.TRUE == p.eval(InternalRow.fromSeq(vals.toIndexedSeq))
        }
        pOk && (dataF.isEmpty ||
          f.stats.flatMap(DataSkipping.parse)
            .forall(st => dataF.forall(e => DataSkipping.mayContain(st, e))))
      }.map(f => f.copy(stats = None))
    }.collect().toSeq.sortBy(_.path)
  }

  /** Stats JSON keys are PHYSICAL names on column-mapped tables (the
    * spec's rule; ours and delta-spark's writers both follow it) — rename
    * the filters' attributes to match, or min/max skipping silently
    * disables on every mapped table. */
  private def toPhysicalFilters(filters: Seq[Expression]): Seq[Expression] =
    if (snap.physicalSchema.isEmpty) filters
    else filters.map(_.transform {
      case a: AttributeReference if snap.schema.fieldNames.contains(a.name) =>
        a.withName(snap.physicalFieldName(a.name))
    })

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters0: Seq[Expression]): Seq[PartitionDirectory] = {
    val dataFilters = toPhysicalFilters(dataFilters0)
    if (!useDriverPath) {
      return partitionDirs(distributedPrune(partitionFilters, dataFilters))
        .map { case (row, files) => PartitionDirectory(row, files) }
    }
    val dirs = partitionDirs(snap.files.filterNot(DeltaFileIndex.fullyDvDeleted))
    val selected = boundPartitionFilter(partitionFilters) match {
      case None => dirs
      case Some(expr) =>
        val bound = Predicate.createInterpreted(expr)
        dirs.filter { case (row, _) => bound.eval(row) }
    }
    // Data skipping: drop files whose log-recorded min/max ranges prove the
    // data filters can never match (the protocol `stats` field; stock Spark
    // cannot do this — it only prunes partitions and parquet row groups).
    val skipped = if (dataFilters.isEmpty) selected else selected.map {
      case (row, files) =>
        (row, files.filter { st =>
          statsFor(st.getPath.toUri.getPath) match {
            case Some(stats) => dataFilters.forall(f => DataSkipping.mayContain(stats, f))
            case None => true
          }
        })
    }.filter(_._2.nonEmpty)
    skipped.map { case (row, files) => PartitionDirectory(row, files) }
  }

  // keyed by scheme-less absolute URI path, so both relative adds and the
  // absolute adds a shallow clone references resolve their stats
  // (driver-path only; the distributed path checks stats executor-side)
  private lazy val statsCache: Map[String, DataSkipping.FileStats] =
    snap.files.flatMap(f => f.stats.flatMap(DataSkipping.parse)
      .map(new Path(snap.absolutePath(f)).toUri.getPath -> _)).toMap

  private def statsFor(uriPath: String): Option[DataSkipping.FileStats] =
    statsCache.get(uriPath)

  override def inputFiles: Array[String] =
    if (snap.fileSet.isCollected) snap.files.map(snap.absolutePath).toArray
    else {
      val root = snap.tablePath
      snap.fileSet.paths.map { p =>
        if (p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*") || p.startsWith("/"))
          new Path(new java.net.URI(p)).toString
        else s"$root/${DeltaActions.decodePath(p)}"
      }.toArray
    }

  /** An index is one snapshot's: every read resolves its snapshot when it
    * is planned, so there is nothing to refresh (as delta-spark's index). */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = snap.fileSet.totalBytes
}

object DeltaFileIndex {

  /** DV-aware skipping: a file whose deletion vector's cardinality equals
    * its recorded `numRecords` has zero live rows — dropped at listing
    * time, never opened. (This engine's own writer turns full-file DV
    * deletes into plain removes; foreign writers — delta-spark — leave
    * such adds in place, so the skip matters for foreign tables.)
    * Executor-safe: pure JSON parse, referenced from the distributed
    * pruning closure. */
  def fullyDvDeleted(f: AddFile): Boolean =
    f.deletionVector.exists(dv => dv.cardinality > 0 &&
      f.stats.flatMap(DataSkipping.parse).flatMap(_.numRecords).contains(dv.cardinality))

  /** File-constant `_metadata` fields of the Delta scan: each file's
    * `baseRowId` and `defaultRowCommitVersion` (null where the add has
    * none), the per-file inputs of a row id, as delta-spark's scan
    * exposes them. Spark fills them per file from the index's
    * [[FileStatusWithMetadata]]; no join with the file set is needed. */
  val BaseRowId = "base_row_id"
  val DefaultRowCommitVersion = "default_row_commit_version"

  private def rowIdMetadata(f: AddFile): Map[String, Any] =
    (f.baseRowId.map(BaseRowId -> _) ++
      f.defaultRowCommitVersion.map(DefaultRowCommitVersion -> _)).toMap

  /** Parquet with the two row-tracking fields in its `_metadata` struct. */
  private final class DeltaParquetFormat extends ParquetFileFormat {
    override def metadataSchemaFields: Seq[StructField] = super.metadataSchemaFields ++
      Seq(BaseRowId, DefaultRowCommitVersion).map(FileSourceConstantMetadataStructField(_, LongType, true))
  }

  /** Snapshot → DataFrame through Spark's native scan stack. Under column
    * mapping the parquet scan runs with PHYSICAL field names and the final
    * projection renames back to logical (a positional struct cast — the
    * physical schema is a pure rename, so shapes line up); partition
    * columns already carry logical names (translated at snapshot build). */
  def relation(spark: SparkSession, snap: DeltaSnapshot): DataFrame = {
    val (df, cols) = baseScan(spark, snap)
    // deletion vectors (if any) drop their rows before the final projection
    DeletionVectors.applyToScan(spark, df, snap, cols)
  }

  /** LIVE-row scan (deletion vectors applied) that still exposes
    * `__fp`/`__ri` — the row-tracking read path (`_row_id` = the file's
    * `baseRowId` + `__ri`; DV'd rows drop out, their ids never reused) and
    * the address of each row the DML core's DV leg masks.
    * `extraPhysicalCols` are physical-only parquet columns to surface
    * (e.g. materialized row ids) — files lacking them read as null.
    * `rowIdInputs` also surfaces each row's file's [[BaseRowId]] and
    * [[DefaultRowCommitVersion]] as `__base_row_id` and
    * `__default_row_commit_version`. */
  def relationWithRowIndexLive(spark: SparkSession, snap: DeltaSnapshot,
                               extraPhysicalCols: Seq[StructField] = Nil,
                               rowIdInputs: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (df, cols) = baseScan(spark, snap, extraPhysicalCols)
    DeletionVectors.applyToScan(spark, df, snap,
      cols ++ extraPhysicalCols.map(f => col(s"`${f.name}`"))
        :+ col("_metadata.file_path").as("__fp")
        :+ col("_metadata.row_index").as("__ri")
        :++ (if (!rowIdInputs) Nil
             else Seq(BaseRowId, DefaultRowCommitVersion).map(m => col(s"_metadata.$m").as(s"__$m"))))
  }

  private def baseScan(spark: SparkSession, snap: DeltaSnapshot,
                       extraPhysicalCols: Seq[StructField] = Nil)
      : (DataFrame, Seq[org.apache.spark.sql.Column]) = {
    // id-mode column mapping matches parquet columns by field ID (the read
    // schema carries parquet.field.id metadata) — needs the session flag
    if (snap.configuration.get("delta.columnMapping.mode").contains("id"))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val index = new DeltaFileIndex(spark, snap)
    val rel = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = StructType(snap.physicalDataSchema.fields ++ extraPhysicalCols),
      bucketSpec = None,
      fileFormat = new DeltaParquetFormat(),
      options = Map.empty)(spark)
    // column order: HadoopFsRelation appends partition cols after data cols;
    // reorder to the table schema (renaming physical → logical on the way)
    import org.apache.spark.sql.functions.col
    val cols = snap.schema.map { f =>
      if (snap.partitionColumns.contains(f.name)) col(f.name)
      else {
        val phys = snap.physicalFieldName(f.name)
        if (!snap.needsLogicalRename(f.name)) col(f.name)
        else col(s"`$phys`").cast(f.dataType).as(f.name)
      }
    }
    (spark.baseRelationToDataFrame(rel), cols)
  }
}
