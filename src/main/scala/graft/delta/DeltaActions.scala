package graft.delta

import org.apache.spark.sql.types._

/** Public Delta Lake transaction-log protocol: action shapes.
  *
  * The reference delegates log replay to `io.delta.standalone.DeltaLog`
  * (reference: DeltaMetadataHandler.scala:9,99; build.sbt:37); no delta jar
  * is available offline, so this engine implements the protocol from
  * scratch against the published spec (JSON commit files + parquet
  * checkpoints under `_delta_log/`). Only the actions needed for snapshot
  * reconstruction are modeled; unknown actions/fields are ignored.
  */
object DeltaActions {

  /** `deletionVector` descriptor inside add/remove (protocol v3 DV tables).
    * Decoded and APPLIED at scan time ([[DeletionVectors.applyToScan]]):
    * rows whose index is set in the referenced bitmap are dropped by a
    * narrow post-scan filter on `_metadata.(file_path, row_index)`. */
  val deletionVectorType: StructType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  /** `add` action: a data file that is part of the table. `baseRowId` /
    * `defaultRowCommitVersion` are the row-tracking fields (writer feature
    * `rowTracking`): row i of the file has stable row id `baseRowId + i`
    * and commit provenance `defaultRowCommitVersion`. */
  val addType: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    StructField("deletionVector", deletionVectorType),
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType)))

  /** `remove` action: a tombstone for a previously added file. */
  val removeType: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType)))

  /** `metaData` action: table id, schema (Spark StructType JSON — the Delta
    * protocol stores Spark's schema JSON verbatim), partition columns. */
  val metaDataType: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("format", StructType(Seq(StructField("provider", StringType)))),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", MapType(StringType, StringType)),
    StructField("createdTime", LongType)))

  /** `protocol` action: reader/writer version gates. Version 3 tables name
    * their requirements explicitly in `readerFeatures` (table-features
    * protocol); the reader accepts v3 iff every listed feature is one it
    * understands. */
  val protocolType: StructType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))

  /** `txn` action: streaming-writer idempotency watermark per appId. */
  val txnType: StructType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType),
    StructField("lastUpdated", LongType)))

  /** `domainMetadata` action (writer feature `domainMetadata`): named
    * per-table metadata domains with latest-wins replay; a `removed=true`
    * tombstone deletes the domain. Row tracking keeps its high-water mark
    * in the `delta.rowTracking` domain. */
  val domainMetadataType: StructType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)))

  /** Top-level shape of one log line / one checkpoint row. */
  val actionSchema: StructType = StructType(Seq(
    StructField("add", addType),
    StructField("remove", removeType),
    StructField("metaData", metaDataType),
    StructField("protocol", protocolType),
    StructField("txn", txnType),
    StructField("domainMetadata", domainMetadataType)))

  /** `sidecar` action inside a V2 checkpoint's main file: a pointer to a
    * parquet file under `_delta_log/_sidecars/` holding add/remove actions
    * (the file actions are sharded out of the main checkpoint file). */
  val sidecarType: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("sizeInBytes", LongType),
    StructField("modificationTime", LongType)))

  /** `checkpointMetadata` action: marks a checkpoint file as V2 and names
    * the snapshot version it captures. */
  val checkpointMetadataType: StructType = StructType(Seq(
    StructField("version", LongType),
    StructField("tags", MapType(StringType, StringType))))

  /** Read schema for a V2 checkpoint MAIN file (UUID-named, json or
    * parquet): the usual actions plus sidecar pointers and the
    * checkpointMetadata marker. */
  val v2CheckpointFileSchema: StructType = StructType(actionSchema.fields ++ Seq(
    StructField("sidecar", sidecarType),
    StructField("checkpointMetadata", checkpointMetadataType)))

  /** Decode a percent-encoded log path to the on-disk form. The Delta spec
    * stores `add.path` URL-encoded (foreign writers emit e.g. `%20` for a
    * space in a partition value); a path that does not parse as a URI is
    * treated as already-raw (tolerance for legacy logs). */
  def decodePath(p: String): String =
    try {
      val d = new java.net.URI(p).getPath
      if (d == null) p else d
    } catch { case _: java.net.URISyntaxException => p }

  /** Percent-encode an on-disk relative path for the log (inverse of
    * [[decodePath]]; the multi-arg URI constructor quotes `%`, spaces and
    * non-ASCII, so encode∘decode is the identity on any disk name). */
  def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  /** Normalize a scan-side file path (`input_file_name()` /
    * `_metadata.file_path` — a possibly percent-encoded URI string) to the
    * decoded absolute FS path with scheme AND authority stripped; the
    * symmetric counterpart of [[DeltaSnapshot.normAbsolutePath]]. Executor-
    * safe (pure string work, no filesystem access). */
  def normUriPath(s: String): String =
    try {
      val p = new java.net.URI(s).getPath
      if (p == null || p.isEmpty) s else p
    } catch {
      case _: java.net.URISyntaxException =>
        s.replaceFirst("^[a-zA-Z0-9.+-]+://[^/]+", "").replaceFirst("^[a-zA-Z0-9.+-]+:/+", "/")
    }

  /** Log-side counterpart of [[normUriPath]]: normalize one `add.path`
    * against a pre-qualified table root. Executor-safe (the FS call to
    * qualify the root happens once, driver-side). */
  def normAbsolute(qualifiedTableRoot: String, addPath: String): String =
    if (addPath.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*") || addPath.startsWith("/"))
      new org.apache.hadoop.fs.Path(new java.net.URI(addPath)).toUri.getPath
    else s"$qualifiedTableRoot/${decodePath(addPath)}"
}

/** A Delta protocol capability this reader does not implement, raised as a
  * structured error (stable feature code + human detail) instead of a
  * generic require() failure, so callers can branch on the feature. */
final case class DeltaUnsupportedFeatureException(feature: String, detail: String)
  extends UnsupportedOperationException(s"[DELTA_UNSUPPORTED_FEATURE:$feature] $detail")

/** One active data file of a snapshot (mirror of the `add` action).
  * `stats` is the protocol's per-file statistics JSON
  * (`{"numRecords":…,"minValues":{…},"maxValues":{…}}`) used for
  * data skipping; absent for writers that don't record it. */
final case class AddFile(
    path: String,
    partitionValues: Map[String, String],
    size: Long,
    modificationTime: Long,
    stats: Option[String] = None,
    /** Deletion vector attached to this file (protocol v3); rows whose
      * index is set in the decoded bitmap are logically deleted. */
    deletionVector: Option[DeletionVectors.Descriptor] = None,
    /** Row tracking: row i of this file has stable row id `baseRowId + i`. */
    baseRowId: Option[Long] = None,
    /** Row tracking: commit version stamped on this file's rows. */
    defaultRowCommitVersion: Option[Long] = None,
    /** ENGINE-SIDE replay info, never serialized to the log or checkpoints:
      * the commit version whose add action won the per-path replay. It is
      * never below that version, and may be above it: a cold replay from a
      * checkpoint (or a compacted range) gives the adds it restates that
      * file's version, while a snapshot advanced from a cached one keeps
      * the version the cached one held (so it is ≤ the cold value).
      * Incremental clustering compares it against the recorded
      * clustered-at watermark; a raised value only ever OVER-selects files
      * to re-cluster, never under. */
    addedVersion: Option[Long] = None)

/** A `remove` tombstone that is still current (file deleted, not re-added).
  * Checkpoints must carry these until retention expiry so foreign readers /
  * VACUUM see the deletion. */
final case class RemoveTombstone(
    path: String,
    deletionTimestamp: Long,
    dataChange: Boolean)

/** Latest `txn` watermark per appId (streaming-writer idempotency state). */
final case class SetTransaction(
    appId: String,
    version: Long,
    lastUpdated: Option[Long])

/** The table's protocol action (latest wins); checkpoints must re-emit it
  * verbatim — writing a lower version would strip feature gates (e.g.
  * deletionVectors) that protect non-DV-aware readers. */
final case class DeltaProtocol(
    minReaderVersion: Int,
    minWriterVersion: Int,
    readerFeatures: Option[Seq[String]] = None,
    writerFeatures: Option[Seq[String]] = None)

/** A fully resolved Delta snapshot: what `DeltaLog.forTable(..).snapshot`
  * provides in the reference (DeltaMetadataHandler.scala:99-102,119) —
  * except the active-file set stays DISTRIBUTED ([[DeltaFileSet]]): the
  * driver holds only schema/protocol/configuration; file lists are pulled
  * back per-consumer, post-pruning, and only when actually needed. */
final case class DeltaSnapshot(
    tablePath: String,
    version: Long,
    schema: StructType,
    partitionColumns: Seq[String],
    fileSet: DeltaFileSet,
    /** Current remove tombstones, replayed lazily (∝ recently-removed
      * files — only checkpoint/VACUUM-style consumers should force it). */
    tombstonesF: () => Seq[RemoveTombstone] = () => Nil,
    /** Latest txn watermark per appId, replayed lazily (∝ #writers). */
    txnsF: () => Seq[SetTransaction] = () => Nil,
    configuration: Map[String, String] = Map.empty,
    /** Parquet-side schema under `delta.columnMapping.mode=name`: same
      * shape as [[schema]] with every (nested) field renamed to its
      * `delta.columnMapping.physicalName`. None when mapping is disabled. */
    physicalSchema: Option[StructType] = None,
    /** Latest protocol action (None for logs that never declared one). */
    protocol: Option[DeltaProtocol] = None,
    /** Live metadata domains (latest non-removed per domain), replayed
      * lazily (∝ #domains — bounded by features, not data). */
    domainMetadataF: () => Map[String, String] = () => Map.empty,
    /** The table's STABLE identity from the latest metaData action (the
      * protocol's `metaData.id` — minted once at creation, preserved by
      * every later metadata change) and its creation time. Carried so
      * re-publishing writers keep them stable and the crc state checksum
      * can echo a complete Metadata action (ADVICE r13). */
    metadataId: Option[String] = None,
    metadataCreatedTime: Option[Long] = None) {

  /** domain → configuration JSON of every live `domainMetadata` action. */
  lazy val domainMetadata: Map[String, String] = domainMetadataF()

  /** Full driver-side file list — LAZY: prefer [[fileSet]]'s distributed
    * forms; this exists for bounded/maintenance consumers and small tables. */
  def files: Seq[AddFile] = fileSet.collected

  lazy val tombstones: Seq[RemoveTombstone] = tombstonesF()

  lazy val txns: Seq[SetTransaction] = txnsF()

  /** This snapshot restricted to an explicit (already-materialized) file
    * subset — DML rewrite scopes, incremental batches. */
  def withFiles(fs: Seq[AddFile]): DeltaSnapshot = copy(fileSet = DeltaFileSet.of(fs))

  /** `delta.appendOnly=true` forbids any commit that removes data
    * (DELETE/UPDATE/MERGE/overwrite/RESTORE). */
  def isAppendOnly: Boolean =
    configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true"))

  /** Schema of the data files themselves: table schema minus partition
    * columns (partition values live in the log, not in the files — the
    * analog of the reference's literal injection,
    * DeltaRecordHandler.scala:109-114). */
  def dataSchema: StructType =
    StructType(schema.filterNot(f => partitionColumns.contains(f.name)))

  /** Parquet read schema: physical names (column mapping) minus partition
    * columns — matched positionally to the logical schema. */
  def physicalDataSchema: StructType = physicalSchema match {
    case Some(ps) => StructType(schema.fields.zip(ps.fields).collect {
      case (lf, pf) if !partitionColumns.contains(lf.name) => pf
    })
    case None => dataSchema
  }

  /** Physical (parquet) name of a logical top-level column. */
  def physicalFieldName(logical: String): String = physicalSchema match {
    case Some(ps) => ps.fields(schema.fieldIndex(logical)).name
    case None => logical
  }

  /** Whether a logical column needs the physical→logical rename cast on
    * read. True when the top-level name differs, OR when any NESTED name
    * inside differs (a nested RENAME COLUMN keeps the top-level physical
    * name equal to the logical one, but the struct/array/map interior
    * diverges — skipping the cast would surface stale nested names). */
  def needsLogicalRename(logical: String): Boolean = physicalSchema match {
    case Some(ps) =>
      val i = schema.fieldIndex(logical)
      val (lf, pf) = (schema.fields(i), ps.fields(i))
      pf.name != lf.name || !sameShapeNames(lf.dataType, pf.dataType)
    case None => false
  }

  /** Structural name equality (field names at every nesting level), with
    * metadata ignored — the mapped physical schema always carries mapping
    * metadata, which must not force a cast by itself. */
  private def sameShapeNames(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
        f.name == g.name && sameShapeNames(f.dataType, g.dataType)
      }
    case (ArrayType(x, _), ArrayType(y, _)) => sameShapeNames(x, y)
    case (MapType(xk, xv, _), MapType(yk, yv, _)) =>
      sameShapeNames(xk, yk) && sameShapeNames(xv, yv)
    case _ => true
  }

  /** Resolve one add path: the protocol allows RELATIVE paths (within the
    * table root — our writer's form, percent-encoded per the spec and
    * decoded here) or ABSOLUTE URIs (URL-encoded; what shallow clones
    * reference). */
  def absolutePath(f: AddFile): String =
    // scheme'd URI ("file:/…", "s3a://…") or rooted path = absolute; a
    // RELATIVE path cannot start with scheme: (":" is %-escaped by hive
    // path escaping) or "/"
    if (f.path.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*") || f.path.startsWith("/"))
      new org.apache.hadoop.fs.Path(new java.net.URI(f.path)).toString
    else s"$tablePath/${DeltaActions.decodePath(f.path)}"

  def absolutePaths(active: Seq[AddFile]): Seq[String] =
    active.map(absolutePath)

  /** Table root as a QUALIFIED absolute FS path (scheme+authority resolved
    * via the filesystem, then stripped): a relative `tablePath` or a
    * default-FS deployment (hdfs://nn:8020) must still produce keys that
    * match the scan side's fully-qualified `_metadata.file_path`. */
  lazy val qualifiedTableRoot: String = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    fs.makeQualified(p).toUri.getPath
  }

  /** Decoded, scheme/authority-less absolute path of one add — the
    * normalization used when matching log entries against scan-side paths
    * (`input_file_name()` / `_metadata.file_path`, normalized with the
    * symmetric [[DeltaActions.normUriPath]]). */
  def normAbsolutePath(f: AddFile): String =
    DeltaActions.normAbsolute(qualifiedTableRoot, f.path)
}

/** Column-mapping (`delta.columnMapping.mode` = `name` | `id`) helpers:
  * logical field names are display names; parquet files store data under
  * each field's `delta.columnMapping.physicalName` metadata, recursively
  * for nested types, and `add.partitionValues` is keyed by physical name.
  * In `id` mode files additionally carry parquet field IDs
  * (`delta.columnMapping.id`) and readers must match by ID, not name —
  * the physical schema then carries `parquet.field.id` metadata so Spark's
  * field-ID matching (spark.sql.parquet.fieldId.read.enabled) resolves
  * columns even when the parquet names differ from physicalName. */
object ColumnMapping {
  val PhysicalNameKey = "delta.columnMapping.physicalName"
  val ColumnIdKey = "delta.columnMapping.id"
  val ParquetFieldIdKey = "parquet.field.id"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Recursively rename a schema to physical names (shape preserved, so
    * positional struct casts translate physical rows back to logical).
    * With `withFieldIds`, each mapped field also carries the parquet
    * field-id metadata Spark's ID-based matching consumes. */
  def toPhysical(dt: DataType, withFieldIds: Boolean = false): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      val md =
        if (withFieldIds && f.metadata.contains(ColumnIdKey))
          new MetadataBuilder().withMetadata(f.metadata)
            .putLong(ParquetFieldIdKey, f.metadata.getLong(ColumnIdKey)).build()
        else f.metadata
      StructField(physicalName(f), toPhysical(f.dataType, withFieldIds), f.nullable, md)
    })
    case ArrayType(et, n) => ArrayType(toPhysical(et, withFieldIds), n)
    case MapType(k, v, n) => MapType(toPhysical(k, withFieldIds), toPhysical(v, withFieldIds), n)
    case other => other
  }

  /** Rename a LOGICAL DataFrame to the table's PHYSICAL shape for writing:
    * per top-level column a positional struct cast (shape-identical, so
    * nested renames ride along), aliased to the physical name with its
    * mapping metadata (in `id` mode that metadata carries
    * `parquet.field.id`, which Spark's parquet writer emits as field IDs).
    * Exact inverse of the read path's physical→logical projection.
    * `extra` columns (physical-only, e.g. materialized row ids) follow
    * unchanged. */
  def renameToPhysical(df: org.apache.spark.sql.DataFrame,
                       logical: StructType, physical: StructType,
                       extra: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(logical.fields.zip(physical.fields).map { case (lf, pf) =>
      col(s"`${lf.name}`").cast(pf.dataType).as(pf.name, pf.metadata)
    }.toSeq ++ extra.map(c => col(s"`$c`")): _*)
  }

  /** Assign column-mapping metadata to an UNMAPPED schema (the ALTER TABLE
    * upgrade): every (nested) struct field gets a fresh `id` and
    * `physicalName` := its CURRENT name — existing parquet files already
    * store data under those names, which is exactly why upgrading is a
    * metadata-only commit. Returns the mapped schema and the max id
    * assigned (`delta.columnMapping.maxColumnId`). */
  def assignMapping(schema: StructType): (StructType, Long) = {
    var nextId = 0L
    def walk(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        require(!f.metadata.contains(PhysicalNameKey),
          s"column ${f.name} already carries column-mapping metadata")
        nextId += 1
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(ColumnIdKey, nextId)
          .putString(PhysicalNameKey, f.name).build()
        StructField(f.name, walk(f.dataType), f.nullable, md)
      })
      case ArrayType(et, n) => ArrayType(walk(et), n)
      case MapType(k, v, n) => MapType(walk(k), walk(v), n)
      case other => other
    }
    val mapped = walk(schema).asInstanceOf[StructType]
    (mapped, nextId)
  }
}
