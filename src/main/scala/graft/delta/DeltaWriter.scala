package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.util.UUID

/** Minimal Delta transaction-log writer (public protocol, writer version 2).
  *
  * The reference is read-only; this writer exists (a) as the engine's Delta
  * sink, (b) to author the log fixtures the reader is tested against
  * (FIXTURES.md "Delta-log fixtures"). Data files land under a
  * commit-unique subdirectory first, so losing a version race never
  * collides on paths and a retry only rewrites the log entry. The adds
  * are built from what the write tasks report of their files
  * ([[DataFiles.write]]); a file a failed task attempt leaves behind is in
  * no commit, and only VACUUM removes it.
  *
  * Every commit runs through one transaction path ([[transact]], the shape
  * of delta-spark's OptimisticTransaction): per attempt it renders
  * `commitInfo` and the op's actions against the snapshot it commits on,
  * and claims `_delta_log/<version>.json` with one put-if-absent call to
  * the table's [[CommitOwner]]. A lost claim applies one of three conflict
  * rules: re-resolve and re-render (appends and overwrites), check the
  * winners against a declared read set with [[ConflictChecker]] (DML,
  * OPTIMIZE and the other rewrites, metadata and domain commits), or
  * surface the conflict (single-shot ops, v0 creation among them). A won
  * claim runs the post-commit hooks in one order: crc, UniForm export,
  * auto-checkpoint. Atomicity of the claim relies on the store's
  * no-overwrite rename or conditional put ([[LogStore]]), exactly as
  * Delta itself requires.
  */
object DeltaWriter {

  private val logger = org.apache.logging.log4j.LogManager.getLogger(getClass)

  import DeltaActions._

  /** Default tombstone retention (the protocol's
    * `delta.deletedFileRetentionDuration` default: 1 week). */
  val TOMBSTONE_RETENTION_MS: Long = 7L * 24 * 60 * 60 * 1000

  /** Writer table-features this writer actually implements (protocol v7
    * gating; the legacy minWriterVersion ladder maps onto the same set). */
  private val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "invariants", "checkConstraints", "deletionVectors",
      "generatedColumns", "changeDataFeed", "columnMapping", "identityColumns",
      "inCommitTimestamp", "rowTracking", "domainMetadata", "vacuumProtocolCheck",
      "clustering", "timestampNtz", "v2Checkpoint", "variantType",
      "allowColumnDefaults", "typeWidening", "collations-preview")

  /** Safety net for FUTURE rewrite paths: any commitRewrite on a tracked
    * table must either thread the materialized id columns through its
    * rewrite (`preservesRowIds = true` — as OPTIMIZE/ZORDER/DELETE/UPDATE/
    * MERGE/PURGE all do) or refuse loudly here; silently renumbering
    * stable row ids is never an option. */
  private def assertNoRewriteUnderRowTracking(snap: DeltaSnapshot, op: String): Unit =
    if (RowTracking.isEnabled(snap.configuration))
      throw DeltaUnsupportedFeatureException("rowTracking",
        s"$op on ${snap.tablePath} would rewrite files and renumber stable row ids; " +
          "this specific operation does not thread the materialized id columns " +
          "(preservesRowIds = false) and must be taught to, like the existing " +
          "OPTIMIZE/ZORDER/DELETE/UPDATE/MERGE/PURGE rewrite paths")

  /** Writer-side protocol gate (the Delta spec requires writers to REFUSE
    * tables whose protocol demands features they do not implement —
    * writing anyway silently corrupts): legacy minWriterVersion > 5
    * (identity columns, …) and unknown writerFeatures refuse loudly;
    * everything in [[SupportedWriterFeatures]] is actually honored on
    * every data-adding commit. */
  private def assertWritable(snap: DeltaSnapshot, op: String): Unit = {
    snap.protocol.foreach { p =>
      if (p.writerFeatures.isDefined) {
        val unknown = p.writerFeatures.map(_.toSet).getOrElse(Set.empty) -- SupportedWriterFeatures
        if (unknown.nonEmpty)
          throw DeltaUnsupportedFeatureException(unknown.toSeq.sorted.mkString(","),
            s"$op on ${snap.tablePath}: table requires writer features " +
              s"${unknown.toSeq.sorted.mkString(", ")}; this writer supports " +
              SupportedWriterFeatures.toSeq.sorted.mkString(", "))
      } else if (p.minWriterVersion > 6)
        throw DeltaUnsupportedFeatureException(s"minWriterVersion=${p.minWriterVersion}",
          s"$op on ${snap.tablePath}: minWriterVersion ${p.minWriterVersion} without " +
            "writerFeatures — the legacy ladder ends at 6; protocol 7 requires features")
      // the whole legacy ladder is implemented: v4 = generated columns +
      // change data feed ([[ChangeDataFeed.writeChangeFiles]]), v5 = column
      // mapping (physical disk form, [[ColumnMapping.renameToPhysical]]),
      // v6 = identity columns ([[IdentityColumns.prepare]])
    }
  }

  /** Append or overwrite `df` into the Delta table at `tablePath`.
    *
    * `txn` (streaming-writer idempotency) records a `SetTransaction`
    * watermark in the same commit — see [[writeIdempotent]].
    *
    * `mergeSchema` enables additive schema evolution on append: columns of
    * `df` not yet in the table are appended to the table schema via a new
    * `metaData` action in this commit; pre-existing files simply lack the
    * column and read back as null (Spark's parquet reader fills absent
    * columns natively — no rewrite, exactly Delta's evolution semantics).
    * Common columns must still match by type, and partition columns can
    * never change. */
  def write(df: DataFrame, tablePath: String, partitionBy: Seq[String] = Nil,
            mode: String = "append", txn: Option[SetTransaction] = None,
            mergeSchema: Boolean = false,
            identity: Seq[IdentityColumns.Spec] = Nil): Long = synchronized {
    require(mode == "append" || mode == "overwrite", s"mode=$mode")
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val logDir = new Path(table, "_delta_log")
    fs.mkdirs(logDir)

    val priorForPrep = latestSnapshot(spark, fs, tablePath)
    // Column defaults: a batch omitting a defaulted column gets the
    // declared value (whole-column granularity — see [[ColumnDefaults]]).
    val dataDef = priorForPrep match {
      case Some(snap) => ColumnDefaults.prepare(df, snap.schema)
      case None => df
    }
    // Generated columns: populate absent / validate present against the
    // TABLE schema (at creation, against df's own declared metadata).
    val dataGen = GeneratedColumns.prepare(dataDef,
      priorForPrep.map(_.schema).getOrElse(dataDef.schema), s"write to $tablePath")
    // Identity columns: declared at CREATION via `identity` (the columns
    // must be absent from the batch); on an existing table the specs live
    // in the schema metadata. prepare() assigns values / syncs the water
    // mark; an advanced mark republishes the schema in this commit.
    require(identity.isEmpty || priorForPrep.isEmpty,
      s"identity columns are declared at table creation only ($tablePath already exists)")
    identity.foreach(sp => require(!dataGen.columns.contains(sp.name),
      s"identity column ${sp.name} must be absent from the creation batch"))
    identity.foreach(sp => require(!partitionBy.contains(sp.name),
      s"identity column ${sp.name} cannot be a partition column"))
    val identitySchema: StructType = priorForPrep.map(_.schema).getOrElse(
      StructType(dataGen.schema.fields ++ identity.map(IdentityColumns.field)))
    val (data, idMarks) = IdentityColumns.prepare(dataGen, identitySchema, s"write to $tablePath")
    // CHECK constraints of the current table state gate the incoming batch
    // (checked before the data files are written; under optimistic
    // concurrency a racing constraint change wins or loses at the commit,
    // the same write-time semantics delta-spark has).
    priorForPrep.foreach(snap =>
      enforceConstraints(data, snap.configuration, s"write to $tablePath"))

    // Data files are written ONCE, under a commit-unique directory (any
    // relative path is a legal add.path per the protocol) — so losing the
    // optimistic-commit race below never collides on file paths and the
    // retry only has to re-resolve the log, not rewrite data.
    val commitDir = s"c-${UUID.randomUUID()}"
    // Column-mapped table: the DISK form uses physical names throughout —
    // parquet columns (+ field IDs in id mode), hive partition dirs, stats
    // keys, add.partitionValues keys — while every check above/below stays
    // logical. mergeSchema evolution would need fresh id assignment; loud
    // refusal instead of a silently wrong mapping.
    val mapped: Option[DeltaSnapshot] = priorForPrep.filter(_.physicalSchema.isDefined)
    mapped.foreach { snap =>
      require(!mergeSchema,
        s"mergeSchema evolution on column-mapped table $tablePath is not supported")
      if (snap.configuration.get("delta.columnMapping.mode").contains("id"))
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    }
    val diskPartitionBy = mapped match {
      case Some(snap) => partitionBy.map(snap.physicalFieldName)
      case None => partitionBy
    }
    val diskData = mapped match {
      case Some(snap) => ColumnMapping.renameToPhysical(data, snap.schema, snap.physicalSchema.get)
      case None => data
    }
    val dataSchema = mapped match {
      case Some(snap) => snap.physicalDataSchema
      case None => org.apache.spark.sql.types.StructType(
        data.schema.filterNot(f => partitionBy.contains(f.name)))
    }
    val adds = DataFiles.write(diskData, table, commitDir, diskPartitionBy, Some(DataFiles.statColumns(
      dataSchema, priorForPrep.map(_.configuration).getOrElse(Map.empty)))).map(_.toAdd(diskPartitionBy))

    // Optimistic concurrency, re-render rule: a losing attempt re-resolves
    // the latest snapshot and renders again, re-running every validation
    // below against it. Appends never logically conflict with other
    // appends or overwrites; overwrite recomputes its removes against the
    // fresh snapshot each attempt (last-writer-wins, Delta's own semantics).
    transact(spark, tablePath, priorForPrep, "WRITE", Map("mode" -> mode), Rerender) { a =>
      val prior = a.cur
      prior.foreach(assertWritable(_, "WRITE"))
      // the data files were written under the mapping seen BEFORE the
      // commit race — a concurrent mapping change invalidates them
      require(prior.flatMap(_.physicalSchema).map(_.json) ==
        mapped.flatMap(_.physicalSchema).map(_.json),
        s"concurrent column-mapping change on $tablePath — retry the write")

      // schema enforcement: an append/overwrite must match the table schema
      // (names + types, nullability ignored) — a silent mismatch would
      // corrupt every later read. With mergeSchema, NEW columns are allowed
      // and widen the table schema instead.
      var evolvedSchema: Option[org.apache.spark.sql.types.StructType] = None
      prior.foreach { snap =>
        def shape(st: org.apache.spark.sql.types.StructType) =
          st.fields.map(f => (f.name, stripMeta(f.dataType))).toSeq
        require(partitionBy == snap.partitionColumns,
          s"partitioning mismatch writing to $tablePath: table=${snap.partitionColumns} data=$partitionBy")
        if (mergeSchema) {
          val tableTypes = snap.schema.fields.map(f => f.name -> stripMeta(f.dataType)).toMap
          data.schema.fields.foreach { f =>
            tableTypes.get(f.name).foreach { t =>
              require(t == stripMeta(f.dataType),
                s"schema evolution cannot change column ${f.name}: table=$t data=${f.dataType}")
            }
          }
          val newFields = data.schema.fields.filterNot(f => tableTypes.contains(f.name))
            .map(_.copy(nullable = true)) // absent in old files → must be nullable
          // an evolved COLLATED column on a table whose protocol predates
          // collations would smuggle `__COLLATIONS` metadata past readers
          // un-gated — refuse rather than silently upgrade mid-append
          // (create the table with the collated column, or ALTER first)
          newFields.filter(f => hasCollation(f.dataType)).foreach { f =>
            require(snap.protocol.exists(_.writerFeatures
              .exists(_.contains("collations-preview"))),
              s"schema evolution cannot add collated column ${f.name} to " +
                s"$tablePath: table protocol lacks collations-preview")
          }
          if (newFields.nonEmpty)
            evolvedSchema = Some(org.apache.spark.sql.types.StructType(
              snap.schema.fields ++ newFields))
        } else {
          require(shape(data.schema) == shape(snap.schema),
            s"schema mismatch writing to $tablePath:\n  table: ${snap.schema.simpleString}\n  data:  ${data.schema.simpleString}")
        }
      }

      val removes: Seq[AddFile] = if (mode == "overwrite") prior.map(_.files).getOrElse(Nil) else Nil
      prior.foreach { snap =>
        require(removes.isEmpty || !snap.isAppendOnly,
          s"table $tablePath is delta.appendOnly=true: overwrite is forbidden")
      }

      // exactly-once gate INSIDE the retry loop: a racing writer of the
      // SAME streaming app may have landed this very micro-batch while we
      // lost the version race — blind re-append here would be the
      // duplicate-delivery bug the txn mechanism exists to prevent
      txn.foreach { t =>
        if (prior.exists(_.txns.exists(x => x.appId == t.appId && x.version >= t.version)))
          throw new TxnAlreadyAppliedException(
            s"txn ${t.appId}:${t.version} already applied to $tablePath by a concurrent writer")
      }

      // identity values were assigned against priorForPrep's water mark —
      // a racing foreign commit may have advanced it, so the assignment
      // must not survive the retry loop
      require(idMarks.isEmpty || prior.map(_.version) == priorForPrep.map(_.version),
        s"concurrent commit while assigning identity values on $tablePath — retry the write")
      val lines = Seq.newBuilder[String]
      if (a.version == 0L) {
        // legacy protocol ladder: identity columns ⇒ 6, generated ⇒ 4.
        // READER-visible types (TIMESTAMP WITHOUT TIME ZONE, which naive
        // readers would shift, and VARIANT, whose binary encoding naive
        // readers cannot decode) are gated behind their reader+writer
        // feature pairs, so such a creation jumps straight to the
        // table-features protocol.
        val legacyV =
          if (identity.nonEmpty) 6
          else if (GeneratedColumns.of(data.schema).nonEmpty) 4
          else 2
        val typeFeatures =
          (if (hasTimestampNtz(identitySchema)) Seq("timestampNtz") else Nil) ++
            (if (hasVariant(identitySchema)) Seq("variantType") else Nil)
        // writer-only features a creation-time schema can demand.
        // Collations are writer-gated ONLY (the public collated-string
        // RFC): the data is plain strings and the collation lives in the
        // schema's `__COLLATIONS` field metadata (Spark's own StructType
        // JSON convention, shared with Delta), so a reader that predates
        // the feature still reads correct bytes with binary-collation
        // comparison semantics — no reader-version raise.
        val writerOnly =
          (if (ColumnDefaults.of(identitySchema).nonEmpty) Seq("allowColumnDefaults") else Nil) ++
            (if (hasCollation(identitySchema)) Seq("collations-preview") else Nil)
        lines +=
          (if (typeFeatures.nonEmpty)
            protocolJson(DeltaProtocol(3, 7, Some(typeFeatures),
              Some((legacyWriterFeatures(legacyV) ++ typeFeatures ++ writerOnly).distinct)))
          else if (writerOnly.nonEmpty)
            protocolJson(DeltaProtocol(1, 7, None,
              Some((legacyWriterFeatures(legacyV) ++ writerOnly).distinct)))
          else s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":$legacyV}}""")
        lines += metaDataJson(None,
          IdentityColumns.withWatermarks(identitySchema, idMarks).json, partitionBy)
      }
      evolvedSchema.foreach { st =>
        // additive evolution: re-declare the table schema in this commit
        // (replay takes the latest metaData action); table properties
        // carry over — dropping them would wipe e.g. delta.appendOnly
        lines += metaDataJson(prior,
          IdentityColumns.withWatermarks(st, idMarks).json, partitionBy,
          prior.map(_.configuration).getOrElse(Map.empty))
      }
      if (a.version > 0L && idMarks.nonEmpty && evolvedSchema.isEmpty) {
        // value-assigning commit: republish the schema with the advanced
        // identity water mark (spec: the mark lives in metaData)
        lines += metaDataJson(prior,
          IdentityColumns.withWatermarks(prior.get.schema, idMarks).json, partitionBy,
          prior.map(_.configuration).getOrElse(Map.empty))
      }
      // removes only exist when overwriting an existing table: prior is Some
      val now = System.currentTimeMillis()
      removes.foreach(f => lines += removeLine(physical(prior.get, f), now, dataChange = true))
      // Row tracking: mint a fresh id range per add above the table's
      // high-water mark and advance the mark in the SAME commit (inside the
      // retry loop — a racing commit moves the mark, so assignment must
      // re-resolve against the fresh snapshot).
      val trackedAdds = prior match {
        case Some(p) if RowTracking.isEnabled(p.configuration) =>
          val (assigned, hwm) = RowTracking.assign(adds, RowTracking.highWaterMark(p), a.version)
          lines += domainLine(RowTracking.Domain, RowTracking.hwmConfigJson(hwm))
          assigned
        case _ => adds
      }
      trackedAdds.foreach(f => lines += addLine(f, dataChange = true))
      txn.foreach { t =>
        val lu = t.lastUpdated.map(v => s""","lastUpdated":$v""").getOrElse("")
        lines += s"""{"txn":{"appId":${q(t.appId)},"version":${t.version}$lu}}"""
      }
      lines.result()
    }
  }

  /** Exactly-once append for a streaming writer: if the table has already
    * recorded `appId`'s watermark at or beyond `txnVersion` (a retried
    * micro-batch after failure/restart), the write is skipped. Otherwise
    * the data AND the new watermark commit atomically in one log entry —
    * the Delta protocol's `txn` mechanism, which is what makes
    * foreachBatch delivery exactly-once instead of at-least-once. */
  def writeIdempotent(df: DataFrame, tablePath: String, partitionBy: Seq[String],
                      appId: String, txnVersion: Long): Option[Long] = synchronized {
    val alreadyApplied =
      try DeltaSnapshotReader.snapshot(df.sparkSession, tablePath)
        .txns.exists(t => t.appId == appId && t.version >= txnVersion)
      catch { case _: IllegalArgumentException => false } // table doesn't exist yet
    if (alreadyApplied) None
    else
      try Some(write(df, tablePath, partitionBy, "append",
        txn = Some(SetTransaction(appId, txnVersion, Some(System.currentTimeMillis())))))
      catch {
        // lost the race to a concurrent writer of the same app that landed
        // this very batch — exactly-once means reporting "already applied",
        // not failing (the orphaned data files are VACUUM's job)
        case _: TxnAlreadyAppliedException => None
      }
  }

  /** OPTIMIZE: compact small files. Files are bin-packed per partition with
    * [[SplitPlanner]]; every bin with more than one file is rewritten as a
    * single file and committed as adds+removes with `dataChange=false`
    * semantics (same rows, new layout). DV-carrying inputs participate and
    * are PURGED (delta-spark's semantics): the bin read drops masked rows
    * and the output sheds the vector; a lone DV file qualifies once its
    * deleted-rows ratio reaches the purge bar — resolved explicit argument
    * > `delta.optimize.maxDeletedRowsRatio` table property > 0.05
    * (delta-spark's default). All bins are written by one Spark job and
    * committed through [[commitRewrite]], the rewrite path of every
    * layout and row-level rewrite. Returns the new version, or None if
    * nothing needed compaction. The table-maintenance answer to the
    * small-file problem that file-per-write streaming ingest creates. */
  def optimize(spark: SparkSession, tablePath: String,
               targetBytes: Long = 128L * 1024 * 1024,
               maxDeletedRowsRatio: Option[Double] = None,
               where: Option[Column] = None): Option[Long] = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "OPTIMIZE")
    // OPTIMIZE ... WHERE (delta-spark's partition-scoped maintenance): the
    // predicate must touch partition columns only; the scope restriction
    // is a DISTRIBUTED semi-join of the add frame against the pruned
    // partition-value projection — never a driver file list
    where.foreach { w =>
      require(ConflictChecker.partitionScope(spark, snap, w).isDefined,
        s"OPTIMIZE WHERE supports partition-column predicates only " +
          s"(partition columns: ${snap.partitionColumns.mkString(", ")}): $w")
    }
    val resolvedRatio: Double = maxDeletedRowsRatio.getOrElse(
      snap.configuration.get("delta.optimize.maxDeletedRowsRatio").map { v =>
        val d = java.lang.Double.parseDouble(v.trim)
        require(d >= 0.0 && d <= 1.0,
          s"delta.optimize.maxDeletedRowsRatio must be in [0,1], got $v")
        d
      }.getOrElse(0.05))
    // DV-carrying files PARTICIPATE and are PURGED (delta-spark's
    // OPTIMIZE semantics): the bin read drops their masked rows (the
    // DV-aware relation), so the rewrite carries only live rows and the new
    // file sheds the vector — layout-only, logical content unchanged. A
    // multi-file bin always qualifies (the rewrite is happening anyway);
    // a LONE file qualifies only when its deleted-rows ratio reaches
    // `maxDeletedRowsRatio` (delta-spark's delta.optimize.maxDeletedRowsRatio
    // default 0.05) — a 1-row mask must not trigger a GB rewrite, and a
    // purged file never re-qualifies, so the extra rewrite happens once.
    // Bin-packing runs DISTRIBUTED — a shuffle by partition tuple, greedy
    // packing on executors — and the driver collects only the CHOSEN
    // rewrite groups. A mostly-compacted 10M-file table plans its
    // maintenance without materializing 10M adds on the driver; the
    // collected set is bounded by the files actually moving.
    val tb = targetBytes
    val ratioBar = resolvedRatio
    val scopedDf = where match {
      case None => snap.fileSet.df
      case Some(w) =>
        val keep = DeltaSnapshotReader.partitionValuesDf(spark, snap)
          .filter(w).select(col("__path").as("path"))
        snap.fileSet.df.join(keep, Seq("path"), "left_semi")
    }
    val bins: Seq[Seq[AddFile]] =
      scopedDf
        .rdd.map(DeltaFileSet.decode)
        .groupBy(_.partitionValues)
        .flatMap { case (_, files) =>
          SplitPlanner.plan(files.toSeq, maxSplitBytes = tb)
            .filter { split =>
              split.files.size > 1 || split.files.exists { f =>
                f.deletionVector.exists { d =>
                  f.stats.flatMap(DataSkipping.parse).flatMap(_.numRecords)
                    .exists(n => n > 0 && d.cardinality.toDouble / n >= ratioBar)
                }
              }
            }
            .map(_.files)
        }
        .collect().toSeq
        // deterministic bin order across retries (executor grouping order
        // is not stable): sort by each bin's first (largest) file
        .sortBy(_.head.path)
    if (bins.isEmpty) return None

    // one write job for every bin: the union concatenates its children's
    // partitions and each bin coalesces to one, so each bin is one write
    // task and one file, with no shuffle. The read is REORG PURGE's: live
    // rows only (a DV input sheds its vector), ids riding along on tracked
    // tables; the new files' stats come from their write tasks, exact
    // after a purge where the inputs' stats would overstate numRecords.
    val removed = bins.flatten
    val newData = bins.map(relationOverWithIds(spark, snap, _).coalesce(1)).reduce(_ union _)
    Some(commitRewrite(spark, snap, removed, Some(newData), dataChange = false,
      operation = "OPTIMIZE",
      extraDataCols = trackedMatCols(snap).toSeq.flatMap(c => Seq(c._1, c._2)),
      preservesRowIds = trackedMatCols(snap).isDefined,
      readSet = layoutReadSet(removed)))
  }

  /** OPTIMIZE … ZORDER BY: rewrite the table's files with rows clustered
    * along a Morton (bit-interleaved) space-filling curve over `cols`, so
    * every file's min/max stats become selective on ALL clustered columns
    * at once — multi-dimensional data skipping, where plain sorting only
    * helps the leading column. Layout-only (`dataChange=false`).
    *
    * Scale design: bins are computed from global min/max (one small agg
    * job), the curve key is pure codegen'd bit arithmetic, and the rewrite
    * is a single `repartitionByRange` on the curve key (range shuffle →
    * each output file covers a compact curve segment). */
  def zorder(spark: SparkSession, tablePath: String, cols: Seq[String],
             targetBytes: Long = 128L * 1024 * 1024, bits: Int = 8,
             where: Option[Column] = None): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    if (snap.fileSet.count == 0L) return snap.version
    where match {
      case None =>
        // whole-table rewrite: plan and commit from the DISTRIBUTED file
        // set (remove lines stream from fileSet.df) — the driver never
        // holds the full add list (VERDICT r16 #1)
        zorderRewrite(spark, snap, None, cols, targetBytes, bits)
      case Some(w) =>
        // partition-scoped ZORDER (OPTIMIZE ... WHERE ... ZORDER BY):
        // rewrite only the pruned partitions' files — the collected set is
        // bounded by the scope, exactly the partial-maintenance use case
        require(ConflictChecker.partitionScope(spark, snap, w).isDefined,
          s"OPTIMIZE WHERE supports partition-column predicates only " +
            s"(partition columns: ${snap.partitionColumns.mkString(", ")}): $w")
        val scoped = DeltaSnapshotReader.prunedFiles(spark, snap, w)
        if (scoped.isEmpty) snap.version
        else zorderRewrite(spark, snap, Some(scoped), cols, targetBytes, bits)
    }
  }

  /** Morton-cluster a snapshot's files along `cols` in one layout commit
    * (dataChange=false): the full-table [[zorder]] passes `files = None`
    * (WHOLE active set — planned and committed from the distributed file
    * frame, never driver-collected); incremental clustering
    * ([[Clustering.optimize]]) passes `Some(subset)` — only the files
    * added since the last clustering commit. Curve bins are computed from
    * the rewritten slice's value ranges — any deterministic clustering of
    * the slice preserves stats-skipping quality; runs merge on the next
    * full rewrite. */
  private[delta] def zorderRewrite(spark: SparkSession, snap: DeltaSnapshot,
                                   files: Option[Seq[AddFile]], cols: Seq[String],
                                   targetBytes: Long = 128L * 1024 * 1024,
                                   bits: Int = 8,
                                   extraActions: Long => Seq[String] = _ => Nil,
                                   readSetOverride: Option[ConflictChecker.TxnReadSet] = None): Long = synchronized {
    require(cols.nonEmpty && bits >= 1 && bits * cols.size <= 62,
      s"zorder: need 1+ cols and bits*ncols <= 62 (got $cols, $bits)")
    cols.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"unknown column $c")
      require(!snap.partitionColumns.contains(c), s"$c is a partition column")
      require(snap.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zorder on non-numeric column $c not supported")
    }
    // Row-tracked tables: cluster through the id-carrying scan and WRITE
    // the ids into the rewritten files (same preservation mechanism as
    // OPTIMIZE) — the curve shuffle moves rows freely, the ids ride along.
    val matCols = RowTracking.materializedCols(snap.configuration)
      .filter(_ => RowTracking.isEnabled(snap.configuration))
    val scanSnap = files.map(snap.withFiles).getOrElse(snap)
    val rel =
      if (matCols.isDefined) snapRelationWithIds(spark, scanSnap)
      else DeltaFileIndex.relation(spark, scanSnap)

    // [lo, hi] per clustered column over the rewritten slice (one tiny agg)
    val ranges = rel.agg(
      min(col(cols.head)).cast("double").as("lo0"),
      (max(col(cols.head)).cast("double").as("hi0") +:
        cols.drop(1).zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).cast("double").as(s"lo${i + 1}"),
            max(col(c)).cast("double").as(s"hi${i + 1}"))
        }): _*).head()

    val buckets = 1L << bits
    val binCols: Seq[Column] = cols.zipWithIndex.map { case (c, i) =>
      val lo = if (ranges.isNullAt(2 * i)) 0.0 else ranges.getDouble(2 * i)
      val hi = if (ranges.isNullAt(2 * i + 1)) 0.0 else ranges.getDouble(2 * i + 1)
      if (hi <= lo) lit(0L)
      else least(lit(buckets - 1), greatest(lit(0L),
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(buckets.toDouble)).cast("long")))
    }
    val n = cols.size
    var zkey: Column = lit(0L)
    for (b <- 0 until bits; i <- 0 until n) {
      val bit = shiftright(binCols(i), b).bitwiseAND(lit(1L))
      zkey = zkey.bitwiseOR(shiftleft(bit, b * n + i))
    }

    // total bytes: summed driver-side for a materialized subset, from the
    // distributed count/bytes aggregate for the whole table
    val totalBytes = files.map(_.map(_.size).sum)
      .getOrElse(snap.fileSet.countBytesDigest._2)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val clustered = rel.withColumn("__z", zkey)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commitRewrite(spark, snap, files.getOrElse(Nil), Some(clustered), dataChange = false,
      operation = "OPTIMIZE", opParams = Map("zOrderBy" -> cols.mkString(",")),
      extraDataCols = matCols.toSeq.flatMap(c => Seq(c._1, c._2)),
      preservesRowIds = matCols.isDefined,
      extraActions = extraActions,
      removeAllFromSnap = files.isEmpty,
      readSet = readSetOverride.getOrElse(files.map(layoutReadSet).getOrElse(
        ConflictChecker.TxnReadSet(readsData = false, partitionPredicate = None,
          readFiles = Set.empty, removedPaths = Set.empty, wholeTableFiles = true))))
  }

  /** INSERT OVERWRITE … REPLACE WHERE: atomically replace exactly the rows
    * matching `condition` with `data` — the partition/predicate-scoped
    * backfill delta-spark exposes as `.option("replaceWhere", …)`. Every
    * incoming row must itself satisfy the predicate (refused otherwise —
    * silently writing rows outside the replaced region would corrupt the
    * scope contract). CoW: only files containing matching rows are
    * rewritten; their non-matching rows survive. Tracked tables keep
    * survivor ids and mint fresh ranges for the new rows; CDF tables emit
    * delete + insert change rows. */
  def replaceWhere(spark: SparkSession, tablePath: String, data: DataFrame,
                   condition: Column): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "REPLACE WHERE")
    require(IdentityColumns.of(snap.schema).isEmpty,
      "REPLACE WHERE on an identity table is not supported — delete + write")
    require(shapeOf(data.schema) == shapeOf(snap.schema),
      s"replaceWhere data schema must match table:\n  table: ${snap.schema.simpleString}\n  data: ${data.schema.simpleString}")
    val src = data.select(snap.schema.map(f => col(f.name)): _*)
    val outside = src.filter(!coalesce(condition, lit(false))).limit(1).collect()
    require(outside.isEmpty,
      s"replaceWhere data contains rows NOT matching the predicate " +
        s"(e.g. ${outside.headOption.getOrElse("")}) — the incoming batch must " +
        "stay inside the replaced region")
    val affected = affectedFiles(spark, snap, rel => rel.filter(condition))
    val kept = relationOverWithIds(spark, snap, affected)
      .filter(!coalesce(condition, lit(false)))
    val matTrack = trackedMatCols(snap)
    val incoming = matTrack match {
      case Some((mi, mv)) => src
        .withColumn(mi, lit(null).cast("long"))
        .withColumn(mv, lit(null).cast("long"))
      case None => src
    }
    val changes =
      if (!ChangeDataFeed.isEnabled(snap.configuration)) None
      else Some(relationOver(spark, snap, affected)
        .filter(coalesce(condition, lit(false)))
        .withColumn(ChangeDataFeed.ChangeTypeCol, lit("delete"))
        .unionByName(src.withColumn(ChangeDataFeed.ChangeTypeCol, lit("insert"))))
    commitRewrite(spark, snap, affected, Some(kept.unionByName(incoming)),
      dataChange = true, operation = "WRITE",
      opParams = Map("mode" -> "Overwrite", "replaceWhere" -> condition.toString),
      changeData = changes,
      extraDataCols = matTrack.toSeq.flatMap(c => Seq(c._1, c._2)),
      preservesRowIds = matTrack.isDefined,
      readSet = dmlReadSet(spark, snap, affected, Some(condition)))
  }

  /** DYNAMIC PARTITION OVERWRITE (delta-spark's
    * `partitionOverwriteMode=dynamic`): atomically replace exactly the
    * partitions present in the incoming batch — whole partitions, rows
    * absent from the batch included — leaving every other partition's
    * files untouched. The driver materializes only the DISTINCT partition
    * tuples of the batch (bounded by the number of touched partitions,
    * the same bound delta-spark's implementation carries), builds the
    * partition predicate from them, and delegates to [[replaceWhere]] —
    * whose probe partition-prunes, so untouched partitions are never
    * listed, let alone read. */
  def overwriteDynamic(spark: SparkSession, tablePath: String, data: DataFrame): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    require(snap.partitionColumns.nonEmpty,
      s"dynamic partition overwrite on unpartitioned table $tablePath — use mode=overwrite")
    val pcols = snap.partitionColumns
    val touched = data.select(pcols.map(col): _*).distinct().collect()
    require(touched.nonEmpty,
      "dynamic partition overwrite with an empty batch replaces nothing — refused " +
        "(an accidental empty source must not silently no-op a backfill)")
    val cond = touched.map { r =>
      pcols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    replaceWhere(spark, tablePath, data, cond)
  }

  /** SHALLOW CLONE: create a new Delta table at `targetPath` whose v0 log
    * REFERENCES the source snapshot's data files by absolute URI — zero
    * data copied, metadata/protocol/stats carried over. Mutating the clone
    * (append/DML) never touches the source: rewrites land under the clone
    * root and removes only drop references. Deletion vectors survive as
    * absolute-path (`p`) descriptors. Standard caveat applies: VACUUM on
    * the source can delete files the clone still references. */
  def shallowClone(spark: SparkSession, sourcePath: String, targetPath: String): Long = synchronized {
    val src = DeltaSnapshotReader.snapshot(spark, sourcePath)
    val target = new Path(targetPath)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(new Path(target, "_delta_log")),
      s"clone target already a Delta table: $targetPath")
    val srcFs = new Path(sourcePath).getFileSystem(spark.sessionState.newHadoopConf())
    transact(spark, targetPath, None, "CLONE", Map("source" -> sourcePath), Surface,
        config = Some(src.configuration)) { _ =>
      val adds = src.files.map { f =>
        // re-anchor table-relative (u) DVs as absolute paths; inline stays
        val dv = f.deletionVector.map { d =>
          if (d.storageType != "u") d
          else d.copy(storageType = "p",
            pathOrInlineDv = srcFs.makeQualified(d.filePath(sourcePath).get).toUri.toString)
        }
        addLine(physical(src, f).copy(
          path = srcFs.makeQualified(new Path(src.absolutePath(f))).toUri.toString,
          deletionVector = dv), dataChange = true)
      }
      // live metadata domains carry into the clone (row-tracking high-water
      // mark, …) — a tracked clone must keep minting ids above the source's
      Seq(protocolJson(src.protocol.getOrElse(DeltaProtocol(1, 2))),
        metaDataJson(None, src.schema.json, src.partitionColumns, src.configuration)) ++
        adds ++ src.domainMetadata.toSeq.sortBy(_._1).map { case (d, cfg) => domainLine(d, cfg) }
    }
  }

  /** CONVERT TO DELTA: turn an existing parquet directory (optionally
    * hive-partitioned) into a Delta table IN PLACE — a v0 log referencing
    * the files where they are, nothing copied or rewritten. Schema and
    * partition-column types come from Spark's parquet + partition
    * inference; per-file min/max/nullCount stats are read from footers in
    * one distributed pass (`collectStats = false` skips it for a quick
    * conversion of a huge table — the cost is only data-skipping
    * effectiveness). The table tree is listed once, by Spark's inference:
    * the files come from the inferred relation's own file index, which
    * holds that listing on the driver, stats on or off. */
  def convertToDelta(spark: SparkSession, dir: String,
                     partitionColumns: Seq[String] = Nil,
                     collectStats: Boolean = true): Long = synchronized {
    val table = new Path(dir)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = table.getFileSystem(hconf)
    // an EMPTY _delta_log (a previously-refused conversion's tmp parent)
    // does not make the directory a Delta table — only log content does
    require(!LogListing.read(fs, dir).hasVersions, s"$dir is already a Delta table")
    val df = spark.read.parquet(dir)
    partitionColumns.foreach(c => require(df.schema.fieldNames.contains(c),
      s"partition column $c not found (inferred: ${df.schema.simpleString})"))
    val dataSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(f => partitionColumns.contains(f.name)))
    val files = df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation } match {
      case Some(HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _)) =>
        index.allFiles().filter(DataFiles.isDataFile)
      case other => throw new IllegalStateException(s"$dir read as $other, not a listed parquet relation")
    }
    val stats =
      if (collectStats) DataFiles.listedStats(spark, files, DataFiles.statColumns(dataSchema, Map.empty))
      else Map.empty[String, String]
    val addLines = files.map { st =>
      val rel = relativize(table, st.getPath)
      // every k=v directory segment must be a DECLARED partition column:
      // silently treating one as a data column would read as all-null
      // (the files physically lack it) — corruption, not a conversion
      val dirKeys = rel.split('/').iterator
        .filter(_.contains('=')).map(_.split("=", 2)(0)).toSet
      val undeclared = dirKeys -- partitionColumns.toSet
      require(undeclared.isEmpty,
        s"$dir has hive partition dir(s) for undeclared column(s) " +
          s"${undeclared.toSeq.sorted.mkString(", ")} (in $rel) — pass them " +
          "as partitionColumns")
      addLine(AddFile(encodePath(rel), hivePartitionValues(rel, partitionColumns),
        st.getLen, st.getModificationTime, stats.get(st.getPath.toUri.getPath)),
        dataChange = true)
    }
    transact(spark, dir, None, "CONVERT",
        Map("source" -> "parquet", "partitionedBy" -> partitionColumns.mkString(",")), Surface) { _ =>
      Seq(protocolJson(DeltaProtocol(1, 2)), metaDataJson(None, df.schema.json, partitionColumns)) ++ addLines
    }
  }

  /** FSCK REPAIR TABLE: drop add entries whose DATA FILE IS MISSING from
    * storage (out-of-band deletes, botched external cleanup) so the table
    * becomes readable again — delta-spark's statement. The existence
    * check runs DISTRIBUTED (one `FileSystem.exists` per add,
    * executor-side over the add frame); the driver collects only the
    * MISSING subset — bounded by the corruption, never the table — and
    * commits their removes (`dataChange=true`: those rows are gone from
    * the table's visible state). `DRY RUN` returns the would-be-removed
    * paths without committing. Returns the affected (decoded) paths. */
  def fsckRepair(spark: SparkSession, tablePath: String,
                 dryRun: Boolean = false): Seq[String] = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    if (!dryRun) assertWritable(snap, "FSCK")
    val root = snap.qualifiedTableRoot
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val missing: Seq[AddFile] = snap.fileSet.df.rdd.map(DeltaFileSet.decode)
      .mapPartitions { it =>
        val conf = bcConf.value.value
        it.filter { f =>
          val p = new Path(DeltaActions.normAbsolute(root, f.path))
          !p.getFileSystem(conf).exists(p)
        }
      }.collect().toSeq.sortBy(_.path)
    if (dryRun || missing.isEmpty)
      return missing.map(f => DeltaActions.decodePath(f.path))
    transact(spark, tablePath, Some(snap), "FSCK",
        Map("numRemovedFiles" -> missing.size.toString), Surface) { a =>
      val now = System.currentTimeMillis()
      missing.map(f => removeLine(physical(a.snap, f), now, dataChange = true))
    }
    missing.map(f => DeltaActions.decodePath(f.path))
  }

  /** DEEP CLONE: copy the source snapshot's live data files into
    * `targetPath` and write a fresh v0 log referencing the COPIES — unlike
    * [[shallowClone]], the result is self-contained: VACUUM or overwrites
    * on the source can never break it. The copies run DISTRIBUTED (the
    * file set's RDD, Hadoop-FS copy per partition) and the v0 add lines
    * stream from the same RDD one partition at a time — neither phase
    * materializes the file list on the driver. Hive-partition layout,
    * stats, row-tracking ids and metadata domains carry verbatim (the
    * bytes are identical). DV-carrying sources clone their LIVE
    * deletion-vector bins to the same table-relative locations (r17), so
    * the `u` descriptors stay valid in the clone — masked rows stay
    * masked, nothing is shared; absolute-path (`p`) descriptors refuse
    * (they would still point into source storage). */
  def deepClone(spark: SparkSession, sourcePath: String, targetPath: String): Long = synchronized {
    val src = DeltaSnapshotReader.snapshot(spark, sourcePath)
    val hconf = spark.sessionState.newHadoopConf()
    val target = new Path(targetPath)
    val fs = target.getFileSystem(hconf)
    require(!fs.exists(new Path(target, "_delta_log")),
      s"clone target already a Delta table: $targetPath")
    val srcFs = new Path(sourcePath).getFileSystem(hconf)
    // live DV bins (bounded, ∝ DV-carrying files): same relative location
    // under the target keeps every 'u' descriptor valid as-is
    src.fileSet.dvFiles.flatMap { f =>
      f.deletionVector.toSeq.collect {
        case d if d.storageType == "p" =>
          throw DeltaUnsupportedFeatureException("deepClone-absolute-dv",
            s"$sourcePath carries an absolute-path deletion vector " +
              s"(${d.pathOrInlineDv}) — a deep clone cannot keep it " +
              "independent; REORG PURGE first")
        case d if d.storageType == "u" =>
          val abs = d.filePath(sourcePath).get
          (abs, relativize(new Path(sourcePath), abs))
      }
    }.distinct match {
      case Seq() =>
      case bins =>
        // bins are ∝ DV-carrying files — copy them in a small distributed
        // job (a driver-side sequential loop would serialize a large DV'd
        // table's clone on the slowest link)
        val bcC = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(hconf))
        val tgtStr = fs.makeQualified(target).toString
        spark.sparkContext.parallelize(
            bins.map { case (f, r) => (f.toString, r) },
            math.min(bins.size, 64))
          .foreach { case (fromStr, rel) =>
            val c = bcC.value.value
            val from = new Path(fromStr)
            val to = new Path(new Path(tgtStr), rel)
            val tfs = to.getFileSystem(c)
            tfs.mkdirs(to.getParent)
            org.apache.hadoop.fs.FileUtil.copy(
              from.getFileSystem(c), from, tfs, to, false, true, c)
          }
    }
    val srcRoot = srcFs.makeQualified(new Path(sourcePath)).toString
    val targetRoot = fs.makeQualified(target).toString
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))

    // (file, target-relative path): relative adds keep their layout (hive
    // dirs survive → pruning works); absolute adds (source was itself a
    // shallow clone) land under a generated name
    val entries = src.fileSet.df.rdd.map(DeltaFileSet.decode)
      .zipWithIndex()
      .map { case (f, i) =>
        val decoded = DeltaActions.decodePath(f.path)
        val rel =
          if (!f.path.contains("://") && !decoded.startsWith("/")) decoded
          else f"deepclone/f-$i%06d-${new Path(decoded).getName}"
        (f, rel)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      entries.foreachPartition { it =>
        val conf = bcConf.value.value
        it.foreach { case (f, rel) =>
          val decoded = DeltaActions.decodePath(f.path)
          val from =
            if (f.path.contains("://") || decoded.startsWith("/")) new Path(decoded)
            else new Path(srcRoot, decoded)
          val to = new Path(targetRoot, rel)
          val tfs = to.getFileSystem(conf)
          tfs.mkdirs(to.getParent)
          org.apache.hadoop.fs.FileUtil.copy(
            from.getFileSystem(conf), from, tfs, to, false, true, conf)
        }
      }
      val keys = physicalKeys(src)
      val addLines = entries.map { case (f, rel) =>
        addLine(withKeys(f, keys).copy(path = encodePath(rel)), dataChange = true)
      }
      val domains = src.domainMetadata.toSeq.sortBy(_._1).map { case (d, cfg) => domainLine(d, cfg) }
      transact(spark, targetPath, None, "CLONE", Map("source" -> sourcePath, "isDeep" -> "true"),
          Surface, config = Some(src.configuration),
          tail = Some(() => addLines.toLocalIterator ++ domains.iterator)) { _ =>
        Seq(protocolJson(src.protocol.getOrElse(DeltaProtocol(1, 2))),
          metaDataJson(None, src.schema.json, src.partitionColumns, src.configuration))
      }
    } finally entries.unpersist(blocking = false)
  }

  /** Executor-side deletion-vector marking for the DV leg of
    * [[rowLevelDml]]. `marked` is a frame carrying `__fp`/`__ri` (file
    * path, row index) of the rows to mask; they are unioned with the
    * files' existing bitmaps, so re-marking an already-deleted row is
    * absorbed.
    *
    * Bitmaps are serialized AND WRITTEN on executors — each task appends
    * its files' framed bitmaps into its own `.bin` (multiple DV files per
    * commit are protocol-legal; each add references its own). Only
    * (path, uuid, offset, size, cardinality) descriptors reach the driver
    * — a wide DML never collects bitmap bytes.
    *
    * Returns (gone, kept): `gone` = files whose EVERY physical row is now
    * marked (cardinality == numRecords — plain removes, no re-add);
    * `kept` = (normPath, encodedUuid, offset, sizeInBytes, cardinality)
    * for the union-DV re-adds. */
  private def dvMarkRows(spark: SparkSession, snap: DeltaSnapshot,
                         affected: Option[Seq[AddFile]], marked: DataFrame)
      : (Array[(String, String, Int, Int, Long)], Array[(String, String, Int, Int, Long)]) = {
    val tablePath = snap.tablePath
    // existing DVs to union in: from the affected subset when one is
    // materialized, else the snapshot's (bounded) DV-carrying file set —
    // a whole-table caller (BY SOURCE clause MERGE) never collects the
    // full add list here
    val dvCarrying: Seq[AddFile] = affected match {
      case Some(fs) => fs.filter(_.deletionVector.isDefined)
      case None => snap.fileSet.dvFiles
    }
    val oldDesc: Map[String, DeletionVectors.Descriptor] =
      dvCarrying.flatMap(f => f.deletionVector.map(d => snap.normAbsolutePath(f) -> d)).toMap
    val bcOld = spark.sparkContext.broadcast(oldDesc)
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
    // full-file deletions (cardinality == physical rows) become plain
    // removes; the bound is shipped so executors skip their bitmap write.
    // Whole-table scope sources numRecords DISTRIBUTED: a join from the
    // (touched-files-sized) mask aggregate against the add frame's stats,
    // instead of a driver map over every file.
    val aggBase = marked
      .groupBy(col("__fp"))
      .agg(collect_list(col("__ri")).as("idx"))
    val agged = affected match {
      case Some(fs) =>
        val m: Map[String, Long] = fs.flatMap(f =>
          f.stats.flatMap(DataSkipping.parse).flatMap(_.numRecords)
            .map(snap.normAbsolutePath(f) -> _)).toMap
        val bc = spark.sparkContext.broadcast(m)
        val look = udf((p: String) =>
          bc.value.getOrElse(DeltaActions.normUriPath(p), -1L))
        aggBase.select(col("__fp"), col("idx"), look(col("__fp")).as("__nr"))
      case None =>
        import spark.implicits._
        val root = snap.qualifiedTableRoot
        val nr = snap.fileSet.df.rdd.map(DeltaFileSet.decode).map { f =>
          (DeltaActions.normAbsolute(root, f.path),
            f.stats.flatMap(DataSkipping.parse).flatMap(_.numRecords).getOrElse(-1L))
        }.toDF("__nfp", "__nr")
        graft.functions.PathNorm.register(spark)
        aggBase
          .withColumn("__nfp", call_function("norm_uri_path", col("__fp")))
          .join(nr, Seq("__nfp"), "left")
          .na.fill(-1L, Seq("__nr"))
          .select(col("__fp"), col("idx"), col("__nr"))
    }
    val entriesRaw: Array[(String, String, Int, Int, Long)] =
      agged
        .rdd.mapPartitions { it =>
          val rows = it.toArray
          if (rows.isEmpty) Iterator.empty
          else {
            val conf = bcConf.value.value
            val merged: Array[(String, Array[Long], Long)] = rows.map { r =>
              val norm = DeltaActions.normUriPath(r.getString(0))
              val old = bcOld.value.get(norm)
                .map(d => DeletionVectors.cachedBitmap(d, tablePath, conf).toArray)
                .getOrElse(Array.empty[Long])
              (norm, (old ++ r.getSeq[Long](1)).distinct.sorted, r.getLong(2))
            }
            val (gone, keep) = merged.partition { case (_, all, nr) =>
              nr >= 0L && nr == all.length.toLong
            }
            val written: Seq[(String, String, Int, Int, Long)] =
              if (keep.isEmpty) Nil
              else {
                val dvFs = new Path(tablePath).getFileSystem(conf)
                val (uuid, frames) = DeletionVectors.writeDvFile(dvFs, tablePath,
                  keep.map(k => DeletionVectors.serialize(k._2)).toSeq)
                val enc = DeletionVectors.encodeUuid(uuid)
                keep.toSeq.zip(frames).map { case ((norm, all, _), (off, size)) =>
                  (norm, enc, off, size, all.length.toLong)
                }
              }
            (written ++ gone.map { case (norm, all, _) =>
              (norm, null: String, -1, -1, all.length.toLong)
            }).iterator
          }
        }.collect()
    entriesRaw.partition(_._2 == null)
  }

  /** The protocol-upgrade line a DV-writing commit must emit when the
    * table's protocol does not yet declare the deletionVectors feature:
    * readers that don't understand DVs would silently treat deleted rows
    * as live, so the commit raises to (3, 7) — MERGED with the existing
    * protocol (overwriting would strip gates like columnMapping);
    * legacy-implied writer features are enumerated per the table-features
    * upgrade rule. Replay takes the latest protocol action. */
  private def dvProtocolUpgrade(cur: DeltaSnapshot): Option[String] = {
    val base = cur.protocol.getOrElse(DeltaProtocol(1, 2))
    if (base.minReaderVersion >= 3 && base.readerFeatures.exists(_.contains("deletionVectors")))
      None
    else {
      val legacyWriter = Seq("appendOnly", "invariants") ++
        (if (cur.configuration.keys.exists(_.startsWith("delta.constraints."))) Seq("checkConstraints") else Nil)
      Some(protocolJson(DeltaProtocol(3, 7,
        Some((base.readerFeatures.getOrElse(Seq.empty) :+ "deletionVectors").distinct),
        Some((base.writerFeatures.getOrElse(Seq.empty) ++ legacyWriter :+ "deletionVectors").distinct))))
    }
  }

  // ------------------------------------------------------------------
  // DML: DELETE / UPDATE / MERGE, one row-action core
  // ------------------------------------------------------------------

  /** Is the deletionVectors WRITE path enabled on this table?
    * (`delta.enableDeletionVectors` — delta-spark routes DELETE, UPDATE
    * and MERGE through DVs when set, and so does [[rowLevelDml]]; the
    * `*WithDV` entry points take the DV leg regardless.) */
  private def dvWritesEnabled(snap: DeltaSnapshot): Boolean =
    snap.configuration.get("delta.enableDeletionVectors")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** DELETE FROM table WHERE condition: one `MatchedDelete(condition)`
    * over the target alone ([[rowLevelDml]]). Only files holding matching
    * rows are touched: rewritten without them (copy-on-write) or, on
    * tables with `delta.enableDeletionVectors=true`, re-added with the
    * rows masked. Returns the new version, or the current one without a
    * commit when nothing matched. At most 3 Spark jobs copy-on-write and
    * 4 with deletion vectors on a small warm table (DmlJobBudgetSpec). */
  def delete(spark: SparkSession, tablePath: String, condition: Column): Long = synchronized {
    deleteRows(spark, tablePath, condition, forceDv = false)
  }

  /** [[delete]] that masks the rows with deletion vectors whatever the
    * table property says; the commit raises the protocol to the
    * deletionVectors feature when it does not declare it yet. */
  def deleteWithDV(spark: SparkSession, tablePath: String, condition: Column): Long = synchronized {
    deleteRows(spark, tablePath, condition, forceDv = true)
  }

  private def deleteRows(spark: SparkSession, tablePath: String, condition: Column,
                         forceDv: Boolean): Long = {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    // gate BEFORE the probe: the spec's writer gating is per-table, not
    // per-row — a DML that happens to match nothing must still refuse
    assertWritable(snap, "DELETE")
    require(!snap.isAppendOnly,
      s"table $tablePath is delta.appendOnly=true: deletes are forbidden")
    rowLevelDml(spark, snap, "DELETE", None, Seq(MatchedDelete(Some(condition))),
      Some(condition), forceDv)
  }

  /** UPDATE table SET (col → expr) WHERE condition: one
    * `MatchedUpdate(set, condition)` over the target alone
    * ([[rowLevelDml]]). Copy-on-write rewrites the files holding matched
    * rows; with deletion vectors the matched rows are masked in place and
    * only their post-images are written. Partition columns, unknown
    * columns and GENERATED ALWAYS identity columns are refused in SET;
    * an explicit value in a BY DEFAULT identity column advances its water
    * mark. Returns the current version without a commit when nothing
    * matched. At most 3 Spark jobs copy-on-write and 5 with deletion
    * vectors on a small warm table (DmlJobBudgetSpec). */
  def update(spark: SparkSession, tablePath: String, condition: Column,
             set: Map[String, Column]): Long = synchronized {
    updateRows(spark, tablePath, condition, set, forceDv = false)
  }

  /** [[update]] that takes the deletion-vector leg whatever the table
    * property says. */
  def updateWithDV(spark: SparkSession, tablePath: String, condition: Column,
                   set: Map[String, Column]): Long = synchronized {
    updateRows(spark, tablePath, condition, set, forceDv = true)
  }

  private def updateRows(spark: SparkSession, tablePath: String, condition: Column,
                         set: Map[String, Column], forceDv: Boolean): Long = {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "UPDATE")
    require(!snap.isAppendOnly,
      s"table $tablePath is delta.appendOnly=true: updates are forbidden")
    checkSet(snap, set, "UPDATE")
    set.keys.foreach { c =>
      require(!snap.partitionColumns.contains(c),
        s"updating partition column $c not supported (would move rows across partitions)")
    }
    rowLevelDml(spark, snap, "UPDATE", None, Seq(MatchedUpdate(set, Some(condition))),
      Some(condition), forceDv)
  }

  /** A typo'd SET column would otherwise be silently ignored (the core
    * only looks up schema fields) — the caller must hear about it; SET on
    * a GENERATED ALWAYS identity column is writer-owned and refused. */
  private def checkSet(snap: DeltaSnapshot, set: Map[String, Column], where: String): Unit =
    set.keys.foreach { k =>
      require(snap.schema.fieldNames.contains(k), s"unknown SET column $k in $where")
      IdentityColumns.of(snap.schema).find(_.name == k).foreach { f =>
        require(IdentityColumns.allowsExplicit(f),
          s"identity column $k is GENERATED ALWAYS — SET refused in $where")
      }
    }

  /** Order-insensitive (name, type) shape for source-vs-table checks. */
  private def shapeOf(st: org.apache.spark.sql.types.StructType) =
    st.fields.map(f => (f.name, stripMeta(f.dataType))).sortBy(_._1).toSeq

  /** Drop field metadata at every nesting level before schema comparison:
    * a mapped table's NESTED fields carry column-mapping metadata inside
    * their dataType, which incoming (metadata-free) DataFrames never have —
    * names and types are the contract, metadata is bookkeeping. */
  private[delta] def stripMeta(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, stripMeta(f.dataType), f.nullable)))
      case ArrayType(et, n) => ArrayType(stripMeta(et), n)
      case MapType(k, v, n) => MapType(stripMeta(k), stripMeta(v), n)
      case other => other
    }
  }

  /** ONE aggregation job over the merge key frame yields both the
    * uniqueness check (row count == exact distinct count; the per-key
    * detail query only runs on the failure path) and the probe bounds.
    *
    * Source-stats probe pruning (delta-spark's merge move): the ON keys'
    * min/max over the source become pushable BETWEEN predicates on the
    * probe scan, so stats-based file skipping + parquet row-group pruning
    * restrict the probe to candidate files — at scale the probe reads the
    * slice that CAN match, not the table. Null keys never equality-match,
    * so min/max ignoring nulls is exact; non-orderable/exotic key types
    * just skip their bound. */
  private def mergeKeyBounds(snap: DeltaSnapshot, keyFrame: DataFrame,
                             on: Seq[String]): Seq[(String, Any, Any)] = {
    val prunable = on.filter { k =>
      snap.schema(k).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
    }
    val r = keyFrame.agg(
      count(lit(1)).as("__n"),
      (count_distinct(struct(on.map(col): _*)).as("__nd") +:
        prunable.zipWithIndex.flatMap { case (k, i) =>
          Seq(min(col(k)).as(s"l$i"), max(col(k)).as(s"h$i"))
        }): _*).head()
    if (r.getLong(0) != r.getLong(1)) requireUniqueOn(keyFrame, on)
    prunable.zipWithIndex.collect {
      case (k, i) if !r.isNullAt(2 + 2 * i) && !r.isNullAt(3 + 2 * i) =>
        (k, r.get(2 + 2 * i), r.get(3 + 2 * i))
    }
  }

  /** Refuse a MERGE source with multiple rows per key: the matched target
    * row would be ambiguous (and on tracked tables both copies would
    * inherit the SAME stable row id). */
  private def requireUniqueOn(src: DataFrame, on: Seq[String]): Unit = {
    val dup = src.groupBy(on.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > lit(1)).limit(1).collect()
    require(dup.isEmpty,
      s"MERGE source has multiple rows for key ${on.mkString("(", ",", ")")}=" +
        s"${dup.headOption.map(r => on.indices.map(r.get).mkString("(", ",", ")")).getOrElse("")} " +
        "— deduplicate the source on the merge keys first (multi-match is ambiguous)")
  }

  /** MERGE INTO table USING source ON key columns as a CDC upsert:
    * `mergeClauses(on, [MatchedUpdateAll, NotMatchedInsertAll])` — matched
    * target rows are replaced by the source row, unmatched source rows are
    * inserted. Identity columns follow [[mergeClauses]]' rules. At most
    * 11 Spark jobs copy-on-write and 13 with deletion vectors on a small
    * warm table (DmlJobBudgetSpec). */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
            on: Seq[String]): Long = synchronized {
    mergeRows(spark, tablePath, source, on, Upsert, forceDv = false)
  }

  /** [[merge]] that takes the deletion-vector leg whatever the table
    * property says: matched rows are masked, every source row lands in
    * new files. Identity tables take it too — matched rows keep their
    * identity value, inserts mint above the water mark. */
  def mergeWithDV(spark: SparkSession, tablePath: String, source: DataFrame,
                  on: Seq[String]): Long = synchronized {
    mergeRows(spark, tablePath, source, on, Upsert, forceDv = true)
  }

  private val Upsert: Seq[MergeClause] = Seq(MatchedUpdateAll(), NotMatchedInsertAll())

  /** One WHEN clause of a multi-clause [[mergeClauses]]. Conditions and
    * SET expressions address the two sides as `col("t.x")` (target) and
    * `col("s.x")` (source). Per row, the FIRST applicable clause of its
    * category wins; a row no clause covers is kept (targets) or dropped
    * (sources). */
  sealed trait MergeClause { def condition: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET * — source row replaces target. */
  final case class MatchedUpdateAll(condition: Option[Column] = None) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, …; unset columns
    * keep the target value. */
  final case class MatchedUpdate(set: Map[String, Column],
                                 condition: Option[Column] = None) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MatchedDelete(condition: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT *. */
  final case class NotMatchedInsertAll(condition: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class NotMatchedBySourceDelete(condition: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col = expr, …. */
  final case class NotMatchedBySourceUpdate(set: Map[String, Column],
                                            condition: Option[Column] = None) extends MergeClause

  /** MERGE INTO table USING source ON keys with an ordered clause list —
    * conditional matched UPDATE/DELETE, conditional NOT MATCHED INSERT and
    * NOT MATCHED BY SOURCE UPDATE/DELETE, delta-spark's full surface.
    * Identity columns: sources may omit them, matched and BY SOURCE rows
    * keep the target's value, inserts mint above the water mark; SET on a
    * GENERATED ALWAYS identity column is refused. The source must be
    * unique on the keys. Runs through [[rowLevelDml]]; a clause list
    * without BY SOURCE clauses costs what [[merge]] costs. */
  def mergeClauses(spark: SparkSession, tablePath: String, source: DataFrame,
                   on: Seq[String], clauses: Seq[MergeClause]): Long = synchronized {
    mergeRows(spark, tablePath, source, on, clauses, forceDv = false)
  }

  private def mergeRows(spark: SparkSession, tablePath: String, source: DataFrame,
                        on: Seq[String], clauses: Seq[MergeClause], forceDv: Boolean): Long = {
    require(on.nonEmpty, "merge needs at least one key column")
    require(clauses.nonEmpty, "merge needs at least one clause")
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "MERGE")
    // the source may OMIT identity columns (matched rows keep the target's
    // value, inserts mint); a supplied one must be GENERATED BY DEFAULT
    val idFields = IdentityColumns.of(snap.schema)
    val omittedIds = idFields.filterNot(f => source.columns.contains(f.name))
    idFields.filter(f => source.columns.contains(f.name)).foreach { f =>
      require(IdentityColumns.allowsExplicit(f),
        s"identity column ${f.name} is GENERATED ALWAYS — omit it from the " +
          "MERGE source (explicit values refused)")
    }
    omittedIds.foreach { f =>
      require(!on.contains(f.name),
        s"merge key ${f.name} is an identity column the source does not supply")
    }
    val expected = org.apache.spark.sql.types.StructType(
      snap.schema.fields.filterNot(f => omittedIds.exists(_.name == f.name)))
    require(shapeOf(source.schema) == shapeOf(expected),
      s"merge source schema must match table (identity columns may be omitted):\n  table: ${expected.simpleString}\n  source: ${source.schema.simpleString}")
    clauses.foreach {
      case MatchedUpdate(set, _) => checkSet(snap, set, "MatchedUpdate")
      case NotMatchedBySourceUpdate(set, _) => checkSet(snap, set, "NotMatchedBySourceUpdate")
      case _ =>
    }
    // materialize the source ONCE (delta-spark's merge does the same): the
    // uniqueness check, key bounds, probe and join all read it, and an
    // arbitrary lineage (a non-deterministic or streaming batch source)
    // must not differ between them. MEMORY_AND_DISK: an oversized source
    // spills instead of failing.
    val src = source.select(expected.map(f => col(f.name)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try rowLevelDml(spark, snap, "MERGE", Some((src, on)), clauses, None, forceDv)
    finally src.unpersist(blocking = false)
  }

  /** The one DML implementation: DELETE and UPDATE are a single matched
    * clause over the target alone (`source = None`, `condition` set),
    * MERGE is a clause list over the target full-outer-joined with a
    * source unique on its keys. Every target (and source) row gets an
    * action — the index of its first applicable clause, KEEP or DROP —
    * and the commit follows from the actions.
    *
    * Scope: UPDATE/DELETE touch the files holding rows that satisfy
    * `condition` (pushed into the probe scan, so stats skipping applies);
    * MERGE touches the files holding source keys, probed under the source
    * key bounds from the same aggregate that checks uniqueness; BY SOURCE
    * clauses put every unmatched target row in scope, so the whole table.
    *
    * One routing rule: `forceDv` or `delta.enableDeletionVectors` retires
    * rows with deletion vectors — rows whose winning clause is a DELETE or
    * UPDATE are masked in their files, update post-images and inserts land
    * in new files, KEEP rows stay in place (write cost ∝ changed rows); a
    * clause list without UPDATE or INSERT writes no data files. Otherwise
    * copy-on-write: the scope's files are rewritten with the survivors,
    * post-images and inserts.
    *
    * Shared rules: row-tracked tables keep ids through keeps and updates
    * (updates restamped with this commit), drop them with deletes and mint
    * fresh ranges for inserts; identity values of matched rows are kept,
    * inserts mint above the water mark, explicit SET values sync it; CDF
    * tables get per-row change files; constraints and generated columns
    * are checked on the written rows. UPDATE and DELETE with nothing in
    * scope return the current version without a commit. Conflict
    * footprint: UPDATE/DELETE declare `condition`'s partition scope, MERGE
    * the whole table. All of it commits through [[commitRewrite]]. */
  private def rowLevelDml(spark: SparkSession, snap: DeltaSnapshot, operation: String,
                          source: Option[(DataFrame, Seq[String])],
                          clauses: Seq[MergeClause], condition: Option[Column],
                          forceDv: Boolean): Long = {
    val idFields = IdentityColumns.of(snap.schema)
    val indexed = clauses.zipWithIndex
    def indexesOf(p: MergeClause => Boolean): Seq[Int] = indexed.collect { case (c, i) if p(c) => i }
    val matchedCs = indexed.filter {
      case (_: MatchedUpdateAll | _: MatchedUpdate | _: MatchedDelete, _) => true
      case _ => false
    }
    val bySourceCs = indexed.filter {
      case (_: NotMatchedBySourceDelete | _: NotMatchedBySourceUpdate, _) => true
      case _ => false
    }
    val insertCs = indexed.filter(_._1.isInstanceOf[NotMatchedInsertAll])
    val deleteIdx = indexesOf {
      case _: MatchedDelete | _: NotMatchedBySourceDelete => true
      case _ => false
    }
    val updateIdx = indexesOf {
      case _: MatchedUpdateAll | _: MatchedUpdate | _: NotMatchedBySourceUpdate => true
      case _ => false
    }
    val insertIdx = insertCs.map(_._2)

    // scope: None = the whole table (BY SOURCE clauses), expressed as the
    // snapshot itself — the scan, the DV mask and the commit all run off
    // the distributed file set; the driver never materializes the add list
    val affectedOpt: Option[Seq[AddFile]] = source match {
      case None => Some(affectedFiles(spark, snap, rel => rel, preFilters = condition.toSeq))
      case Some((src, on)) =>
        val keys = src.select(on.map(col): _*)
        val bounds = mergeKeyBounds(snap, keys, on)
        if (bySourceCs.nonEmpty) None
        else Some(affectedFiles(spark, snap, _.join(keys, on, "left_semi"),
          preFilters = bounds.map { case (k, lo, hi) => col(k).between(lit(lo), lit(hi)) }))
    }
    if (source.isEmpty && affectedOpt.exists(_.isEmpty)) return snap.version
    require(!snap.isAppendOnly || affectedOpt.exists(_.isEmpty),
      s"table ${snap.tablePath} is delta.appendOnly=true: row-level deletes/updates are forbidden")
    val scanSnap = affectedOpt.map(snap.withFiles).getOrElse(snap)

    val matTrack = trackedMatCols(snap)
    val dv = forceDv || dvWritesEnabled(snap)
    // the DV target scan is LIVE (already-masked rows must not resurface
    // as unmatched-by-source) and carries each row's (file, row-index)
    // address for the mask
    val tgtBase =
      if (!dv) snapRelationWithIds(spark, scanSnap)
      else matTrack match {
        case Some((mi, mv)) =>
          RowTracking.readWithRowIds(spark, scanSnap, keepIndex = true)
            .withColumnRenamed("_row_id", mi)
            .withColumnRenamed("_row_commit_version", mv)
        case None => DeltaFileIndex.relationWithRowIndexLive(spark, scanSnap)
      }

    // per-row action: the first applicable clause's index, or KEEP/DROP
    val Keep = -1
    val Drop = -2
    def firstOf(cs: Seq[(MergeClause, Int)], default: Int): Column =
      cs.foldRight(lit(default): Column) { case ((c, i), els) =>
        when(c.condition.getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    val j = source match {
      case None => tgtBase.alias("t").withColumn("__act", firstOf(matchedCs, Keep))
      case Some((src, on)) =>
        val joinCond = on.map(k => col(s"t.`$k`") === col(s"s.`$k`")).reduce(_ && _)
        tgtBase.withColumn("__tp", lit(true)).alias("t")
          .join(src.withColumn("__sp", lit(true)).alias("s"), joinCond, "full_outer")
          .withColumn("__act",
            when(col("t.__tp").isNotNull && col("s.__sp").isNotNull, firstOf(matchedCs, Keep))
              .when(col("t.__tp").isNotNull, firstOf(bySourceCs, Keep))
              .otherwise(firstOf(insertCs, Drop)))
    }
    def actIn(idxs: Seq[Int]): Column =
      if (idxs.isEmpty) lit(false) else col("__act").isin(idxs.map(Int.box): _*)
    // DV: only changed rows matter (the mask, the new files, the change
    // rows). Under a join they are persisted, so the mask collect and the
    // write do not each re-run it.
    val rows =
      if (!dv) j
      else {
        val changed = j.filter(actIn(deleteIdx ++ updateIdx ++ insertIdx))
        if (source.isEmpty) changed
        else changed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }

    val omittedIds = source.toSeq.flatMap { case (src, _) =>
      idFields.filterNot(f => src.columns.contains(f.name))
    }
    def clauseValue(c: MergeClause, f: org.apache.spark.sql.types.StructField): Column = c match {
      // a matched row keeps the TARGET's identity value even under
      // UPDATE SET * (stable identity); an omitted identity column has no
      // s-side to reference in the insert clause — the placeholder is
      // replaced by IdentityColumns.prepare below
      case _: MatchedUpdateAll =>
        if (idFields.exists(_.name == f.name)) col(s"t.`${f.name}`") else col(s"s.`${f.name}`")
      case MatchedUpdate(set, _) =>
        set.get(f.name).map(_.cast(f.dataType)).getOrElse(col(s"t.`${f.name}`"))
      case _: NotMatchedInsertAll =>
        if (omittedIds.exists(_.name == f.name)) lit(null).cast(f.dataType)
        else col(s"s.`${f.name}`")
      case NotMatchedBySourceUpdate(set, _) =>
        set.get(f.name).map(_.cast(f.dataType)).getOrElse(col(s"t.`${f.name}`"))
      case _ => col(s"t.`${f.name}`") // delete clauses never reach projection
    }
    val dataCols = snap.schema.map { f =>
      indexed.foldLeft(when(col("__act") === Keep, col(s"t.`${f.name}`"))) {
        case (acc, (c, i)) => acc.when(col("__act") === i, clauseValue(c, f))
      }.as(f.name)
    }
    // tracked tables: keeps/updates carry the target's stable id (updates
    // restamped with this commit), inserts mint fresh default ranges
    val matColsOut = matTrack.toSeq.flatMap { case (mi, mv) =>
      Seq(
        when(actIn(insertIdx), lit(null).cast("long"))
          .otherwise(col(s"t.`$mi`")).as(mi),
        when(actIn(insertIdx), lit(null).cast("long"))
          .when(actIn(updateIdx), lit(snap.version + 1))
          .otherwise(col(s"t.`$mv`")).as(mv))
    }
    // identity inserts are split out and routed through
    // [[IdentityColumns.prepare]]. The raw insert frame is PERSISTED first:
    // prepare's zipWithIndex assignment must yield IDENTICAL values in the
    // data files and the CDF insert rows, which both re-execute it.
    val insertRaw = source.filter(_ => idFields.nonEmpty && insertIdx.nonEmpty).map { case (src, _) =>
      rows.filter(actIn(insertIdx))
        .select(src.columns.map(c => col(s"s.`$c`").as(c)): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val (insertsOpt, insertMarks) = insertRaw match {
        case None => (None, Map.empty[String, Long])
        case Some(raw) =>
          val (assigned, marks) = IdentityColumns.prepare(raw, snap.schema,
            s"$operation into ${snap.tablePath}")
          val withIds = matTrack.foldLeft(assigned.select(snap.schema.map(f => col(f.name)): _*)) {
            case (d, (mi, mv)) => d.withColumn(mi, lit(null).cast("long"))
              .withColumn(mv, lit(null).cast("long"))
          }
          (Some(withIds), marks)
      }
      val written = if (dv) actIn(updateIdx ++ insertIdx)
        else col("__act") =!= lit(Drop) && !actIn(deleteIdx)
      val newData: Option[DataFrame] =
        if (dv && updateIdx.isEmpty && insertIdx.isEmpty) None
        else Some(insertsOpt match {
          case None => rows.filter(written).select(dataCols ++ matColsOut: _*)
          case Some(ins) => rows.filter(written && !actIn(insertIdx))
            .select(dataCols ++ matColsOut: _*).unionByName(ins)
        })
      // explicit values SET into a BY DEFAULT identity column advance its
      // water mark (the append SYNC rule); the written rows include the
      // assigned inserts, so their extremum covers the insert mark too
      val setIds = idFields.filter(f => clauses.exists {
        case MatchedUpdate(set, _) => set.contains(f.name)
        case NotMatchedBySourceUpdate(set, _) => set.contains(f.name)
        case _ => false
      })
      val idMarks = insertMarks ++
        newData.filter(_ => setIds.nonEmpty).map(IdentityColumns.syncMarks(_, setIds)).getOrElse(Map.empty)

      // change rows from ONE pass over the actions: a delete emits the
      // target row, an update its pre- and post-image, an insert its row
      val changes =
        if (!ChangeDataFeed.isEnabled(snap.configuration)) None
        else {
          val ct = ChangeDataFeed.ChangeTypeCol
          def image(cols: Seq[Column], kind: String): Column = struct(cols :+ lit(kind).as(ct): _*)
          val pre = snap.schema.map(f => col(s"t.`${f.name}`").as(f.name))
          val perRow = rows
            .filter(actIn(deleteIdx ++ updateIdx ++ insertIdx.filter(_ => insertsOpt.isEmpty)))
            .select(explode(
              when(actIn(deleteIdx), array(image(pre, "delete")))
                .when(actIn(updateIdx),
                  array(image(pre, "update_preimage"), image(dataCols, "update_postimage")))
                .otherwise(array(image(dataCols, "insert")))).as("__c"))
            .select(col("__c.*"))
          Some(insertsOpt.fold(perRow) { ins =>
            perRow.unionByName(ins.select(snap.schema.map(f => col(f.name)) :+ lit("insert").as(ct): _*))
          })
        }

      // DV: mask exactly the rows a DELETE/UPDATE clause won; `gone` files
      // lost every row and are removed, `kept` ones are re-added with their
      // union DV and KEEP their baseRowId (unmoved rows keep stable ids)
      val (removed, reAdds) =
        if (!dv) (affectedOpt.getOrElse(Nil), Nil)
        else if (affectedOpt.exists(_.isEmpty)) (Nil, Nil)
        else {
          val (gone, kept) = dvMarkRows(spark, snap, affectedOpt,
            rows.filter(actIn(deleteIdx ++ updateIdx))
              .select(col("t.`__fp`").as("__fp"), col("t.`__ri`").as("__ri")))
          // AddFile actions only for the DV-TOUCHED files — for whole-table
          // scope from a distributed filterCollect, never the list
          val touchedNorms = (gone ++ kept).map(_._1).toSet
          val touched = affectedOpt.getOrElse {
            val root = snap.qualifiedTableRoot
            snap.fileSet.filterCollect(f =>
              touchedNorms.contains(DeltaActions.normAbsolute(root, f.path)))
          }
          val byNorm = touched.map(f => snap.normAbsolutePath(f) -> f).toMap
          ((gone ++ kept).toSeq.map(e => byNorm(e._1)),
            kept.toSeq.map { case (norm, uuid, offset, size, card) =>
              byNorm(norm).copy(deletionVector =
                Some(DeletionVectors.Descriptor("u", uuid, offset, size, card)))
            })
        }
      commitRewrite(spark, snap, removed, newData, dataChange = true, operation = operation,
        opParams = source.map(_ => "clauses" -> clauses.map(_.getClass.getSimpleName).mkString(",")).toMap ++
          (if (dv) Map("mode" -> "deletionVectors") else Map.empty),
        changeData = changes,
        extraDataCols = matTrack.toSeq.flatMap(c => Seq(c._1, c._2)),
        preservesRowIds = matTrack.isDefined,
        identityMarks = idMarks,
        dvReAdds = reAdds,
        removeAllFromSnap = !dv && affectedOpt.isEmpty,
        readSet = affectedOpt.map(dmlReadSet(spark, snap, _, condition))
          .getOrElse(wholeTableDmlReadSet))
    } finally {
      insertRaw.foreach(_.unpersist(blocking = false))
      if (dv && source.isDefined) rows.unpersist(blocking = false)
    }
  }

  /** Logical → physical partition-column names (identity on unmapped
    * tables): snapshot build translated the log's physical keys to
    * logical; anything going back OUT must be physical again. A plain map,
    * so executor-side renderers use it too ([[withKeys]]). */
  private def physicalKeys(snap: DeltaSnapshot): Map[String, String] =
    snap.partitionColumns.map(c => c -> snap.physicalFieldName(c)).toMap

  /** `f` with its partition keys renamed through `keys`. */
  private def withKeys(f: AddFile, keys: Map[String, String]): AddFile =
    f.copy(partitionValues = f.partitionValues.map { case (k, v) => keys.getOrElse(k, k) -> v })

  /** `f` with the physical partition keys of `snap`. */
  private def physical(snap: DeltaSnapshot, f: AddFile): AddFile = withKeys(f, physicalKeys(snap))

  /** Which active files contain rows selected by `probe`? One distributed
    * job over the native relation for the hit paths (bounded by the
    * affected set), then a DISTRIBUTED filter of the file set against them
    * — the driver never holds the full file list.
    *
    * `preFilters` are applied to the RAW relation, BELOW the
    * `input_file_name()` projection: that projection blocks predicate
    * pushdown (non-deterministic expression), so a filter composed inside
    * `probe` reaches every file — only preFilters participate in
    * stats-based file skipping and row-group pruning (DeltaDmlSpec's
    * phantom-file test pins this). */
  private def affectedFiles(spark: SparkSession, snap: DeltaSnapshot,
                            probe: DataFrame => DataFrame,
                            preFilters: Seq[Column] = Nil): Seq[AddFile] = {
    graft.functions.PathNorm.register(spark)
    val rel = preFilters.foldLeft(DeltaFileIndex.relation(spark, snap))(_ filter _)
      .withColumn("__f", call_function("norm_uri_path", input_file_name()))
    val hits = probe(rel).select("__f").distinct().collect().map(_.getString(0)).toSet
    // qualify the table root ONCE driver-side (FS call); executors do pure
    // string normalization per add path
    val root = snap.qualifiedTableRoot
    snap.fileSet.filterCollect(f => hits.contains(DeltaActions.normAbsolute(root, f.path)))
  }

  /** Whole-table row-level footprint (BY SOURCE clause MERGE): read AND
    * rewrite scope is every active file, declared predicate-shaped
    * (`wholeTableFiles`) instead of as a collected path set. */
  private def wholeTableDmlReadSet: ConflictChecker.TxnReadSet =
    ConflictChecker.TxnReadSet(readsData = true, partitionPredicate = None,
      readFiles = Set.empty, removedPaths = Set.empty, wholeTableFiles = true)

  /** The read/write footprint a row-level DML declares for conflict-checked
    * retries: it read (and rewrites) exactly `affected`; its logical read
    * scope is `cond` when that predicate touches only partition columns
    * (then a winner's appends to OTHER partitions commute), else the whole
    * table. */
  private def dmlReadSet(spark: SparkSession, snap: DeltaSnapshot,
                         affected: Seq[AddFile],
                         cond: Option[Column]): ConflictChecker.TxnReadSet = {
    val paths = affected.map(_.path).toSet
    ConflictChecker.TxnReadSet(
      readsData = true,
      partitionPredicate = cond.flatMap(ConflictChecker.partitionScope(spark, snap, _)),
      readFiles = paths, removedPaths = paths)
  }

  /** Layout-only rewrites (OPTIMIZE/ZORDER/REORG) read bytes, not logical
    * rows: appends never conflict (`readsData = false` keeps the append
    * row of the matrix closed). Compaction INPUTS are declared as read
    * files — delta-spark's taxonomy: a concurrent remove of an input
    * surfaces as ConcurrentDeleteREAD (the bytes this rewrite consumed are
    * stale), which ranks before the delete/delete class in the checker.
    * They are also declared in `removedPaths` for completeness (the
    * rewrite does remove them), but DeleteRead wins the classification —
    * matching the exception class delta-spark clients are written against
    * (ADVICE r11). */
  private def layoutReadSet(files: Seq[AddFile]): ConflictChecker.TxnReadSet = {
    val paths = files.map(_.path).toSet
    ConflictChecker.TxnReadSet(readsData = false, partitionPredicate = None,
      readFiles = paths, removedPaths = paths)
  }

  /** Native relation restricted to a subset of the snapshot's files
    * (partition values still injected from the log). */
  private def relationOver(spark: SparkSession, snap: DeltaSnapshot,
                           files: Seq[AddFile]): DataFrame =
    DeltaFileIndex.relation(spark, snap.withFiles(files))

  /** The materialized row-id column names iff the table tracks rows —
    * the DML rewrite paths use this to decide whether to thread ids. */
  private def trackedMatCols(snap: DeltaSnapshot): Option[(String, String)] =
    RowTracking.materializedCols(snap.configuration)
      .filter(_ => RowTracking.isEnabled(snap.configuration))

  /** [[relationOver]] that ADDITIONALLY carries each row's stable id and
    * commit version under the table's materialized column names — the
    * input for every id-preserving rewrite. Falls back to the plain
    * relation on untracked tables. */
  private def relationOverWithIds(spark: SparkSession, snap: DeltaSnapshot,
                                  files: Seq[AddFile]): DataFrame =
    snapRelationWithIds(spark, snap.withFiles(files))

  /** [[relationOverWithIds]] over a snapshot AS-IS (whole-table rewrites:
    * full ZORDER, BY SOURCE clause MERGE) — no file-subset restriction,
    * so no driver materialization of the file list. */
  private def snapRelationWithIds(spark: SparkSession, snap: DeltaSnapshot): DataFrame =
    trackedMatCols(snap) match {
      case Some((mi, mv)) =>
        RowTracking.readWithRowIds(spark, snap)
          .withColumnRenamed("_row_id", mi)
          .withColumnRenamed("_row_commit_version", mv)
      case None => DeltaFileIndex.relation(spark, snap)
    }

  /** Commit a rewrite, conflict-checked against `readSet`: write `newData`
    * (if any) under `v<N>-<uuid>/` (hive-partitioned by the table's
    * partition columns), remove `removed`, add the new files with fresh
    * stats. Every rewrite of data files commits here: DML (DELETE, UPDATE,
    * MERGE), REPLACE WHERE, ZORDER and clustering ([[zorderRewrite]]),
    * REORG PURGE and OPTIMIZE.
    *
    * `dvReAdds` are deletion-vector retirements: files from `removed`
    * re-added with their new union DV (and their baseRowId, so unmoved rows
    * keep stable ids); the commit then also raises the protocol to the
    * deletionVectors feature when it does not declare it yet.
    *
    * `changeData` (table columns + `_change_type`) is REQUIRED for
    * dataChange rewrites of a CDF table — its rows become this commit's
    * `_change_data` files ([[ChangeDataFeed]]); layout-only rewrites
    * (OPTIMIZE / ZORDER / PURGE) change no rows and never carry one.
    * The protocol upgrade, in-commit timestamp, CDF change files and
    * row-id water mark are rendered per attempt. */
  private def commitRewrite(spark: SparkSession, snap: DeltaSnapshot,
                            removed: Seq[AddFile], newData: Option[DataFrame],
                            dataChange: Boolean, operation: String,
                            opParams: Map[String, String] = Map.empty,
                            changeData: Option[DataFrame] = None,
                            extraDataCols: Seq[String] = Nil,
                            preservesRowIds: Boolean = false,
                            identityMarks: Map[String, Long] = Map.empty,
                            dvReAdds: Seq[AddFile] = Nil,
                            extraActions: Long => Seq[String] = _ => Nil,
                            removeAllFromSnap: Boolean = false,
                            readSet: ConflictChecker.TxnReadSet): Long = {
    assertWritable(snap, operation)
    if (!preservesRowIds) assertNoRewriteUnderRowTracking(snap, operation)
    require(!(dataChange && snap.isAppendOnly &&
        (removed.nonEmpty || removeAllFromSnap)),
      s"table ${snap.tablePath} is delta.appendOnly=true: row-level deletes/updates are forbidden")
    require(!removeAllFromSnap || removed.isEmpty,
      "removeAllFromSnap streams the remove set from fileSet.df — pass removed = Nil")
    // UPDATE/MERGE can introduce violating rows; layout-only rewrites
    // (OPTIMIZE/ZORDER, dataChange=false) only move rows that already passed
    if (dataChange) newData.foreach { d =>
      enforceConstraints(d, snap.configuration, s"rewrite of ${snap.tablePath}")
      // an UPDATE/MERGE that changes a source column must keep its
      // generated columns consistent (stricter than delta-spark's silent
      // recompute: a violating rewrite refuses to commit)
      GeneratedColumns.of(snap.schema).foreach { case (f, sql) =>
        GeneratedColumns.validate(d, f, sql, s"rewrite of ${snap.tablePath}")
      }
    }
    val table = new Path(snap.tablePath)
    val adds = newData.toSeq.flatMap { d =>
      // commit-unique data directory: two processes racing rewrites at the
      // same version must never collide on file paths (the append path's
      // c-<uuid> rule); the version prefix is debugging sugar only
      val commitDir = s"v${snap.version + 1}-${UUID.randomUUID().toString.take(8)}"
      // disk form is physical on column-mapped tables (parquet names, hive
      // dirs, stats keys, partitionValues keys); the rewrite itself is logical
      val diskPartitionBy = snap.partitionColumns.map(snap.physicalFieldName)
      val ordered = snap.physicalSchema match {
        case Some(ps) =>
          if (snap.configuration.get("delta.columnMapping.mode").contains("id"))
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
          ColumnMapping.renameToPhysical(d, snap.schema, ps, extraDataCols)
        case None => d.select(snap.schema.map(f => col(f.name)) ++
          extraDataCols.map(c => col(s"`$c`")): _*)
      }
      DataFiles.write(ordered, table, commitDir, diskPartitionBy,
        Some(DataFiles.statColumns(snap.physicalDataSchema, snap.configuration))).map(_.toAdd(diskPartitionBy))
    }
    // whole-table rewrites (full ZORDER, BY SOURCE clause MERGE): the
    // remove set IS the active file set — its lines are rendered on
    // executors and stream into the commit one partition at a time, never
    // as the collected list. The physical partition-key map is built once,
    // outside the closure; `cur` could only change it via a metadata
    // winner, which the conflict checker aborts on.
    val removeAll = Option.when(removeAllFromSnap) { () =>
      val now = System.currentTimeMillis()
      val keys = physicalKeys(snap)
      snap.fileSet.df.rdd.map(DeltaFileSet.decode)
        .map(f => removeLine(withKeys(f, keys), now, dataChange)).toLocalIterator
    }
    // per-attempt action rendering: the version, in-commit timestamp, CDF
    // change-file paths and row-id water mark all depend on the snapshot
    // the attempt commits ON TOP OF, so a conflict-checked retry rebuilds
    // them against the fresh snapshot (the adds/removes themselves do not
    // change — the checker proved the winners disjoint)
    transact(spark, snap.tablePath, Some(snap), operation, opParams, Check(readSet),
        tail = removeAll) { a =>
      val cur = a.snap
      val lines = Seq.newBuilder[String]
      // version-dependent caller actions (e.g. the clustering watermark) are
      // re-rendered per attempt so a retried commit stamps ITS version
      lines ++= extraActions(a.version)
      if (dvReAdds.nonEmpty) dvProtocolUpgrade(cur).foreach(lines += _)
      if (identityMarks.nonEmpty)
        // value-assigning rewrite (MERGE insert / UPDATE SET on a BY DEFAULT
        // identity column): republish the schema with the advanced water mark
        // (spec: the mark lives in metaData) — same rule as the append path
        lines += metaDataJson(Some(cur),
          IdentityColumns.withWatermarks(cur.schema, identityMarks).json,
          cur.partitionColumns, cur.configuration)
      if (dataChange && ChangeDataFeed.isEnabled(cur.configuration))
        lines ++= a.changeFiles(changeData.getOrElse(throw DeltaUnsupportedFeatureException(
          "changeDataFeed",
          s"$operation on ${snap.tablePath}: CDF table, but the rewrite derived no change rows")))
      val now = System.currentTimeMillis()
      removed.foreach(f => lines += removeLine(physical(cur, f), now, dataChange))
      dvReAdds.foreach(f => lines += addLine(physical(snap, f), dataChange))
      // id-preserving rewrites (materialized columns in extraDataCols) still
      // stamp fresh default ranges on the new adds and advance the mark
      val outAdds =
        if (adds.isEmpty || !preservesRowIds || !RowTracking.isEnabled(cur.configuration)) adds
        else {
          val (assigned, hwm) =
            RowTracking.assign(adds, RowTracking.highWaterMark(cur), a.version)
          lines += domainLine(RowTracking.Domain, RowTracking.hwmConfigJson(hwm))
          assigned
        }
      outAdds.foreach(f => lines += addLine(f, dataChange))
      lines.result()
    }
  }

  /** Automatic checkpointing (`delta.checkpointInterval`, default 10 —
    * delta-spark's default): every Nth commit writes a checkpoint so log
    * replay cost stays bounded as the commit count grows; a table nobody
    * checkpoints replays every JSON since v0 forever. Interval ≤ 0
    * disables. A checkpoint failure must not fail the already-durable
    * commit — it is reported and the next interval retries. */
  private def maybeAutoCheckpoint(spark: SparkSession, tablePath: String,
                                  version: Long,
                                  configuration: Map[String, String]): Unit = {
    val interval = configuration.get("delta.checkpointInterval")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(10)
    if (interval > 0 && version > 0 && version % interval == 0)
      // delta.checkpointPolicy=v2 routes the automatic checkpoint through
      // the uuid-named v2 form (sidecar file-action shards) — the policy
      // is table state, same as delta-spark's
      try {
        if (configuration.get("delta.checkpointPolicy").exists(_.trim.equalsIgnoreCase("v2")))
          checkpointV2(spark, tablePath)
        else checkpoint(spark, tablePath)
      }
      catch {
        case scala.util.control.NonFatal(e) =>
          logger.warn(
            s"auto-checkpoint at $tablePath v$version failed (commit is " +
              s"durable; next interval retries): ${e.getMessage}")
      }
  }

  /** VACUUM: physically delete data files that are no longer part of the
    * current snapshot and are older than `retentionMs` (default: the
    * protocol's 1-week `delta.deletedFileRetentionDuration`). The retention
    * window is what makes deletion safe for concurrent readers of recent
    * snapshots / streaming consumers; time travel past vacuumed versions is
    * intentionally sacrificed, exactly as in Delta. Returns the deleted
    * relative paths (sorted). */
  def vacuum(spark: SparkSession, tablePath: String,
             retentionMs: Long = TOMBSTONE_RETENTION_MS,
             dryRun: Boolean = false): Seq[String] = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    // decoded (on-disk) form for comparison against the FS listing, folded
    // from the paged iterator — the driver never holds the raw path array
    val active = snap.fileSet.pathsIterator.map(decodePath).toSet
    val horizon = System.currentTimeMillis() - retentionMs
    val deletable = DataFiles.listDataFiles(fs, table).toSeq.filter { st =>
      val rel = relativize(table, st.getPath)
      // metadata/ is the UniForm (Iceberg) export dir: its parquet files
      // are position-delete files referenced by Iceberg manifests, never
      // orphaned Delta data — the sweep skips the subtree wholesale
      !rel.startsWith("_delta_log/") && !rel.startsWith("metadata/") &&
        !active.contains(rel) && st.getModificationTime < horizon
    }
    if (!dryRun) deletable.foreach(st => fs.delete(st.getPath, false))
    // deletion-vector bins are deletable once no ACTIVE add references
    // them (e.g. after REORG PURGE / CoW rewrites materialized the DVs)
    val liveDvFiles: Set[String] = snap.fileSet.dvFiles
      .flatMap(_.deletionVector.flatMap(_.filePath(tablePath)))
      .map(_.toUri.getPath).toSet
    val dvDeletable = {
      val it = fs.listStatus(table).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith("deletion_vector_") && n.endsWith(".bin") &&
          !liveDvFiles.contains(st.getPath.toUri.getPath) &&
          st.getModificationTime < horizon
      }
      if (!dryRun) it.foreach(st => fs.delete(st.getPath, false))
      it.map(st => relativize(table, st.getPath))
    }
    (deletable.map(st => relativize(table, st.getPath)) ++ dvDeletable).sorted
  }

  /** VACUUM LITE: derive the deletable set from the LOG's tombstones
    * instead of listing the data tree — delta-spark 3.1's LITE mode. On a
    * 100 TB object-store table the recursive listing IS the vacuum cost
    * (millions of keys paged at ~1000/call); tombstones are already bounded
    * by what was removed and replayed in the snapshot. The trade: LITE
    * cannot see files the log never knew (failed-write debris) — run a
    * full [[vacuum]] occasionally for those; correctness of what LITE does
    * delete is identical (a tombstone past retention with no later re-add
    * is exactly the full path's condition). DV bins are left to the full
    * pass. Returns deleted relative paths (sorted). */
  def vacuumLite(spark: SparkSession, tablePath: String,
                 retentionMs: Long = TOMBSTONE_RETENTION_MS,
                 dryRun: Boolean = false): Seq[String] = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val horizon = System.currentTimeMillis() - retentionMs
    val deleted = snap.tombstones.iterator
      .filter(_.deletionTimestamp < horizon)
      .map(t => decodePath(t.path))
      .filter { rel =>
        val p = new Path(table, rel)
        fs.exists(p) && (dryRun || fs.delete(p, false))
      }
      .toSeq
    deleted.sorted
  }

  /** GENERATE symlink_format_manifest — the artifact that lets manifest-
    * based engines (Athena/Presto/Hive — the reference's consumer world)
    * query a Delta table as plain parquet: one `manifest` text file per
    * partition directory under `_symlink_format_manifest/`, each listing
    * the absolute URIs of the partition's ACTIVE data files at the current
    * snapshot. Refused on DV-carrying tables (a manifest consumer would
    * resurrect deleted rows — delta-spark's own rule). The write is
    * DISTRIBUTED: executors group file paths by partition dir and write
    * their manifests directly; the driver never materializes the file
    * list (DeltaFileSet discipline — it collects only the PARTITION DIR
    * names, bounded by partition count, to reconcile stale dirs).
    *
    * Write-then-sweep ordering (ADVICE r11): new manifests are written
    * FIRST (each per-partition `manifest` overwrite is atomic enough for
    * a text file), and only then are STALE partition dirs — those on disk
    * but absent from the new snapshot — removed. A concurrent manifest
    * consumer therefore always sees a complete manifest set (old or new
    * per partition), never an empty or partial tree, which the previous
    * delete-everything-first order could expose.
    *
    * Staleness contract: manifests reflect the snapshot AT GENERATION
    * TIME. Commits landing afterwards leave them stale until the next
    * GENERATE — same as delta-spark without the
    * `delta.compatibility.symlinkFormatManifest.enabled` auto-refresh
    * property (not implemented here; callers re-run GENERATE after
    * writes, as the SQL surface documents). Returns the manifest count. */
  def generateManifest(spark: SparkSession, tablePath: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    require(snap.fileSet.dvFiles.isEmpty,
      s"cannot GENERATE manifest for $tablePath: deletion vectors present — " +
        "REORG TABLE … APPLY (PURGE) first (a manifest reader would resurrect deleted rows)")
    val table = new Path(tablePath)
    val conf = spark.sessionState.newHadoopConf()
    val fs = table.getFileSystem(conf)
    val root = new Path(table, "_symlink_format_manifest")
    val tableAbs = fs.makeQualified(table).toString
    val rootStr = fs.makeQualified(root).toString
    val partCols = snap.partitionColumns.map(snap.physicalFieldName)
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    // Dataset (not RDD) group-by: the per-partition manifest shuffle stays
    // in Tungsten UnsafeRow serialization. The old RDD groupByKey shuffled
    // (String, String) pairs through the auto-selected Kryo serializer,
    // whose init reflects into java.nio — fine under sbt's forked JVM
    // (--add-opens) but a hard failure under a bare `java -cp` launch.
    import spark.implicits._
    val written = snap.fileSet.df.map { row =>
        val f = DeltaFileSet.decode(row)
        val uri =
          if (f.path.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*"))
            new Path(new java.net.URI(f.path)).toString
          else if (f.path.startsWith("/"))
            // scheme-less absolute (clone-recorded): qualify like the
            // relative entries, or a consumer on a non-default FS resolves
            // it against the wrong filesystem
            new Path(new java.net.URI(f.path)).getFileSystem(bcConf.value.value)
              .makeQualified(new Path(new java.net.URI(f.path))).toString
          else s"$tableAbs/${DeltaActions.decodePath(f.path)}"
        val dir = partCols.map { c =>
          // a PRESENT key with null value is the hive default partition
          // (the writer's own convention); non-null values hive-escape so
          // the manifest dir parses like the data dir would
          val v = Option(f.partitionValues.getOrElse(c, null))
            .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
            .getOrElse("__HIVE_DEFAULT_PARTITION__")
          s"$c=$v"
        }.mkString("/")
        (dir, uri)
      }
      .groupByKey(_._1)
      .mapGroups { (dir, it) =>
        val out = new Path(if (dir.isEmpty) rootStr else s"$rootStr/$dir", "manifest")
        val f = out.getFileSystem(bcConf.value.value)
        val os = f.create(out, true)
        try it.map(_._2).toSeq.sorted.foreach { u =>
          os.write(u.getBytes(java.nio.charset.StandardCharsets.UTF_8)); os.write('\n')
        } finally os.close()
        dir
      }.collect()
    // sweep AFTER the new set is fully in place: partition dirs whose
    // manifest was not regenerated hold partitions no longer in the
    // snapshot (dropped by overwrite/delete) — remove them so a consumer
    // doesn't read vanished partitions; live dirs were overwritten above
    val fresh = written.toSet
    def sweep(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) {
          val childRel = if (rel.isEmpty) st.getPath.getName
                         else s"$rel/${st.getPath.getName}"
          val hasManifest = fs.exists(new Path(st.getPath, "manifest"))
          if (hasManifest && !fresh.contains(childRel)) fs.delete(st.getPath, true)
          else sweep(st.getPath, childRel)
        } else if (st.getPath.getName == "manifest" && rel.isEmpty &&
                   !fresh.contains(""))
          fs.delete(st.getPath, false) // stale root manifest (unpartitioned)
      }
    if (fs.exists(root)) sweep(root, "")
    written.length.toLong
  }

  /** REORG TABLE … APPLY (PURGE): materialize deletion vectors — every
    * DV-carrying file is rewritten WITHOUT its deleted rows and re-added
    * clean (layout-only: logical content unchanged, `dataChange=false`).
    * After a purge (+ retention) VACUUM can reclaim the DV bins, and the
    * files become eligible for OPTIMIZE compaction again. */
  def reorgPurge(spark: SparkSession, tablePath: String): Option[Long] = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    val withDv = snap.fileSet.dvFiles
    if (withDv.isEmpty) return None
    // DV-aware read of just the affected files = their LIVE rows (tracked
    // tables: ids ride along — purging deleted rows moves none of them)
    val live = relationOverWithIds(spark, snap, withDv)
    Some(commitRewrite(spark, snap, withDv, Some(live), dataChange = false,
      operation = "REORG", opParams = Map("applyPurge" -> "true"),
      extraDataCols = trackedMatCols(snap).toSeq.flatMap(c => Seq(c._1, c._2)),
      preservesRowIds = trackedMatCols(snap).isDefined,
      readSet = layoutReadSet(withDv)))
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: commit a metaData action with
    * the merged configuration (schema/partitioning unchanged). This is
    * how `delta.appendOnly` etc. get turned on for tables this engine
    * owns. Returns the new version. */
  def setProperties(spark: SparkSession, tablePath: String,
                    updates: Map[String, String],
                    removals: Seq[String] = Nil): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "SET TBLPROPERTIES")
    val merged = (snap.configuration -- removals) ++ updates
    if (merged == snap.configuration) return snap.version
    require(merged.get("delta.columnMapping.mode") ==
      snap.configuration.get("delta.columnMapping.mode") ||
      merged.getOrElse("delta.columnMapping.mode", "none") == "none",
      "use enableColumnMapping to turn on column mapping (schema needs id/physicalName assignment)")
    require(RowTracking.isEnabled(merged) == RowTracking.isEnabled(snap.configuration),
      "use enableRowTracking to turn on row tracking (existing files need baseRowId backfill)")
    // ALTER TABLE ADD CONSTRAINT semantics: a newly added CHECK constraint
    // must already hold over the EXISTING rows (one scan through the native
    // reader, predicate pushed down), and the commit raises the writer
    // protocol to 3 (the version that introduces CHECK constraints).
    val newConstraints = updates.filter { case (k, _) =>
      k.startsWith("delta.constraints.") && !snap.configuration.contains(k)
    }
    if (newConstraints.nonEmpty)
      enforceConstraints(DeltaSnapshotReader.load(spark, tablePath), newConstraints,
        s"existing rows of $tablePath")
    // ADD CONSTRAINT read the WHOLE table to validate existing rows — a
    // concurrent data winner would dodge the check, so it must abort the
    // retry (ConcurrentAppend/DeleteRead); plain property changes carry the
    // empty metadata-plane footprint and retry through data winners. The
    // footprint is predicate-shaped (wholeTableFiles), never a collected
    // path set — at millions of adds the old `snap.files` materialization
    // was the planning bottleneck (VERDICT r16 #1).
    val rs =
      if (newConstraints.isEmpty) metadataPlaneReadSet
      else ConflictChecker.TxnReadSet(readsData = true, partitionPredicate = None,
        readFiles = Set.empty, removedPaths = Set.empty, wholeTableFiles = true)
    // In-commit timestamps: the ENABLING commit itself already carries one
    // ([[transact]] stamps it from the merged configuration) and records
    // the enablement version/timestamp provenance properties (the spec's
    // rule that lets timestamp travel mix mtimes below the enablement point
    // with ICTs above it).
    val enablingIct = ictEnabled(merged) && !ictEnabled(snap.configuration)
    transact(spark, tablePath, Some(snap), "SET TBLPROPERTIES", Map.empty, Check(rs),
        config = Some(merged)) { a =>
      val mergedOut =
        if (!enablingIct) merged
        else merged ++ Map(
          "delta.inCommitTimestampEnablementVersion" -> a.version.toString,
          "delta.inCommitTimestampEnablementTimestamp" -> a.ict.get.toString)
      val lines = Seq.newBuilder[String]
      // CHECK constraints need writer protocol ≥ 3, change data feed ≥ 4,
      // in-commit timestamps the protocol-7 feature — merge with the
      // existing protocol (never downgrade a reader version or drop features)
      val base = snap.protocol.getOrElse(DeltaProtocol(1, 2))
      val needWriter = Seq(
        if (ChangeDataFeed.isEnabled(merged)) 4 else 0,
        if (merged.keys.exists(_.startsWith("delta.constraints."))) 3 else 0).max
      if (enablingIct &&
          !base.writerFeatures.exists(_.contains("inCommitTimestamp"))) {
        val implied = legacyWriterFeatures(base.minWriterVersion.max(needWriter))
        lines += protocolJson(DeltaProtocol(base.minReaderVersion, 7, base.readerFeatures,
          Some((base.writerFeatures.getOrElse(Seq.empty) ++ implied :+ "inCommitTimestamp").distinct)))
      } else if (needWriter > base.minWriterVersion)
        lines += protocolJson(base.copy(minWriterVersion = needWriter))
      lines += metaDataJson(Some(snap), snap.schema.json,
        snap.partitionColumns, mergedOut)
      lines.result()
    }
  }

  /** ALTER TABLE … SET ('delta.columnMapping.mode' = 'name') — the UPGRADE
    * path onto column mapping, and the gateway to zero-rewrite RENAME /
    * DROP COLUMN. Metadata-only: every (nested) field gets a fresh id and
    * `physicalName` := its CURRENT name (existing parquet already stores
    * data under those names), so not a single data file is touched.
    * `id` mode cannot be retrofitted (existing files carry no field IDs) —
    * as in delta-spark, only `name` upgrades are legal. */
  def enableColumnMapping(spark: SparkSession, tablePath: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "ALTER COLUMN MAPPING")
    require(snap.physicalSchema.isEmpty, s"$tablePath already uses column mapping")
    // Mirror of enableRowTracking's physicalSchema guard: commitRewrite's
    // column-mapping branch selects only the logical schema fields, so the
    // materialized row-id/commit-version columns would be silently dropped
    // on the next rewrite — renumbering stable ids. Refuse the combination.
    require(!RowTracking.isEnabled(snap.configuration),
      s"column mapping on a row-tracked table is not supported ($tablePath): " +
        "rewrites would drop the materialized row-id columns")
    val (mappedSchema, maxId) = ColumnMapping.assignMapping(snap.schema)
    val merged = snap.configuration ++ Map(
      "delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> maxId.toString)
    // columnMapping protocol floor: reader 2 / writer 5 (legacy), or the
    // reader+writer feature pair when the table already uses feature gating
    val base = snap.protocol.getOrElse(DeltaProtocol(1, 2))
    val bumped =
      if (base.minWriterVersion == 7 || base.writerFeatures.isDefined)
        DeltaProtocol(3, 7,
          Some((base.readerFeatures.getOrElse(Seq.empty) :+ "columnMapping").distinct),
          Some((base.writerFeatures.getOrElse(Seq.empty) :+ "columnMapping").distinct))
      else base.copy(minReaderVersion = base.minReaderVersion.max(2),
        minWriterVersion = base.minWriterVersion.max(5))
    commitMetadata(spark, snap, mappedSchema, snap.partitionColumns, merged,
      Some(bumped).filterNot(_ == base), "ALTER TABLE",
      Map("columnMapping.mode" -> "name"))
  }

  /** CREATE a column-mapped table — delta-spark's
    * `CREATE TABLE … TBLPROPERTIES ('delta.columnMapping.mode'='id'|'name')`.
    * Unlike the ALTER upgrade ([[enableColumnMapping]], where physicalName
    * must equal the current name because existing parquet already stores
    * it), creation assigns FRESH `col-<uuid>` physical names: the parquet
    * files never store a logical name, and in `id` mode they additionally
    * carry parquet field IDs (the mode delta-spark defaults to when
    * `delta.columnMapping.mode=id`), so readers MUST resolve through the
    * mapping — reference delta-standalone 0.2.0 predates this entirely
    * (reference build.sbt:37). */
  def createColumnMapped(df: DataFrame, tablePath: String, mode: String,
                         partitionBy: Seq[String] = Nil): Long = synchronized {
    require(mode == "name" || mode == "id", s"columnMapping.mode=$mode")
    val spark = df.sparkSession
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    require(!LogListing.read(fs, tablePath).hasCommits,
      s"createColumnMapped: $tablePath already exists (use enableColumnMapping to upgrade)")
    // ids via the shared assigner, then fresh uuid physical names at every
    // (nested) struct level — creation-time mapping is never name-derived
    val (assigned, maxId) = ColumnMapping.assignMapping(df.schema)
    def freshen(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case st: StructType => StructType(st.fields.map { f =>
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(ColumnMapping.PhysicalNameKey, s"col-${UUID.randomUUID()}").build()
          org.apache.spark.sql.types.StructField(f.name, freshen(f.dataType), f.nullable, md)
        })
        case org.apache.spark.sql.types.ArrayType(et, n) =>
          org.apache.spark.sql.types.ArrayType(freshen(et), n)
        case org.apache.spark.sql.types.MapType(k, v, n) =>
          org.apache.spark.sql.types.MapType(freshen(k), freshen(v), n)
        case other => other
      }
    val mapped = freshen(assigned).asInstanceOf[StructType]
    val physicalSchema =
      ColumnMapping.toPhysical(mapped, withFieldIds = mode == "id").asInstanceOf[StructType]
    if (mode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val physByLogical = mapped.fields.zip(physicalSchema.fields)
      .map { case (lf, pf) => lf.name -> pf.name }.toMap
    val diskPartitionBy = partitionBy.map(physByLogical)
    val diskData = ColumnMapping.renameToPhysical(df, mapped, physicalSchema)
    val physDataSchema = StructType(
      physicalSchema.fields.filterNot(f => diskPartitionBy.contains(f.name)))
    val adds = DataFiles.write(diskData, table, s"c-${UUID.randomUUID()}", diskPartitionBy,
      Some(DataFiles.statColumns(physDataSchema, Map.empty))).map(_.toAdd(diskPartitionBy))
    transact(spark, tablePath, None, "CREATE TABLE", Map("columnMapping.mode" -> mode), Surface) { _ =>
      Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        metaDataJson(None, mapped.json, partitionBy,
          Map("delta.columnMapping.mode" -> mode,
            "delta.columnMapping.maxColumnId" -> maxId.toString))) ++
        adds.map(addLine(_, dataChange = true))
    }
  }

  /** ALTER TABLE … SET ('delta.enableRowTracking' = 'true') — upgrade onto
    * row tracking. One metadata-shaped commit: protocol moves to writer 7
    * with the `rowTracking` + `domainMetadata` features (legacy-implied
    * features enumerated), every EXISTING file is re-added (dataChange
    * = false, not a byte rewritten) with a freshly minted `baseRowId`
    * range in path order, and the high-water mark lands in the
    * `delta.rowTracking` domain. Requires numRecords stats on every file
    * (this writer always records them; a foreign stats-less table refuses
    * loudly rather than guessing ranges). */
  def enableRowTracking(spark: SparkSession, tablePath: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "ALTER ROW TRACKING")
    require(!RowTracking.isEnabled(snap.configuration),
      s"$tablePath already has row tracking enabled")
    require(snap.physicalSchema.isEmpty,
      s"row tracking on a column-mapped table is not supported ($tablePath)")
    val version = snap.version + 1
    // Distributed backfill: baseRowIds are a PREFIX SUM of numRecords in
    // path order. Sort the add set by path on executors, collect only the
    // per-partition record totals (≤ numPartitions longs), then render each
    // partition's re-add lines executor-side and STREAM them into the
    // commit file one partition at a time — the driver never materializes
    // the file list (same discipline as the v2-checkpoint sidecar writes).
    val sortedAdds = snap.fileSet.df.rdd.map(DeltaFileSet.decode).sortBy(_.path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perPart = sortedAdds.mapPartitionsWithIndex { (i, it) =>
      Iterator.single(i -> it.map(f => f.stats.flatMap(DataSkipping.parse)
        .flatMap(_.numRecords).getOrElse(throw new IllegalStateException(
          s"row tracking requires numRecords stats on every add (${f.path} has none)")))
        .sum)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = perPart.scanLeft(0L)(_ + _)
    val hwm = offsets.last - 1
    // materialized-column names are fixed at enablement (the spec's
    // preservation mechanism: OPTIMIZE writes ids INTO rewritten files
    // under these physical-only names; readers prefer them)
    val suffix = UUID.randomUUID().toString
    val merged = snap.configuration ++ Map(
      RowTracking.EnableKey -> "true",
      RowTracking.MaterializedIdKey -> s"_row-id-col-$suffix",
      RowTracking.MaterializedVerKey -> s"_row-commit-version-col-$suffix")
    val base = snap.protocol.getOrElse(DeltaProtocol(1, 2))
    val bumped = DeltaProtocol(base.minReaderVersion, 7, base.readerFeatures,
      Some((base.writerFeatures.getOrElse(Seq.empty) ++
        legacyWriterFeatures(base.minWriterVersion) ++
        Seq("domainMetadata", "rowTracking")).distinct))
    // per-partition id assignment against the prefix offsets; partition
    // values render under their logical names (column mapping is refused
    // above, so logical == physical here)
    val addLines = sortedAdds.mapPartitionsWithIndex { (i, it) =>
      RowTracking.assign(it.toVector, offsets(i) - 1, version)._1.iterator
        .map(addLine(_, dataChange = false))
    }
    try
      transact(spark, tablePath, Some(snap), "ALTER TABLE", Map("rowTracking" -> "enabled"),
          Surface, tail = Some(() => addLines.toLocalIterator ++
            Iterator.single(domainLine(RowTracking.Domain, RowTracking.hwmConfigJson(hwm))))) { _ =>
        Seq(protocolJson(bumped), metaDataJson(Some(snap), snap.schema.json,
          snap.partitionColumns, merged))
      }
    finally sortedAdds.unpersist(blocking = false)
  }

  /** Recompute per-file footer stats for every active data file and
    * RE-ADD the files carrying them — one metadata-shaped commit, not a
    * byte of data rewritten (`dataChange=false`). This is the remedy the
    * stats-dependent surfaces name for foreign/stats-less tables
    * (delta-standalone writers, `convertToDelta(collectStats=false)`):
    * afterwards data skipping, stats-only aggregation, row-tracking
    * enablement and UniForm export all have the numRecords/min/max they
    * require. Stats honor the same `delta.dataSkippingNumIndexedCols`
    * budget as the write paths and are read from parquet FOOTERS
    * executor-side; the re-add lines STREAM into the commit one partition
    * at a time — the driver never holds the file list (the row-tracking
    * backfill discipline, which also keeps the crc arithmetic honest:
    * re-adds of live paths without removes are outside it, and a commit
    * with a streamed tail always renders its crc from the snapshot).
    * A file whose footer is unreadable keeps its previous stats (absence
    * stays conservative). */
  def recomputeStats(spark: SparkSession, tablePath: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "COMPUTE STATISTICS")
    val root = snap.qualifiedTableRoot
    val statCols = DataFiles.statColumns(snap.physicalDataSchema, snap.configuration)
    val keys = physicalKeys(snap)
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val addLines = snap.fileSet.df.rdd.map(DeltaFileSet.decode).map { f =>
      val abs = DeltaActions.normAbsolute(root, f.path)
      addLine(withKeys(f, keys).copy(
        stats = DataFiles.footerStatsJson(new Path(abs), bcConf.value.value, statCols).orElse(f.stats)),
        dataChange = false)
    }
    transact(spark, tablePath, Some(snap), "COMPUTE STATS", Map.empty, Surface,
      tail = Some(() => addLines.toLocalIterator))(_ => Nil)
  }

  /** ALTER TABLE … ALTER COLUMN … SET DEFAULT expr: declare a foldable,
    * deterministic default for an EXISTING column; subsequent write
    * batches may omit the column. Gates the protocol with the
    * `allowColumnDefaults` writer feature. Identity and generated columns
    * own their values — defaults on them refuse. */
  def setColumnDefault(spark: SparkSession, tablePath: String,
                       column: String, sqlExpr: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "ALTER COLUMN SET DEFAULT")
    require(snap.schema.fieldNames.contains(column), s"unknown column $column")
    require(!IdentityColumns.of(snap.schema).exists(_.name == column),
      s"$column is an identity column — the writer assigns its values")
    require(!GeneratedColumns.of(snap.schema).exists(_._1.name == column),
      s"$column is a generated column — its expression assigns the values")
    ColumnDefaults.validate(spark, column, sqlExpr, snap.schema(column).dataType)
    val base = snap.protocol.getOrElse(DeltaProtocol(1, 2))
    val bumped = DeltaProtocol(base.minReaderVersion, 7, base.readerFeatures,
      Some((base.writerFeatures.getOrElse(Seq.empty) ++
        legacyWriterFeatures(base.minWriterVersion) :+ "allowColumnDefaults").distinct))
    commitMetadata(spark, snap,
      ColumnDefaults.withDefault(snap.schema, column, Some(sqlExpr)),
      snap.partitionColumns, snap.configuration,
      Some(bumped).filterNot(_ == base), "ALTER TABLE",
      Map("setDefault" -> s"$column = $sqlExpr"))
  }

  /** ALTER TABLE … ALTER COLUMN … DROP DEFAULT. */
  def dropColumnDefault(spark: SparkSession, tablePath: String,
                        column: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "ALTER COLUMN DROP DEFAULT")
    require(ColumnDefaults.of(snap.schema).exists(_.name == column),
      s"$column has no default on $tablePath")
    commitMetadata(spark, snap,
      ColumnDefaults.withDefault(snap.schema, column, None),
      snap.partitionColumns, snap.configuration, None, "ALTER TABLE",
      Map("dropDefault" -> column))
  }

  /** ALTER TABLE RENAME COLUMN — legal ONLY under column mapping (the
    * physical name stays put, so no data file is rewritten; that is the
    * point of the mapping). Refused while CHECK constraints or generation
    * expressions reference the column (their SQL text would dangle). */
  def renameColumn(spark: SparkSession, tablePath: String,
                   from: String, to: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "RENAME COLUMN")
    require(snap.physicalSchema.isDefined,
      s"RENAME COLUMN requires column mapping — call enableColumnMapping($tablePath) first")
    require(snap.schema.fieldNames.contains(from), s"unknown column $from")
    require(!snap.schema.fieldNames.contains(to), s"column $to already exists")
    assertUnreferenced(snap, from, "rename")
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    commitMetadata(spark, snap, newSchema,
      snap.partitionColumns.map(c => if (c == from) to else c),
      snap.configuration, None, "RENAME COLUMN", Map("from" -> from, "to" -> to))
  }

  /** ALTER TABLE RENAME COLUMN on a NESTED leaf — `path` is the dotted
    * logical path with Delta's pseudo-segments traversing containers:
    * `element` (array), `key` / `value` (map); a bare array is also
    * traversed implicitly (`items.qty` ≡ `items.element.qty`). Column
    * mapping required, metadata-only like the top-level form: every
    * parquet file keeps the leaf's `physicalName`, only the LOGICAL
    * display name in the schema changes — at 100 TB a deep rename is one
    * log commit, zero data files. The renamed field keeps its mapping
    * metadata (id + physicalName), which is exactly what lets the read
    * path's shape-preserving struct cast resolve it. */
  def renameNestedColumn(spark: SparkSession, tablePath: String,
                         path: String, to: String): Long = synchronized {
    import org.apache.spark.sql.types._
    val segs = path.split("\\.").toSeq
    require(segs.length >= 2,
      s"renameNestedColumn is for nested fields; use renameColumn for top-level ($path)")
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "RENAME COLUMN")
    require(snap.physicalSchema.isDefined,
      s"RENAME COLUMN requires column mapping — call enableColumnMapping($tablePath) first")
    // conservative SQL-text reference check on the full dotted path
    assertUnreferenced(snap, path, "rename")
    def renameIn(st: StructType, rest: Seq[String]): StructType = rest match {
      case Seq(leaf) =>
        require(st.fieldNames.contains(leaf), s"unknown nested field '$leaf' in $path")
        require(!st.fieldNames.contains(to),
          s"sibling field '$to' already exists beside ${segs.init.mkString(".")}")
        StructType(st.fields.map(f => if (f.name == leaf) f.copy(name = to) else f))
      case head +: tail =>
        require(st.fieldNames.contains(head), s"unknown field '$head' in $path")
        StructType(st.fields.map(f =>
          if (f.name == head) f.copy(dataType = descend(f.dataType, tail)) else f))
      case _ => throw new IllegalArgumentException(s"empty path $path")
    }
    def descend(dt: DataType, rest: Seq[String]): DataType = (dt, rest) match {
      case (ArrayType(et, n), "element" +: tail) if tail.nonEmpty => ArrayType(descend(et, tail), n)
      case (at: ArrayType, r) if !r.headOption.contains("element") =>
        ArrayType(descend(at.elementType, r), at.containsNull) // implicit element hop
      case (MapType(k, v, n), "key" +: tail) if tail.nonEmpty => MapType(descend(k, tail), v, n)
      case (MapType(k, v, n), "value" +: tail) if tail.nonEmpty => MapType(k, descend(v, tail), n)
      case (st: StructType, r) => renameIn(st, r)
      case _ => throw new IllegalArgumentException(
        s"cannot traverse ${dt.simpleString} with '${rest.mkString(".")}' in $path")
    }
    val newSchema = renameIn(snap.schema, segs)
    commitMetadata(spark, snap, newSchema, snap.partitionColumns, snap.configuration,
      None, "RENAME COLUMN",
      Map("from" -> path, "to" -> (segs.init :+ to).mkString(".")))
  }

  /** ALTER TABLE DROP COLUMN — column mapping required (the data stays in
    * the files, unreferenced; readers simply stop projecting it). Dropping
    * a GENERATED column drops its expression with it; dropping a column
    * another expression/constraint references is refused. */
  /** ALTER COLUMN … TYPE <wider> — the `typeWidening` reader-writer table
    * feature: a METADATA-ONLY commit widens a column's logical type while
    * existing parquet files keep the narrower physical encoding; every scan
    * upcasts them natively (Spark's parquet readers decode INT32 into
    * LongType, FLOAT into DoubleType, and same-scale lower-precision
    * decimals — both vectorized and row-based). Not a single data file is
    * rewritten: at 100 TB this is the difference between an instant ALTER
    * and a full-table rewrite. Appends after the change write the wide
    * type; file stats stay valid (numeric min/max parse identically under
    * the wider type, so data skipping is unaffected).
    *
    * Supported widenings are exactly the ones the scan layer upcasts:
    * byte→short→int→long (any ascending step), float→double, and
    * decimal(p,s)→decimal(p',s) with p' > p. The spec's provenance record
    * (`delta.typeChanges` field metadata with from/to/tableVersion) is
    * written so foreign readers can reason about when files narrowed. The
    * commit raises the protocol to reader 3 / writer 7 with `typeWidening`
    * in BOTH feature lists — readers unaware of the feature must refuse
    * rather than mis-decode the narrow files. */
  def widenColumnType(spark: SparkSession, tablePath: String, colName: String,
                      newType: org.apache.spark.sql.types.DataType): Long = synchronized {
    import org.apache.spark.sql.types._
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "ALTER COLUMN TYPE")
    require(snap.schema.fieldNames.contains(colName),
      s"no such column $colName in $tablePath (top-level columns only)")
    require(!snap.partitionColumns.contains(colName),
      s"cannot widen partition column $colName (partition values are path-encoded strings)")
    val idx = snap.schema.fieldIndex(colName)
    val field = snap.schema.fields(idx)
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) => t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
    require(widens(field.dataType, newType),
      s"unsupported type change ${field.dataType.simpleString} -> ${newType.simpleString} for $colName; " +
        "supported: byte->short->int->long, float->double, decimal(p,s)->decimal(p',s) with p'>p")
    val prior: Array[Metadata] =
      if (field.metadata.contains("delta.typeChanges"))
        field.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty
    val entry = Metadata.fromJson(
      s"""{"fromType":${q(field.dataType.typeName)},"toType":${q(newType.typeName)},"tableVersion":${snap.version + 1}}""")
    val newMeta = new MetadataBuilder().withMetadata(field.metadata)
      .putMetadataArray("delta.typeChanges", prior :+ entry).build()
    val newSchema = StructType(
      snap.schema.fields.updated(idx, field.copy(dataType = newType, metadata = newMeta)))
    val base = snap.protocol.getOrElse(DeltaProtocol(1, 2))
    val impliedReader = if (base.minReaderVersion >= 2) Seq("columnMapping") else Nil
    val newProtocol = DeltaProtocol(3, 7,
      Some((base.readerFeatures.getOrElse(Seq.empty) ++ impliedReader :+ "typeWidening").distinct),
      Some((base.writerFeatures.getOrElse(Seq.empty) ++
        legacyWriterFeatures(base.minWriterVersion) :+ "typeWidening").distinct))
    commitMetadata(spark, snap, newSchema, snap.partitionColumns, snap.configuration,
      Some(newProtocol), "ALTER COLUMN TYPE",
      Map("column" -> colName, "from" -> field.dataType.typeName, "to" -> newType.typeName))
  }

  def dropColumn(spark: SparkSession, tablePath: String, name: String): Long = synchronized {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "DROP COLUMN")
    require(snap.physicalSchema.isDefined,
      s"DROP COLUMN requires column mapping — call enableColumnMapping($tablePath) first")
    require(snap.schema.fieldNames.contains(name), s"unknown column $name")
    require(!snap.partitionColumns.contains(name), s"cannot drop partition column $name")
    require(snap.schema.length > 1, s"cannot drop the only column of $tablePath")
    assertUnreferenced(snap, name, "drop")
    val newSchema = StructType(snap.schema.fields.filterNot(_.name == name))
    commitMetadata(spark, snap, newSchema, snap.partitionColumns,
      snap.configuration, None, "DROP COLUMN", Map("column" -> name))
  }

  /** ALTER TABLE … ADD COLUMNS — METADATA-ONLY: the new fields are appended
    * NULLABLE (they are absent from every existing parquet file, and both
    * the plain and the mapped scan path fill missing columns with null —
    * the same contract the mergeSchema append evolution already rides).
    * Not a data file is touched: at 100 TB an ADD COLUMN is instant.
    * On a column-mapped table every new (nested) field draws a fresh
    * column id above `delta.columnMapping.maxColumnId` and a col-uuid
    * physical name, exactly like a mapped CREATE. */
  def addColumns(spark: SparkSession, tablePath: String,
                 cols: Seq[org.apache.spark.sql.types.StructField]): Long = synchronized {
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(snap, "ADD COLUMNS")
    cols.foreach { f =>
      require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"column ${f.name} already exists in $tablePath")
    }
    require(cols.map(_.name.toLowerCase).distinct.size == cols.size,
      s"duplicate column names in ADD COLUMNS: ${cols.map(_.name).mkString(",")}")
    if (snap.physicalSchema.isEmpty) {
      val newSchema = StructType(snap.schema.fields ++ cols.map(_.copy(nullable = true)))
      commitMetadata(spark, snap, newSchema, snap.partitionColumns, snap.configuration,
        None, "ADD COLUMNS", Map("columns" -> cols.map(_.name).mkString(",")))
    } else {
      var nextId = snap.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse(0L)
      def mapType(dt: DataType): DataType = dt match {
        case st: StructType => StructType(st.fields.map { f =>
          nextId += 1
          val md = new MetadataBuilder().withMetadata(f.metadata)
            .putLong(ColumnMapping.ColumnIdKey, nextId)
            .putString(ColumnMapping.PhysicalNameKey, s"col-${UUID.randomUUID()}").build()
          StructField(f.name, mapType(f.dataType), f.nullable, md)
        })
        case ArrayType(et, n) => ArrayType(mapType(et), n)
        case MapType(k, v, n) => MapType(mapType(k), mapType(v), n)
        case other => other
      }
      val mappedNew = cols.map { f =>
        nextId += 1
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(ColumnMapping.ColumnIdKey, nextId)
          .putString(ColumnMapping.PhysicalNameKey, s"col-${UUID.randomUUID()}").build()
        StructField(f.name, mapType(f.dataType), nullable = true, md)
      }
      val newSchema = StructType(snap.schema.fields ++ mappedNew)
      commitMetadata(spark, snap, newSchema, snap.partitionColumns,
        snap.configuration + ("delta.columnMapping.maxColumnId" -> nextId.toString),
        None, "ADD COLUMNS", Map("columns" -> cols.map(_.name).mkString(",")))
    }
  }

  /** Conservative reference check: refuse renames/drops while the column's
    * NAME appears as a word in any CHECK constraint or another column's
    * generation expression (SQL-text rewriting is delta-spark's behavior
    * for neither; a dangling reference would poison every later write). */
  private def assertUnreferenced(snap: DeltaSnapshot, colName: String, op: String): Unit = {
    val word = ("""(?i)(?<![A-Za-z0-9_`])""" + java.util.regex.Pattern.quote(colName) +
      """(?![A-Za-z0-9_`])""").r
    snap.configuration.foreach { case (k, v) =>
      if (k.startsWith("delta.constraints.") && word.findFirstIn(v).isDefined)
        throw new IllegalArgumentException(
          s"cannot $op column $colName: referenced by constraint $k ($v)")
    }
    GeneratedColumns.of(snap.schema).foreach { case (f, sql) =>
      if (f.name != colName && word.findFirstIn(sql).isDefined)
        throw new IllegalArgumentException(
          s"cannot $op column $colName: referenced by generated column ${f.name} ($sql)")
    }
  }

  /** Commit a single domainMetadata declaration (plus optional protocol
    * upgrade) — the shape CLUSTER BY-style metadata features commit. It
    * declares its DOMAIN: a winner that updated the same domain aborts the
    * retry (re-publishing state derived from the stale snapshot would
    * silently lose the winner's update — delta-spark's domain rule). */
  private[delta] def commitDomain(spark: SparkSession, snap: DeltaSnapshot,
                                  domain: String, configuration: String,
                                  newProtocol: Option[DeltaProtocol],
                                  operation: String, params: Map[String, String]): Long = {
    assertWritable(snap, operation)
    transact(spark, snap.tablePath, Some(snap), operation, params,
        Check(metadataPlaneReadSet.copy(domains = Set(domain)))) { _ =>
      newProtocol.map(protocolJson).toSeq :+ domainLine(domain, configuration)
    }
  }

  /** Metadata-plane footprint: reads/writes no data files, so data-only
    * winners (appends, disjoint DML, OPTIMIZE) commute; any concurrent
    * metadata/protocol change aborts typed. */
  private val metadataPlaneReadSet = ConflictChecker.TxnReadSet(
    readsData = false, partitionPredicate = None,
    readFiles = Set.empty, removedPaths = Set.empty)

  /** Commit a metadata-only change (schema / partition names / config),
    * optionally with a protocol upgrade. Conflict-checked retry with the
    * empty footprint: an ALTER racing live ingest retries and lands, while
    * a concurrent metadata/protocol change aborts typed (the new schema
    * was derived from a snapshot that no longer describes the table). */
  private def commitMetadata(spark: SparkSession, snap: DeltaSnapshot,
                             schema: StructType, partitionColumns: Seq[String],
                             configuration: Map[String, String],
                             newProtocol: Option[DeltaProtocol],
                             operation: String, params: Map[String, String]): Long =
    transact(spark, snap.tablePath, Some(snap), operation, params, Check(metadataPlaneReadSet),
        config = Some(configuration)) { a =>
      newProtocol.map(protocolJson).toSeq :+
        metaDataJson(a.cur, schema.json, partitionColumns, configuration)
    }

  /** RESTORE TABLE TO VERSION AS OF `version`: commit a diff that makes
    * the LATEST state equal the old snapshot — re-adds files the old
    * version had (they must still exist physically, i.e. not VACUUMed)
    * and removes files added since; reverts schema if it evolved. History
    * is preserved (the restore is itself a new commit, so restore can be
    * undone by another restore), exactly Delta's semantics. */
  def restore(spark: SparkSession, tablePath: String, version: Long): Long = synchronized {
    val cur = DeltaSnapshotReader.snapshot(spark, tablePath)
    assertWritable(cur, "RESTORE")
    require(version <= cur.version, s"cannot restore to future version $version (latest ${cur.version})")
    if (version == cur.version) return cur.version
    val target = DeltaSnapshotReader.snapshotAt(spark, tablePath, Some(version))
    require(target.partitionColumns == cur.partitionColumns,
      s"restore across repartitioning not supported")
    // a file is its path and its deletion vector: one whose vector differs
    // (a DV DELETE keeps the path) is removed and re-added with the
    // target's vector
    def key(f: AddFile) = (f.path, f.deletionVector)
    val curKeys = cur.files.map(key).toSet
    val targetKeys = target.files.map(key).toSet
    val readds = target.files.filterNot(f => curKeys.contains(key(f)))
    val removes = cur.files.filterNot(f => targetKeys.contains(key(f)))

    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    readds.foreach { f =>
      require(fs.exists(new Path(table, decodePath(f.path))),
        s"cannot restore: ${f.path} was vacuumed")
      f.deletionVector.flatMap(_.filePath(tablePath)).foreach(dv =>
        require(fs.exists(dv), s"cannot restore: the deletion vector of ${f.path} was vacuumed"))
    }

    require(!cur.isAppendOnly || removes.isEmpty,
      s"table $tablePath is delta.appendOnly=true: restore would remove data")
    transact(spark, tablePath, Some(cur), "RESTORE", Map("version" -> version.toString), Surface) { _ =>
      val now = System.currentTimeMillis()
      (if (target.schema != cur.schema || target.configuration != cur.configuration)
        Seq(metaDataJson(Some(cur), target.schema.json, target.partitionColumns, target.configuration))
      else Nil) ++
        removes.map(f => removeLine(physical(cur, f), now, dataChange = true)) ++
        // re-added files keep their original row-id range (restore moves the
        // table back to rows that already had ids; the mark never regresses)
        // and the target's deletion vector
        readds.map(f => addLine(physical(target, f), dataChange = true))
    }
  }

  /** Delete log entries that predate the newest checkpoint and have aged
    * past `retainMs` (the protocol's `delta.logRetentionDuration`, default
    * 30 days): commit JSONs below the checkpoint version and superseded
    * older checkpoint files. Readers bootstrap from the checkpoint, so the
    * snapshot is unaffected; time travel below the checkpoint is given up,
    * exactly as in Delta — without this, a streaming-ingest table's log
    * grows one file per commit forever. Returns deleted names (sorted). */
  def cleanupLog(spark: SparkSession, tablePath: String,
                 retainMs: Long = 30L * 24 * 60 * 60 * 1000): Seq[String] = synchronized {
    val log = LogListing.ofTable(spark, tablePath)
    val (fs, logDir) = (log.fs, log.logPath)
    if (log.checkpoints.isEmpty) return Nil // nothing to bootstrap from — keep all
    val cp = log.checkpoints.keys.max
    val horizon = System.currentTimeMillis() - retainMs
    // replay starts at the checkpoint: commits, superseded checkpoints,
    // compacted ranges and crcs that end below it go
    val deletable = log.entries.filter(st =>
      st.getModificationTime < horizon && log.versionOf(st).exists(_ < cp))
    deletable.foreach(st => fs.delete(st.getPath, false))
    // the catalog owner's registry ages with the log: claims and staged
    // bodies for versions below the bootstrap floor would otherwise (a)
    // accumulate one file per commit forever and (b) tempt recover() into
    // resurrecting commit JSONs this cleanup just deleted (recover also
    // refuses to backfill below the newest published version — belt and
    // braces, this is the suspenders)
    val registry = new Path(logDir, CatalogCommitOwner.CommitsDirName)
    val regDeleted =
      if (!fs.exists(registry)) Nil
      else {
        val dels = fs.listStatus(registry).filter { st =>
          st.getModificationTime < horizon && (st.getPath.getName match {
            case CatalogCommitOwner.claimRe(v) => v.toLong < cp
            case CatalogCommitOwner.stagedRe(v, _) => v.toLong < cp
            case _ => false
          })
        }
        dels.foreach(st => fs.delete(st.getPath, false))
        dels.map(st => CatalogCommitOwner.CommitsDirName + "/" + st.getPath.getName).toSeq
      }
    (deletable.map(_.getPath.getName) ++ regDeleted).sorted.toSeq
  }

  /** MINOR log compaction: write `_delta_log/<start>.<end>.compacted.json`
    * holding the reconciled actions of commit range [start, end] — the
    * protocol's optimized-log-replay aid. Readers substitute the one
    * compacted file for the range's individual commit JSONs during replay
    * (DeltaSnapshotReader.snapshotAt), so a streaming-ingest table with
    * thousands of small commits between checkpoints replays O(ranges)
    * files instead of O(commits). The commits themselves are untouched
    * (history, CDF and time travel inside the range still read them);
    * compaction is purely additive and idempotent.
    *
    * Reconciliation is the replay's own reducer ([[LogReplay]]): per-path
    * last file action with the add winning a same-version tie (the DV
    * remove+add-same-path commit shape), latest metaData/protocol, latest
    * txn per appId, latest domainMetadata per domain (tombstones kept — a
    * removed=true marker must keep shadowing older re-creations). `cdc` actions are not
    * carried: snapshot replay ignores them and CDF readers read the
    * original commits. Runs distributed; the driver streams the result
    * one partition at a time into the file, never holding the action
    * list. */
  def compactLog(spark: SparkSession, tablePath: String,
                 startVersion: Long, endVersion: Long): String = synchronized {
    require(startVersion >= 0 && endVersion > startVersion,
      s"invalid compaction range [$startVersion, $endVersion]")
    val log = LogListing.ofTable(spark, tablePath)
    val (fs, logDir) = (log.fs, log.logPath)
    val commitFiles = log.commitsIn(startVersion - 1, endVersion).map { case (v, st) => v -> st.getPath }
    val actions = LogReplay.actions(spark, actionSchema, commitFiles)
    // the replay's own reducer: one surviving action per key (a remove
    // winner is a tombstone line, a removed=true domain stays a marker);
    // to_json drops null fields, so each line carries exactly its one
    // populated top-level action
    val all = LogReplay.winners(spark, actions, Seq(LogReplay.FileKey,
        LogReplay.MetaKey, LogReplay.ProtocolKey, LogReplay.TxnKey, LogReplay.DomainKey))
      .select(to_json(struct(actionSchema.fieldNames.toSeq.map(col): _*)).as("line"))
    val name = LogListing.compactedName(startVersion, endVersion)
    val target = new Path(logDir, name)
    val tmp = new Path(logDir, s".$name.${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try all.select(col("line")).toLocalIterator().forEachRemaining { r =>
      out.write(r.getString(0).getBytes(StandardCharsets.UTF_8)); out.write('\n')
    } catch {
      case t: Throwable => out.close(); fs.delete(tmp, false); throw t
    }
    out.close()
    // idempotent: identical content either way — last rename wins
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"rename failed for $target")
    }
    name
  }

  /** The state a checkpoint of `snap` restates, as rows of
    * [[DeltaActions.actionSchema]]: `heads` holds the protocol, the
    * metaData, the txn watermarks and the live metadata domains (bounded by
    * the number of writers and features), `tombstones` the removes inside
    * the retention window (checkpoints keep them for VACUUM safety of other
    * readers), and `adds` is a projection of the distributed file set (the
    * part that scales with the table, never collected). */
  private final case class CheckpointState(heads: Seq[Row], tombstones: Seq[Row], adds: DataFrame)

  private def checkpointState(snap: DeltaSnapshot): CheckpointState = {
    def action(name: String, a: Row): Row =
      Row.fromSeq(actionSchema.fieldNames.toSeq.map(n => if (n == name) a else null))
    // re-emit the table's protocol verbatim (downgrading would strip
    // feature gates like deletionVectors); legacy tables default to the
    // writer level their properties imply (CHECK constraints ⇒ 3)
    val proto = snap.protocol.getOrElse(DeltaProtocol(1,
      if (snap.configuration.keys.exists(_.startsWith("delta.constraints."))) 3 else 2))
    val protocol = action("protocol", Row(proto.minReaderVersion, proto.minWriterVersion,
      proto.readerFeatures.orNull, proto.writerFeatures.orNull))
    // a checkpoint restates state: the table keeps its identity
    val meta = action("metaData", Row(snap.metadataId.getOrElse(UUID.randomUUID().toString), null,
      Row("parquet"), snap.schema.json, snap.partitionColumns, snap.configuration,
      snap.metadataCreatedTime.map(Long.box).orNull))
    val txns = snap.txns.map(t => action("txn", Row(t.appId, t.version, t.lastUpdated.map(Long.box).orNull)))
    // live metadata domains survive checkpointing (row-tracking high-water
    // mark, clustering spec, …) — dropping one would reset its feature
    val domains = snap.domainMetadata.toSeq.sortBy(_._1).map { case (d, cfg) =>
      action("domainMetadata", Row(d, cfg, false))
    }
    val horizon = System.currentTimeMillis() - TOMBSTONE_RETENTION_MS
    val tombstones = snap.tombstones.filter(_.deletionTimestamp >= horizon).map { t =>
      action("remove", Row(t.path, t.deletionTimestamp, t.dataChange))
    }
    // deletionVector must survive checkpointing — a checkpoint that drops
    // it silently resurrects the deleted rows. partitionValues go back out
    // under PHYSICAL keys on column-mapped tables (snapshot build
    // translated them to logical; the log form is physical per the spec).
    val pvOut =
      if (snap.physicalSchema.isEmpty) col("partitionValues")
      else transform_keys(col("partitionValues"),
        (k, _) => coalesce(element_at(typedLit(physicalKeys(snap)), k), k))
    val adds = snap.fileSet.df.select(
      struct(col("path"), pvOut.as("partitionValues"), col("size"), col("modificationTime"),
        lit(true).as("dataChange"), col("stats"), col("deletionVector"),
        col("baseRowId"), col("defaultRowCommitVersion"))
        .cast(addType).as("add") +:
        actionSchema.fields.toSeq.tail.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    CheckpointState(Seq(protocol, meta) ++ txns ++ domains, tombstones, adds)
  }

  /** Write `df` as parquet into a temporary directory under `logDir`, then
    * move its part files, in part order, to `target(i, n)` (part i of n)
    * and drop the directory. `parts`, when given, is the part count the
    * write must produce. Returns the moved files with what their write
    * tasks reported of them. */
  private def writeParts(fs: FileSystem, logDir: Path, df: DataFrame, parts: Option[Int] = None)
                        (target: (Int, Int) => Path): Seq[(Path, DataFiles.Written)] = {
    val tmp = s".cp-tmp-${UUID.randomUUID()}"
    val written = DataFiles.write(df, logDir, tmp)
    parts.foreach(n => require(written.length == n, s"expected $n checkpoint parts, wrote ${written.length}"))
    val moved = written.zipWithIndex.map { case (w, i) =>
      val to = target(i, written.length)
      fs.rename(new Path(logDir, w.path), to)
      to -> w
    }
    fs.delete(new Path(logDir, tmp), true)
    moved
  }

  /** Write a parquet checkpoint of the current snapshot + `_last_checkpoint`.
    * `parts > 1` writes the spec's multi-part form
    * (`<v>.checkpoint.<i>.<n>.parquet`) — at 100 TB a snapshot can hold
    * millions of add actions, and multi-part keeps each file bounded and
    * the write/read parallel. */
  def checkpoint(spark: SparkSession, tablePath: String, parts: Int = 1): Unit = synchronized {
    require(parts >= 1, s"parts=$parts")
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val state = checkpointState(snap)
    val rows = state.heads ++ state.tombstones
    import scala.jdk.CollectionConverters._
    val unioned = spark.createDataFrame(rows.asJava, actionSchema).unionByName(state.adds)
    // one output file per checkpoint part; a single part needs no shuffle
    writeParts(fs, logDir, if (parts == 1) unioned.coalesce(1) else unioned.repartition(parts), Some(parts)) {
      (i, n) => new Path(logDir, LogListing.checkpointName(snap.version, i + 1, n))
    }
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    LogStore.replace(fs, new Path(logDir, "_last_checkpoint"),
      s"""{"version":${snap.version},"size":${rows.size + snap.fileSet.count}$partsField}""")
  }

  /** Write a V2 (uuid-named) checkpoint: the main file carries the
    * non-file actions (checkpointMetadata marker, protocol, metaData, txn
    * watermarks, metadata domains) plus `sidecar` pointers; the FILE
    * actions — the part that scales with the table — shard into
    * `sidecarParts` parquet files under `_delta_log/_sidecars/`, written
    * as a projection of the distributed file set (never collected).
    * First use upgrades the table onto the `v2Checkpoint` feature +
    * `delta.checkpointPolicy=v2` in one metadata commit (the spec's
    * gating — classic-only readers must refuse rather than miss actions). */
  def checkpointV2(spark: SparkSession, tablePath: String, sidecarParts: Int = 2): Unit = synchronized {
    require(sidecarParts >= 1, s"sidecarParts=$sidecarParts")
    var snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    val base = snap.protocol.getOrElse(DeltaProtocol(1, 2))
    if (!base.readerFeatures.exists(_.contains("v2Checkpoint"))) {
      val bumped = DeltaProtocol(base.minReaderVersion.max(3), 7,
        Some((base.readerFeatures.getOrElse(Seq.empty) :+ "v2Checkpoint").distinct),
        Some((base.writerFeatures.getOrElse(Seq.empty) ++
          legacyWriterFeatures(base.minWriterVersion) :+ "v2Checkpoint").distinct))
      commitMetadata(spark, snap, snap.schema, snap.partitionColumns,
        snap.configuration + ("delta.checkpointPolicy" -> "v2"),
        Some(bumped), "UPGRADE CHECKPOINT POLICY", Map("policy" -> "v2"))
      snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    }
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val uuid = UUID.randomUUID().toString
    val state = checkpointState(snap)
    import scala.jdk.CollectionConverters._

    // sidecars: file actions only (adds + retained tombstones)
    val sidecarDir = new Path(logDir, "_sidecars")
    fs.mkdirs(sidecarDir)
    val sidecars = writeParts(fs, logDir, spark.createDataFrame(state.tombstones.asJava, actionSchema)
      .unionByName(state.adds).repartition(sidecarParts)) { (i, _) => new Path(sidecarDir, s"$uuid-$i.parquet") }

    // main file: the checkpointMetadata marker, the non-file actions and
    // the sidecar pointers
    def v2Row(action: Row, sidecar: Row, cpMeta: Row) = Row.fromSeq(action.toSeq ++ Seq(sidecar, cpMeta))
    val none = Row.fromSeq(actionSchema.map(_ => null))
    val mainRows = v2Row(none, null, Row(snap.version, Map.empty[String, String])) +:
      (state.heads.map(v2Row(_, null, null)) ++ sidecars.map { case (p, w) =>
        v2Row(none, Row(p.getName, w.size, w.modificationTime), null)
      })
    writeParts(fs, logDir, spark.createDataFrame(mainRows.asJava, v2CheckpointFileSchema).coalesce(1)) {
      (_, _) => new Path(logDir, LogListing.v2CheckpointName(snap.version, uuid))
    }
    val nActions = mainRows.size + snap.fileSet.count + state.tombstones.size
    LogStore.replace(fs, new Path(logDir, "_last_checkpoint"),
      s"""{"version":${snap.version},"size":$nActions,"checkpointSchema":null}""")
  }

  // ------------------------------------------------------------------

  private[delta] def relativize(table: Path, file: Path): String = {
    val t = table.toUri.getPath.stripSuffix("/")
    val f = file.toUri.getPath
    require(f.startsWith(t + "/"), s"$file not under $table")
    f.stripPrefix(t + "/")
  }

  /** Parse `col=value` segments of a relative path (hive layout written by
    * `df.write.partitionBy`). */
  private[delta] def hivePartitionValues(rel: String, partitionBy: Seq[String]): Map[String, String] = {
    val fromPath = rel.split('/').iterator
      .filter(_.contains('='))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        // exact inverse of the escaping DataFrameWriter.partitionBy applies
        // (URLDecoder is NOT: it maps '+' → space, which partitionBy never
        // encodes, corrupting values like "a+b")
        k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)
      }.toMap
    partitionBy.map { c =>
      val v = fromPath.getOrElse(c,
        throw new IllegalStateException(s"partition column $c missing in path $rel"))
      c -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
    }.toMap
  }

  /** One metaData action line. `metaData.id` is the table's STABLE
    * identity per the protocol — minted once at creation, preserved by
    * every later metadata re-publication (schema evolution, ALTERs,
    * RESTORE); delta-spark clients key caches and lineage on it, so a
    * writer that re-mints it on every commit churns foreign state
    * (ADVICE r13). `createdTime` is likewise the CREATION time, carried
    * forward. `prior` = the snapshot whose identity continues; None only
    * for genuinely new table identities (CREATE, CONVERT, CLONE — clones
    * are new tables per delta-spark's own behavior). */
  private def metaDataJson(prior: Option[DeltaSnapshot], schemaJson: String,
                           partitionBy: Seq[String],
                           configuration: Map[String, String] = Map.empty): String = {
    val id = prior.flatMap(_.metadataId).getOrElse(UUID.randomUUID().toString)
    val created = prior.flatMap(_.metadataCreatedTime)
      .getOrElse(System.currentTimeMillis())
    val pc = partitionBy.map(q).mkString("[", ",", "]")
    val conf = jsonMap(configuration.toSeq.sortBy(_._1))
    s"""{"metaData":{"id":${q(id)},"format":{"provider":"parquet","options":{}},"schemaString":${q(schemaJson)},"partitionColumns":$pc,"configuration":$conf,"createdTime":$created}}"""
  }

  /** A foreign writer claimed the target log version first. The
    * transaction path's conflict rule decides what follows ([[transact]]):
    * a retry, a typed conflict, or this exception surfacing. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** A txn-carrying append lost its commit race to a writer that had
    * ALREADY recorded this appId at (or past) this version — the batch is
    * a duplicate delivery and must not land ([[writeIdempotent]] maps this
    * to its None = already-applied outcome). */
  final class TxnAlreadyAppliedException(msg: String) extends RuntimeException(msg)

  /** `commitInfo` action: operational provenance per commit (what DESCRIBE
    * HISTORY surfaces; foreign tools read it too). Informational per the
    * protocol — replay ignores it. */
  private def commitInfoJson(operation: String, params: Map[String, String] = Map.empty,
                             ict: Option[Long] = None): String = {
    val ps = jsonMap(params)
    val ictPart = ict.map(t => s""""inCommitTimestamp":$t,""").getOrElse("")
    s"""{"commitInfo":{$ictPart"timestamp":${System.currentTimeMillis()},"operation":${q(operation)},"operationParameters":$ps,"engineInfo":"graft"}}"""
  }

  private def ictEnabled(config: Map[String, String]): Boolean =
    config.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))

  /** Monotone in-commit timestamp for the commit FOLLOWING `snap`
    * (`delta.enableInCommitTimestamps`): wall clock, but never ≤ the
    * previous commit's — the spec's clock-skew guarantee that makes ICTs
    * safe for timestamp time travel where file mtimes are not. */
  private def nextIct(spark: SparkSession, snap: DeltaSnapshot): Option[Long] =
    if (!ictEnabled(snap.configuration)) None
    else {
      val prev =
        try DeltaSnapshotReader.commitTimestamp(spark, snap.tablePath, snap.version)
        catch { case _: Exception => Long.MinValue }
      Some(math.max(System.currentTimeMillis(), prev + 1))
    }

  /** Writer features a legacy `minWriterVersion` implies — must be
    * enumerated when upgrading such a table to feature-gated protocol 7.
    * A table ALREADY on version 7 lists its features explicitly, so there
    * is nothing implied: returning the full ladder there would append
    * features the table never used, forcing minimal external writers to
    * refuse it. */
  private[delta] def legacyWriterFeatures(v: Int): Seq[String] =
    if (v >= 7) Nil
    else Seq("appendOnly" -> 2, "invariants" -> 2, "checkConstraints" -> 3,
      "changeDataFeed" -> 4, "generatedColumns" -> 4, "columnMapping" -> 5,
      "identityColumns" -> 6)
      .collect { case (f, mv) if v >= mv => f }

  private def protocolJson(p: DeltaProtocol): String = {
    val rf = p.readerFeatures
      .map(f => s""","readerFeatures":[${f.map(q).mkString(",")}]""").getOrElse("")
    val wf = p.writerFeatures
      .map(f => s""","writerFeatures":[${f.map(q).mkString(",")}]""").getOrElse("")
    s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},"minWriterVersion":${p.minWriterVersion}$rf$wf}}"""
  }

  final class ConstraintViolationException(msg: String) extends IllegalArgumentException(msg)

  /** CHECK-constraint enforcement (Delta writerVersion 3): every
    * `delta.constraints.<name>` table property is a SQL predicate each
    * written row must satisfy; a row where the predicate is FALSE or NULL
    * violates it (delta-spark semantics — stricter than SQL CHECK's
    * null-passes). One filter pass per constraint over the incoming batch,
    * pushed into the batch's own scan — no extra pass over the table. */
  private def enforceConstraints(df: DataFrame, config: Map[String, String],
                                 context: String): Unit = {
    val constraints = config.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }
    constraints.foreach { case (name, sql) =>
      val bad = df.filter(coalesce(expr(sql).cast("boolean"), lit(false)) === false)
        .limit(1).collect()
      bad.headOption.foreach { row =>
        throw new ConstraintViolationException(
          s"CHECK constraint $name ($sql) violated in $context by row: $row")
      }
    }
  }

  /** The commit-claim protocol in effect for every commit this writer
    * makes (see [[LogStore]]): selected through config at JVM start —
    * `-Dgraft.logStore=rename` (default, HDFS-semantics no-overwrite
    * rename) or `object` (conditional-put [[ObjectStoreLogStore]], the
    * S3/GCS deployment shape the reference runs against); LogStoreSpec
    * swaps in instrumented stores to drive the claim window
    * deterministically, and ConcurrencyDrillSpec races two JVMs through
    * each protocol. */
  /** Resolved LAZILY at first use (ADVICE r12): resolving in the object
    * initializer turned a bad `-Dgraft.logStore` value into an opaque
    * ExceptionInInitializerError that permanently poisoned the DeltaWriter
    * class for the JVM; now the first commit raises LogStore.forName's
    * clear IllegalArgumentException naming the bad value, and a corrected
    * property takes effect on retry. */
  @volatile private[delta] var logStoreOverride: Option[LogStore] = None
  private[delta] def logStore: LogStore = logStoreOverride match {
    case Some(s) => s
    case None =>
      val s = LogStore.fromConfig()
      logStoreOverride = Some(s)
      s
  }

  /** Run `body` with `store` as the commit-claim protocol, restoring the
    * previous store after (test seam; suites run sequentially per JVM). */
  private[graft] def withLogStore[T](store: LogStore)(body: => T): T = {
    val prev = logStoreOverride
    logStoreOverride = Some(store)
    try body finally logStoreOverride = prev
  }

  /** WHO arbitrates each commit ([[CommitOwner]], VERDICT r12 #7): TABLE
    * STATE decides first (ADVICE r13) — a table whose configuration
    * declares `graft.commitOwner` routes every conformant writer through
    * that owner regardless of the writer's JVM config, because ownership
    * as a JVM property let a default-configured writer bypass the catalog
    * claim and silently lose the catalog writer's commit; Delta's
    * coordinated-commits makes ownership a table FEATURE for exactly this
    * reason. Declare it with
    * `setProperties(spark, t, Map("graft.commitOwner" -> "catalog"))`.
    * Resolution: table config → [[withCommitOwner]] test seam →
    * `-Dgraft.commitOwner` JVM default. A non-conformant writer that goes
    * straight to the LogStore cannot be routed from here; the backstop is
    * [[CatalogCommitOwner]]'s backfill content check, which makes the
    * bypass loud ([[CatalogCommitOwner.OwnerBypassException]]) instead of
    * a silent lost update. */
  @volatile private[delta] var commitOwnerOverride: Option[CommitOwner] = None
  @volatile private var jvmOwnerCache: Option[CommitOwner] = None
  private def jvmOwner: CommitOwner = jvmOwnerCache match {
    case Some(o) => o
    case None =>
      val o = CommitOwner.fromConfig()
      jvmOwnerCache = Some(o)
      o
  }
  private[delta] def ownerFor(config: Map[String, String]): CommitOwner =
    config.get("graft.commitOwner").map(CommitOwner.forName)
      .orElse(commitOwnerOverride)
      .getOrElse(jvmOwner)

  /** Run `body` with `owner` arbitrating commits of tables that do NOT
    * declare an owner in their configuration (test seam; table state
    * outranks the seam, same as production resolution). */
  private[graft] def withCommitOwner[T](owner: CommitOwner)(body: => T): T = {
    val prev = commitOwnerOverride
    commitOwnerOverride = Some(owner)
    try body finally commitOwnerOverride = prev
  }

  /** Commit attempts one transaction may make before it gives up. */
  private val MaxCommitAttempts = 50

  /** What a transaction does when a foreign commit won its version. */
  private sealed trait OnConflict
  /** Re-resolve the latest snapshot and render again: `render` re-runs the
    * op's validations against it ([[write]]). */
  private case object Rerender extends OnConflict
  /** Examine the winners against the op's declared read set
    * ([[ConflictChecker.check]]): the op re-renders on top of disjoint
    * winners; an overlapping one raises its typed conflict. */
  private final case class Check(readSet: ConflictChecker.TxnReadSet) extends OnConflict
  /** Raise the [[CommitConflictException]]: ops that commit once, on the
    * snapshot they derived their actions from (CREATE, CONVERT and the
    * clones claim v0; RESTORE, FSCK and the row-id and stats backfills). */
  private case object Surface extends OnConflict

  /** One attempt of [[transact]]: the snapshot it commits on (None when it
    * creates the table), the version it claims and its in-commit
    * timestamp. */
  private final class Attempt(val cur: Option[DeltaSnapshot], val version: Long,
                              val ict: Option[Long]) {
    def snap: DeltaSnapshot = cur.get
    private[DeltaWriter] var changeDirs = List.empty[Path]

    /** Change-data files of `changes` for this attempt, as `cdc` lines;
      * [[transact]] deletes them again if the attempt loses. */
    def changeFiles(changes: DataFrame): Seq[String] = {
      val (lines, dir) = ChangeDataFeed.writeChangeFiles(snap, version, changes)
      changeDirs ::= dir
      lines
    }
  }

  /** The table's latest snapshot, or None while its log holds no commit. */
  private def latestSnapshot(spark: SparkSession, fs: FileSystem,
                             tablePath: String): Option[DeltaSnapshot] = {
    val log = LogListing.read(fs, tablePath)
    if (log.hasCommits) Some(DeltaSnapshotReader.snapshotAt(spark, log, None)) else None
  }

  /** The one transaction path: every commit of this writer runs through it.
    *
    * Each attempt renders `commitInfo`, then `render`'s actions, then the
    * streamed `tail` (for commits whose action count scales with the
    * table, rendered on executors and pulled one partition at a time), and
    * claims the next version with one call to the table's [[CommitOwner]].
    *
    * A won claim runs the post-commit hooks, always in this order: the crc,
    * UniForm export, auto-checkpoint. The crc hook gets the attempt's
    * snapshot and its rendered lines ([[Checksum.writeAfterCommit]]):
    * (a) where the driver holds that snapshot's winners, the lines are
    * folded into them and the post-commit snapshot is cached, so the read
    * after the write is a hit; (b) otherwise the previous crc ± the lines'
    * adds and removes; (c) a commit with a tail renders from the
    * post-commit snapshot, advanced or replayed. A lost claim deletes the
    * attempt's change files and applies `onConflict`; at most
    * [[MaxCommitAttempts]] claims are made, and no cache entry is touched:
    * the next listing shows the winner's version, and a cached snapshot
    * of an older one stays correct ([[DeltaSnapshotReader.snapshotAt]]).
    *
    * `config` is the configuration the commit leaves in force when it sets
    * one (SET TBLPROPERTIES, ALTER, a clone's v0); by default the one it
    * commits under. It decides the in-commit timestamp and the
    * auto-checkpoint. The commit owner and the UniForm export follow the
    * configuration the commit is made under. */
  private def transact(spark: SparkSession, tablePath: String, start: Option[DeltaSnapshot],
                       operation: String, params: Map[String, String], onConflict: OnConflict,
                       config: Option[Map[String, String]] = None,
                       tail: Option[() => Iterator[String]] = None)
                      (render: Attempt => Seq[String]): Long = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new Path(table, "_delta_log")
    var cur = start
    var attempts = 0
    while (true) {
      // the configuration the commit leaves in force, and the one it is made under
      val after = config.orElse(cur.map(_.configuration)).getOrElse(Map.empty)
      val under = cur.fold(after)(_.configuration)
      val ict =
        if (!ictEnabled(after)) None
        else cur.flatMap(nextIct(spark, _)).orElse(Some(System.currentTimeMillis()))
      val a = new Attempt(cur, cur.fold(0L)(_.version + 1), ict)
      val lines = commitInfoJson(operation, params, ict) +: render(a)
      attempts += 1
      val won =
        try {
          ownerFor(under).commit(fs, logDir, a.version,
            lines.iterator ++ tail.fold(Iterator.empty[String])(_()))
          true
        } catch {
          case e: CommitConflictException =>
            a.changeDirs.foreach(d => try fs.delete(d, true) catch { case _: Exception => () })
            cur = onConflict match {
              case Surface => throw e
              case Rerender => latestSnapshot(spark, fs, tablePath)
              case Check(rs) =>
                val fresh = DeltaSnapshotReader.snapshot(spark, tablePath)
                // throws the typed conflict when a winner overlaps the read set
                ConflictChecker.check(spark, a.snap, fresh, rs)
                Some(fresh)
            }
            require(attempts < MaxCommitAttempts,
              s"giving up after $attempts commit conflicts at $tablePath")
            false
        }
      if (won) {
        Checksum.writeAfterCommit(spark, fs, tablePath, a.cur, a.version, if (tail.isEmpty) Some(lines) else None)
        // tables whose configuration enables Iceberg re-export their
        // metadata on every commit; best-effort, the commit is durable
        IcebergUniform.maybeAutoExport(logDir, under)
        maybeAutoCheckpoint(spark, tablePath, a.version, after)
        return a.version
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Does the schema contain VARIANT anywhere? (Reader+writer gated: the
    * binary variant encoding is opaque to readers that predate it.) */
  private def hasVariant(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case VariantType => true
      case st: StructType => st.fields.exists(f => hasVariant(f.dataType))
      case ArrayType(et, _) => hasVariant(et)
      case MapType(k, v, _) => hasVariant(k) || hasVariant(v)
      case _ => false
    }
  }

  /** Does the schema contain a NON-DEFAULT (non-UTF8_BINARY) string
    * collation anywhere? Collated strings carry their collation in the
    * field's `__COLLATIONS` metadata (Spark's StructType JSON convention,
    * the same one the Delta collated-string RFC specifies), so the type
    * itself serializes as plain "string" and [[hasCollation]] is what
    * decides the `collations-preview` writer gate. */
  private def hasCollation(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StringType => s != StringType
      case st: StructType => st.fields.exists(f => hasCollation(f.dataType))
      case ArrayType(et, _) => hasCollation(et)
      case MapType(k, v, _) => hasCollation(k) || hasCollation(v)
      case _ => false
    }
  }

  /** Does the schema contain TIMESTAMP WITHOUT TIME ZONE anywhere? */
  private def hasTimestampNtz(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampNTZType => true
      case st: StructType => st.fields.exists(f => hasTimestampNtz(f.dataType))
      case ArrayType(et, _) => hasTimestampNtz(et)
      case MapType(k, v, _) => hasTimestampNtz(k) || hasTimestampNtz(v)
      case _ => false
    }
  }

  /** A JSON object of string values, in `kvs`' order. */
  private[delta] def jsonMap(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")

  /** One add action line. `f.partitionValues` must already carry the
    * physical keys. */
  private def addLine(f: AddFile, dataChange: Boolean): String = {
    val statsPart = f.stats.map(s => s""","stats":${q(s)}""").getOrElse("")
    val dvPart = f.deletionVector.map(d =>
      s""","deletionVector":{"storageType":${q(d.storageType)},"pathOrInlineDv":${q(d.pathOrInlineDv)},"offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
      .getOrElse("")
    val rowIdPart = f.baseRowId.map(b =>
      s""","baseRowId":$b,"defaultRowCommitVersion":${f.defaultRowCommitVersion.getOrElse(0L)}""")
      .getOrElse("")
    s"""{"add":{"path":${q(f.path)},"partitionValues":${jsonMap(f.partitionValues)},"size":${f.size},"modificationTime":${f.modificationTime},"dataChange":$dataChange$statsPart$dvPart$rowIdPart}}"""
  }

  /** One remove action line. `f.partitionValues` must already carry the
    * physical keys. Per the protocol, `size`/`partitionValues` on a remove
    * are meaningful only under `extendedFileMetadata:true` (delta-spark
    * emits the same triple, and a spec-conformant log rewriter may drop the
    * fields otherwise); the size also feeds the crc arithmetic
    * ([[Checksum.chained]]). */
  private def removeLine(f: AddFile, deletionTimestamp: Long, dataChange: Boolean): String =
    s"""{"remove":{"path":${q(f.path)},"deletionTimestamp":$deletionTimestamp,"dataChange":$dataChange,"extendedFileMetadata":true,"partitionValues":${jsonMap(f.partitionValues)},"size":${f.size}}}"""

  /** One live `domainMetadata` action line. */
  private[delta] def domainLine(domain: String, configuration: String): String =
    s"""{"domainMetadata":{"domain":${q(domain)},"configuration":${q(configuration)},"removed":false}}"""

  /** JSON string escape. */
  private[delta] def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
