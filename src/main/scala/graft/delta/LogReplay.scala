package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalRows
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** The one Delta log replay: decode, reduce, assemble — one semantics run
  * in two placements.
  *
  *  - Decode: log lines become rows of an action schema plus the version
  *    they replay at ([[actions]]). The distributed placement reads the
  *    files with `spark.read.json`; the driver placement reads their bytes
  *    here and parses each line with the evaluator of `from_json`
  *    ([[decode]]) — Spark's own JSON parser, so both see the same values
  *    (a mistyped field is null on both), and no Spark job runs.
  *  - Reduce: every action has one key ([[keyOf]]): a file by path (add
  *    or remove), the table's metaData and protocol, a txn by appId, a
  *    domain by name. Per key the newest action wins ([[newer]]): the
  *    higher version; at one version an add beats a remove (a
  *    deletion-vector rewrite commits both for one path); then the greater
  *    content, never arrival order, so every partitioning gives the same
  *    winner. The reducer works on Catalyst's internal rows. The driver
  *    folds the decoded rows with it ([[reduce]]); the distributed
  *    placement narrows the rows in Catalyst to the columns a pass reads,
  *    shuffles them by key and runs the same fold per partition
  *    ([[reduceDistributed]]).
  *  - Assemble: one function ([[assemble]]) turns either placement's
  *    winners into a [[DeltaSnapshot]]: the protocol gate, metaData →
  *    schema, partition columns, configuration and physical schema,
  *    winning adds → [[DeltaFileSet]] rows with logical partition keys,
  *    losing-to-a-remove paths → tombstones, txns and live domains.
  *
  * `spark.graft.delta.localReplayMaxBytes` ([[localMaxBytes]]) is the only
  * fork: it decides where rows are decoded and reduced, never what they
  * mean.
  */
private[delta] object LogReplay {
  import DeltaActions._

  /** `spark.graft.delta.localReplayMaxBytes` of `spark` (default 4 MiB):
    * the largest checkpoint-less log segment, or change-feed commit range,
    * decoded and reduced on the driver. */
  def localMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.delta.localReplayMaxBytes").map(_.toLong)
      .getOrElse(4L * 1024 * 1024)

  /** Version of a commit file's rows, from the file's name. */
  private def commitVersion: Column =
    regexp_extract(input_file_name(), LogListing.CommitPattern, 1).cast(LongType)

  /** Driver placement of the decoder: the JSON lines of `sources` —
    * (replay version, log file) pairs; a compacted range replays at its
    * end version — as rows of `schema` plus the version, in Catalyst's
    * internal form, parsed by the evaluator behind Spark's `from_json`
    * (the parser `spark.read.json` runs, in the same PERMISSIVE mode). No
    * Spark job, and no query to plan: a small log decodes in about a
    * millisecond. */
  def decode(spark: SparkSession, schema: StructType, sources: Seq[(Long, Path)]): Seq[InternalRow] = {
    val conf = spark.sessionState.newHadoopConf()
    val parse = lineDecoder(spark, schema)
    sources.flatMap { case (v, file) =>
      val in = file.getFileSystem(conf).open(file)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      // the line breaks the distributed text reader splits on
      text.split("\r\n|\r|\n").iterator.filterNot(_.isBlank).map(parse(v, _))
    }
  }

  /** [[decode]] of log lines in hand, one row per line: the lines a
    * writer just committed as `version`, read without a trip to the file
    * system. */
  def decodeLines(spark: SparkSession, schema: StructType, version: Long, lines: Seq[String]): Seq[InternalRow] = {
    val parse = lineDecoder(spark, schema)
    lines.map(parse(version, _))
  }

  /** The decoder of one log line replaying at a version. */
  private def lineDecoder(spark: SparkSession, schema: StructType): (Long, String) => InternalRow = {
    val sql = spark.sessionState.conf
    val parser = JsonToStructsEvaluator(Map.empty, schema, sql.columnNameOfCorruptRecord,
      Some(sql.sessionLocalTimeZone), false)
    (v, line) => {
      val out = new GenericInternalRow(schema.length + 1)
      parser.evaluate(UTF8String.fromString(line)) match {
        case null => // malformed: every action null
        case r: InternalRow => schema.fields.indices.foreach(i => out.update(i, r.get(i, schema(i).dataType)))
      }
      out.setLong(schema.length, v)
      out
    }
  }

  /** [[decode]]'s rows as [[Row]]s of `schema` plus the version. */
  def decodeRows(spark: SparkSession, schema: StructType, sources: Seq[(Long, Path)]): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema.add("version", LongType))
    decode(spark, schema, sources).map(toRow(_).asInstanceOf[Row])
  }

  /** Distributed placement of the decoder: the action rows of `sources` as
    * a DataFrame of `schema` plus a `version` column — one JSON read of
    * the commit files, plus one per compacted file. */
  def actions(spark: SparkSession, schema: StructType, sources: Seq[(Long, Path)]): DataFrame = {
    val (commits, compacted) = sources.partition(s => LogListing.commitVersionOf(s._2.getName).isDefined)
    val commitDf = if (commits.isEmpty) None else Some(
      spark.read.schema(schema).json(commits.map(_._2.toString): _*)
        .withColumn("version", commitVersion))
    (commitDf.toSeq ++ compacted.map { case (v, p) =>
      spark.read.schema(schema).json(p.toString).withColumn("version", lit(v))
    }).reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------------
  // Reduce
  // ---------------------------------------------------------------------

  /** [[DeltaActions.actionSchema]] plus the replay version: the row shape
    * the reducer and the assembly work on. */
  val replaySchema: StructType = actionSchema.add("version", LongType)
  private val AddI = 0; private val RemoveI = 1; private val MetaI = 2
  private val ProtoI = 3; private val TxnI = 4; private val DomainI = 5; private val VersionI = 6
  private val actionTypes: Array[StructType] = actionSchema.fields.map(_.dataType.asInstanceOf[StructType])

  val FileKey = 1; val MetaKey = 2; val ProtocolKey = 3; val TxnKey = 4; val DomainKey = 5
  private val NoKey = (0, UTF8String.EMPTY_UTF8)

  private def action(r: InternalRow, i: Int): InternalRow = r.getStruct(i, actionTypes(i).length)

  /** The replay key of an action row: (kind, name). A row that carries no
    * replayed action (a commitInfo line, a malformed line) has kind 0. A
    * protocol is keyed whenever it is present, even with an unreadable
    * `minReaderVersion`: the assembly refuses such a table rather than let
    * an older protocol stand in for it. Rows carry one action each
    * ([[split]]). */
  def keyOf(r: InternalRow): (Int, UTF8String) = {
    def has(i: Int) = !r.isNullAt(i) && (i == ProtoI || !action(r, i).isNullAt(0))
    def name(i: Int) = action(r, i).getUTF8String(0)
    if (has(AddI)) (FileKey, name(AddI))
    else if (has(RemoveI)) (FileKey, name(RemoveI))
    else if (has(MetaI)) (MetaKey, UTF8String.EMPTY_UTF8)
    else if (has(ProtoI)) (ProtocolKey, UTF8String.EMPTY_UTF8)
    else if (has(TxnI)) (TxnKey, name(TxnI))
    else if (has(DomainI)) (DomainKey, name(DomainI))
    else NoKey
  }

  /** Each action of a row on a row of its own. A log line holds one
    * action; a line with several (malformed) replays each under its own
    * key, which is also what a pass that reads only some action columns
    * ([[reduceDistributed]]) sees. Columns after the actions are kept. */
  def split(r: InternalRow): Iterator[InternalRow] =
    if ((AddI to DomainI).count(i => !r.isNullAt(i)) <= 1) Iterator.single(r)
    else (AddI to DomainI).iterator.filterNot(r.isNullAt).map { keep =>
      val one = r.copy()
      (AddI to DomainI).foreach(i => if (i != keep) one.setNullAt(i))
      one
    }

  /** Does this row carry an add action (with a path)? */
  def isAdd(r: InternalRow): Boolean = !r.isNullAt(AddI) && !action(r, AddI).isNullAt(0)

  /** The newer of two rows under one key: higher version, then an add over
    * a remove, then the greater content. */
  def newer(a: InternalRow, b: InternalRow): InternalRow = {
    val byVersion = java.lang.Long.compare(a.getLong(VersionI), b.getLong(VersionI))
    val c =
      if (byVersion != 0) byVersion
      else if (isAdd(a) != isAdd(b)) (if (isAdd(a)) 1 else -1)
      else (AddI to DomainI).iterator.map { i =>
        compareContent(a.get(i, actionTypes(i)), b.get(i, actionTypes(i)), actionTypes(i))
      }.find(_ != 0).getOrElse(0)
    if (c >= 0) a else b
  }

  /** A total order on decoded values of type `t`: null first, structs and
    * arrays element-wise, maps by their entries in key order, strings by
    * their UTF-8 bytes. */
  private def compareContent(x: Any, y: Any, t: DataType): Int = (x, y, t) match {
    case (null, null, _) => 0
    case (null, _, _) => -1
    case (_, null, _) => 1
    case (p: InternalRow, q: InternalRow, s: StructType) =>
      s.fields.indices.iterator.map { i =>
        compareContent(p.get(i, s(i).dataType), q.get(i, s(i).dataType), s(i).dataType)
      }.find(_ != 0).getOrElse(0)
    case (p: ArrayData, q: ArrayData, ArrayType(et, _)) =>
      compareSeq(p.toSeq[Any](et), q.toSeq[Any](et), Seq.fill(p.numElements() max q.numElements())(et))
    case (p: MapData, q: MapData, MapType(kt, vt, _)) =>
      def entries(m: MapData) = m.keyArray().toSeq[Any](kt).zip(m.valueArray().toSeq[Any](vt))
        .sortBy(e => String.valueOf(e._1)).flatMap(e => Seq(e._1, e._2))
      val (ep, eq) = (entries(p), entries(q))
      compareSeq(ep, eq, Seq.tabulate(ep.length max eq.length)(i => if (i % 2 == 0) kt else vt))
    case (p: UTF8String, q: UTF8String, _) => p.binaryCompare(q)
    case (p: Comparable[_], q, _) if p.getClass == q.getClass => p.asInstanceOf[Comparable[Any]].compareTo(q)
    case _ => String.valueOf(x).compareTo(String.valueOf(y))
  }

  private def compareSeq(x: Seq[Any], y: Seq[Any], types: Seq[DataType]): Int =
    x.indices.iterator.take(y.length).map(i => compareContent(x(i), y(i), types(i)))
      .find(_ != 0).getOrElse(Integer.compare(x.length, y.length))

  /** The reducer: the winning row of every key. The driver placement
    * folds all decoded rows; the distributed one each key partition. The
    * winners are copies, safe to keep. */
  def reduce(rows: Iterator[InternalRow]): scala.collection.Map[(Int, UTF8String), InternalRow] = {
    val won = scala.collection.mutable.HashMap.empty[(Int, UTF8String), InternalRow]
    rows.flatMap(split).foreach { r =>
      val k = keyOf(r)
      if (k._1 != NoKey._1) won.get(k) match {
        case Some(w) if newer(w, r) eq w =>
        case held =>
          // the key of a copy: a scan's row, and its strings, are reused
          val c = r.copy()
          if (held.isDefined) won.remove(k)
          won.update(keyOf(c), c)
      }
    }
    won
  }

  /** The action columns a pass over `kinds` reads. */
  private def columnsOf(kinds: Seq[Int]): Seq[Int] = kinds.flatMap {
    case FileKey => Seq(AddI, RemoveI)
    case MetaKey => Seq(MetaI)
    case ProtocolKey => Seq(ProtoI)
    case TxnKey => Seq(TxnI)
    case DomainKey => Seq(DomainI)
  }.distinct.sorted

  /** The column [[keyOf]] tests for action column `i`: a protocol counts
    * whole, the others by their first field. */
  private def present(i: Int): Column =
    if (i == ProtoI) col(actionSchema(i).name).isNotNull
    else col(s"${actionSchema(i).name}.${actionTypes(i).head.name}").isNotNull

  /** `actions` (with [[replaySchema]]'s columns) narrowed in Catalyst to
    * what a pass over `kinds` reads, before any row leaves the scan: the
    * rows that carry one of those kinds, and only the pass's action
    * columns — the others are typed nulls, so a checkpoint's parquet scan
    * reads only the kept columns. `addPathOnly` keeps only an add's path:
    * a tombstone pass only asks whether an add won. */
  private def narrow(actions: DataFrame, kinds: Seq[Int], addPathOnly: Boolean = false): DataFrame = {
    val kept = columnsOf(kinds)
    actions.where(kept.map(present).reduce(_ || _))
      .select(actionSchema.fields.zipWithIndex.map { case (f, i) =>
        if (!kept.contains(i)) lit(null).cast(f.dataType).as(f.name)
        else if (i == AddI && addPathOnly)
          when(present(AddI), struct(addType.map(g =>
            (if (g.name == "path") col("add.path") else lit(null).cast(g.dataType)).as(g.name)): _*)).as("add")
        else col(f.name)
      } :+ col("version"): _*)
  }

  /** Distributed placement of the reducer: the winning row of every key
    * of the given kinds. Catalyst narrows the rows ([[narrow]]), puts each
    * action on a row of its own (Catalyst's [[split]]) and hash-partitions
    * them by key, so each partition holds whole key groups; [[reduce]], the
    * driver's own fold, then runs per partition over Catalyst's internal
    * rows (no conversion to [[Row]]). */
  def reduceDistributed(actions: DataFrame, kinds: Seq[Int], addPathOnly: Boolean = false): RDD[InternalRow] = {
    val kept = columnsOf(kinds)
    val narrowed = narrow(actions, kinds, addPathOnly)
    val split = if (kept.size == 1) narrowed else narrowed.select(explode(array(kept.map { keep =>
      when(present(keep), struct(actionSchema.fields.zipWithIndex.map { case (f, i) =>
        (if (i == keep) col(f.name) else lit(null).cast(f.dataType)).as(f.name)
      } :+ col("version"): _*))
    }: _*)).as("a")).where(col("a").isNotNull).select("a.*")
    split.repartition(coalesce(kept.map { i =>
        // keyOf's name: a path, appId or domain; metaData and protocol have one key each
        if (i == MetaI || i == ProtoI) when(present(i), lit(""))
        else col(s"${actionSchema(i).name}.${actionTypes(i).head.name}")
      }: _*))
      .queryExecution.toRdd.mapPartitions(rows => reduce(rows).valuesIterator)
  }

  /** The winners of `kinds` over distributed `actions`, as a DataFrame of
    * [[replaySchema]]. */
  def winners(spark: SparkSession, actions: DataFrame, kinds: Seq[Int]): DataFrame =
    InternalRows.toDataFrame(spark, reduceDistributed(actions, kinds), replaySchema)

  // ---------------------------------------------------------------------
  // Assemble
  // ---------------------------------------------------------------------

  private def kindOf(r: InternalRow): Int = keyOf(r)._1

  /** A replayed snapshot, with the reducer's winners it was assembled
    * from once the driver holds all of them: the winning add, remove,
    * metaData, protocol, txn and domain rows. [[DeltaSnapshotReader]]
    * advances a snapshot by folding new commits into them. */
  final case class Replayed(snap: DeltaSnapshot, winners: () => Option[Seq[InternalRow]])

  /** The winning adds of `rows` as [[AddFile]]s through `fileRow`, by path. */
  private def addFiles(rows: Seq[InternalRow], fileRow: InternalRow => InternalRow): Seq[AddFile] = {
    val toFile = CatalystTypeConverters.createToScalaConverter(DeltaFileSet.schema)
    rows.filter(isAdd).map(r => DeltaFileSet.decode(toFile(fileRow(r)).asInstanceOf[Row])).sortBy(_.path)
  }

  /** Driver placement: reduce the rows, assemble; the file set is born
    * collected, and the winners are held. The rows are decoded log lines,
    * or an earlier snapshot's winners followed by the decoded lines of
    * the commits after it: the same fold either way, since a winner only
    * ever loses to a newer row of its key. */
  def replayOnDriver(tablePath: String, version: Long, rows: Iterator[InternalRow]): Replayed = {
    val won = reduce(rows).values.toSeq
    def of(kinds: Int*) = won.filter(r => kinds.contains(kindOf(r)))
    Replayed(assemble(tablePath, version, of(MetaKey, ProtocolKey),
      fileRow => DeltaFileSet.of(addFiles(of(FileKey), fileRow)),
      () => of(FileKey).filterNot(isAdd), () => of(TxnKey, DomainKey)), () => Some(won))
  }

  /** Distributed placement: protocol and metaData come from one collect
    * (each partition's winners, reduced again on the driver: 1 Spark job).
    * The rest waits for the file set's first touch, or a read of the
    * tombstones, txns or domains. When the table records at most
    * `collectMax` files (`recordedFiles`, the crc's count), one key
    * shuffle over the file, txn and domain actions brings all their
    * winners to the driver, in a single task that stops past `collectMax`
    * adds, so a record that under-reports never makes the driver hold
    * more: they build the file set, tombstones, txns and domains, and are
    * held. Otherwise the file set is built and persisted on executors
    * ([[DeltaFileSet.fromDf]]), and tombstones and txns + domains are a
    * key shuffle each, lazily. Each pass reads only its own action
    * columns ([[narrow]]). */
  def replayDistributed(spark: SparkSession, tablePath: String, version: Long, actions: DataFrame,
                        collectMax: Long, recordedFiles: () => Option[Long]): Replayed = {
    val heads = reduce(narrow(actions, Seq(MetaKey, ProtocolKey)).queryExecution.toRdd
      .mapPartitions(rows => reduce(rows).valuesIterator).collect().iterator).values.toSeq
    @volatile var held = Option.empty[Seq[InternalRow]]
    lazy val collected: Option[Seq[InternalRow]] = {
      held = if (collectMax <= 0 || !recordedFiles().exists(_ <= collectMax)) None else {
        val rows = reduceDistributed(actions, Seq(FileKey, TxnKey, DomainKey)).coalesce(1)
          .mapPartitions { rows =>
            var adds = 0L
            rows.takeWhile(_ => adds <= collectMax).map { r => if (isAdd(r)) adds += 1; r }
          }.collect().toSeq
        Some(rows).filter(_.count(isAdd) <= collectMax)
      }
      held
    }
    Replayed(assemble(tablePath, version, heads,
      fileRow => DeltaFileSet.fromDf(
        () => InternalRows.toDataFrame(spark,
          reduceDistributed(actions, Seq(FileKey)).filter(isAdd).map(fileRow), DeltaFileSet.schema),
        collectMax, () => collected.map(addFiles(_, fileRow))),
      () => collected.map(_.filter(r => kindOf(r) == FileKey && !isAdd(r))).getOrElse(
        reduceDistributed(actions, Seq(FileKey), addPathOnly = true).filter(!isAdd(_)).collect().toSeq),
      () => collected.map(_.filter(kindOf(_) != FileKey)).getOrElse(
        reduceDistributed(actions, Seq(TxnKey, DomainKey)).collect().toSeq)),
      () => held.map(heads ++ _))
  }

  private val emptyMap: MapData =
    new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))

  /** Snapshot assembly, fed by either placement: `heads` holds the
    * metaData and protocol winners; `fileSet` builds the set from a
    * function of a winning add row to its [[DeltaFileSet.schema]] row;
    * `removed` yields the file keys a remove won (tombstones) and `keyed`
    * the txn and domain winners, both lazily. */
  private def assemble(tablePath: String, version: Long, heads: Iterable[InternalRow],
                       fileSet: (InternalRow => InternalRow) => DeltaFileSet,
                       removed: () => Seq[InternalRow], keyed: () => Seq[InternalRow]): DeltaSnapshot = {
    val toRow = CatalystTypeConverters.createToScalaConverter(replaySchema)
    def rows(rs: Iterable[InternalRow]): Seq[Row] = rs.map(toRow(_).asInstanceOf[Row]).toSeq
    def head(kind: Int, i: Int): Option[Row] = rows(heads.filter(kindOf(_) == kind)).headOption.map(_.getStruct(i))
    def strings(r: Row, i: Int): Option[Seq[String]] =
      if (r.isNullAt(i)) None else Some(r.getSeq[String](i).toSeq)
    def long(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
    val protocol = head(ProtocolKey, ProtoI).map { p =>
      // fail closed: a reader version that did not decode ("4", 4.5) may
      // be one this reader cannot serve
      if (p.isNullAt(0))
        throw DeltaUnsupportedFeatureException("minReaderVersion=unreadable",
          s"table at $tablePath has a protocol whose minReaderVersion is missing or not an integer")
      DeltaProtocol(p.getInt(0), if (p.isNullAt(1)) 2 else p.getInt(1), strings(p, 2), strings(p, 3))
    }
    gateProtocol(protocol, tablePath)
    val meta = head(MetaKey, MetaI)
      .getOrElse(throw new IllegalStateException(s"no metaData action found in $tablePath"))
    val schema = DataType.fromJson(meta.getString(3)).asInstanceOf[StructType]
    val partCols = strings(meta, 4).getOrElse(Seq.empty)
    val configuration: Map[String, String] =
      if (meta.isNullAt(5)) Map.empty else Map(meta.getMap[String, String](5).toSeq: _*)
    // Column mapping: `name` mode is a metadata-only indirection — parquet
    // stores every field under its delta.columnMapping.physicalName and
    // add.partitionValues is keyed by physical name. `id` mode files also
    // carry parquet field IDs; the physical schema then embeds
    // parquet.field.id metadata and the scan enables Spark's field-ID
    // matching, so columns resolve even when parquet names diverge.
    val physicalSchema = configuration.getOrElse("delta.columnMapping.mode", "none") match {
      case "none" => None
      case "name" => Some(ColumnMapping.toPhysical(schema).asInstanceOf[StructType])
      case "id" => Some(ColumnMapping.toPhysical(schema, withFieldIds = true).asInstanceOf[StructType])
      case other => throw DeltaUnsupportedFeatureException(s"columnMapping=$other",
        s"table at $tablePath uses delta.columnMapping.mode=$other; supported modes: none, name, id")
    }
    // physical partition key -> logical column name: everything downstream
    // (distributed pruning included) sees logical keys
    val physToLogical: Map[String, String] = physicalSchema match {
      case Some(ps) => partCols.map(c => ps.fields(schema.fieldIndex(c)).name -> c).toMap
      case None => Map.empty
    }
    val physKeys: Map[UTF8String, UTF8String] =
      physToLogical.map { case (k, v) => UTF8String.fromString(k) -> UTF8String.fromString(v) }
    // a winning add → one DeltaFileSet row; executor-safe
    val dvType = addType("deletionVector").dataType.asInstanceOf[StructType]
    val fileRow: InternalRow => InternalRow = { w =>
      val a = action(w, AddI)
      val pv = if (a.isNullAt(1)) emptyMap
        else if (physKeys.isEmpty) a.getMap(1)
        else {
          val m = a.getMap(1)
          val keys = m.keyArray()
          new ArrayBasedMapData(new GenericArrayData(Array.tabulate[Any](m.numElements()) { i =>
            val k = keys.getUTF8String(i); physKeys.getOrElse(k, k)
          }), m.valueArray())
        }
      // a descriptor without a storageType is malformed: no deletion vector
      val dv = if (a.isNullAt(6) || a.getStruct(6, dvType.length).isNullAt(0)) null
        else a.getStruct(6, dvType.length)
      def orZero(i: Int) = if (a.isNullAt(i)) 0L else a.getLong(i)
      def orNull(i: Int) = if (a.isNullAt(i)) null else a.get(i, addType(i).dataType)
      new GenericInternalRow(Array[Any](a.getUTF8String(0), pv, orZero(2), orZero(3), orNull(5), dv,
        orNull(7), orNull(8), w.getLong(VersionI)))
    }
    lazy val txnsAndDomains = keyed().partition(kindOf(_) == TxnKey)
    DeltaSnapshot(tablePath, version, schema, partCols, fileSet(fileRow),
      tombstonesF = () => rows(removed()).map(_.getStruct(RemoveI)).map { r =>
        RemoveTombstone(r.getString(0), long(r, 1).getOrElse(0L),
          if (r.isNullAt(2)) true else r.getBoolean(2))
      }.sortBy(_.path),
      txnsF = () => rows(txnsAndDomains._1).map(_.getStruct(TxnI)).map { t =>
        SetTransaction(t.getString(0), long(t, 1).getOrElse(0L), long(t, 2))
      }.sortBy(_.appId),
      configuration = configuration, physicalSchema = physicalSchema, protocol = protocol,
      // a removed=true winner deletes its domain
      domainMetadataF = () => rows(txnsAndDomains._2).map(_.getStruct(DomainI))
        .filterNot(d => !d.isNullAt(2) && d.getBoolean(2))
        .map(d => d.getString(0) -> (if (d.isNullAt(1)) "" else d.getString(1))).toMap,
      metadataId = Option(meta.getString(0)),
      metadataCreatedTime = long(meta, 6))
  }

  /** Reader features this engine implements: columnMapping in replay,
    * deletionVectors at scan time ([[DeletionVectors.applyToScan]]). v1/v2
    * tables are fully supported; v3 (table features) is accepted iff every
    * readerFeature is listed here. */
  private val supportedReaderFeatures =
    Set("columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
      "vacuumProtocolCheck", "variantType", "typeWidening")

  private def gateProtocol(protocol: Option[DeltaProtocol], tablePath: String): Unit =
    protocol.foreach { p =>
      val v = p.minReaderVersion
      if (v == 3) {
        val unknown = p.readerFeatures.map(_.toSet).getOrElse(Set.empty) -- supportedReaderFeatures
        if (unknown.nonEmpty)
          throw DeltaUnsupportedFeatureException(unknown.toSeq.sorted.mkString(","),
            s"table at $tablePath requires reader features ${unknown.toSeq.sorted.mkString(", ")} " +
              s"(minReaderVersion=3); this reader supports ${supportedReaderFeatures.toSeq.sorted.mkString(", ")}")
      } else if (v > 3)
        throw DeltaUnsupportedFeatureException(s"minReaderVersion=$v",
          s"table at $tablePath requires Delta reader protocol $v; max supported is 3")
    }
}
