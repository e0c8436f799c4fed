package graft.sql

import graft.delta.DeltaWriter
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** SQL-TEXT DML over path-based Delta tables — the interface an Athena-style
  * user actually writes (reference README.md:37-38 "Do some queries !"):
  *
  * {{{
  *   UPDATE delta.`/path` SET col = expr, … [WHERE cond]
  *   DELETE FROM delta.`/path` [WHERE cond]
  *   MERGE [WITH SCHEMA EVOLUTION] INTO delta.`/path` AS t USING src AS s ON t.k = s.k
  *     [WHEN MATCHED [AND cond] THEN UPDATE SET * | UPDATE SET c = e, … | DELETE]…
  *     [WHEN NOT MATCHED [AND cond] THEN INSERT *]…
  *     [WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET c = e, … | DELETE]…
  *   OPTIMIZE delta.`/path` [WHERE partitionCond] [ZORDER BY (c1, c2)]
  *   VACUUM delta.`/path` [LITE] [RETAIN <n> HOURS] [DRY RUN]
  *   DESCRIBE HISTORY delta.`/path`
  *   DESCRIBE DETAIL delta.`/path`
  *   RESTORE [TABLE] delta.`/path` TO VERSION AS OF <n>
  *   RESTORE [TABLE] delta.`/path` TO TIMESTAMP AS OF '<ts>'
  *   REORG TABLE delta.`/path` APPLY (PURGE)
  *   CREATE TABLE delta.`/dst` {SHALLOW|DEEP} CLONE delta.`/src`
  *   ANALYZE TABLE delta.`/path` COMPUTE STATISTICS
  *   FSCK REPAIR TABLE delta.`/path` [DRY RUN]
  *   GENERATE symlink_format_manifest FOR TABLE delta.`/path`
  *   ALTER TABLE delta.`/path` SET TBLPROPERTIES ('k'='v', …)
  *   ALTER TABLE delta.`/path` ADD COLUMNS (name type, …)
  *   ALTER TABLE delta.`/path` RENAME COLUMN a TO b
  *   ALTER TABLE delta.`/path` DROP COLUMN a
  * }}}
  *
  * UPDATE/DELETE/MERGE ride Spark's OWN grammar: the session parser already
  * produces `UpdateTable`/`DeleteFromTable`/`MergeIntoTable` plans, so no
  * SQL re-parsing happens here — the parsed expression trees are handed to
  * the [[DeltaWriter]] entry points (whose CoW scope and oracle coverage
  * `delta_update`/`delta_merge` already pin). OPTIMIZE/VACUUM are Delta
  * grammar Spark lacks; they get a two-token parse of their fixed shape.
  *
  * Two ways in, one implementation:
  *  - [[GraftSqlParser]] injected via `spark.sql.extensions`
  *    ([[graft.functions.GraftExtensions]]) makes plain `spark.sql(text)`
  *    execute these statements natively;
  *  - [[GraftSql.sql]] is the session-agnostic dispatcher for sessions
  *    built without the extension.
  */
object GraftSql {
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+delta\s*\.\s*`([^`]+)`\s*(?:WHERE\s+(.*?))?\s*(?:ZORDER\s+BY\s*\(\s*([^)]*?)\s*\))?\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+delta\s*\.\s*`([^`]+)`\s*(LITE)?\s*(?:RETAIN\s+(\d+)\s+HOURS)?\s*(DRY\s+RUN)?\s*;?\s*$""".r
  private val DescribeHistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+delta\s*\.\s*`([^`]+)`\s*;?\s*$""".r
  private val DescribeDetailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+delta\s*\.\s*`([^`]+)`\s*;?\s*$""".r
  private val ReorgPurgeRe =
    """(?is)^\s*REORG\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""".r
  private val ShallowCloneRe =
    """(?is)^\s*CREATE\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s+(SHALLOW|DEEP)\s+CLONE\s+delta\s*\.\s*`([^`]+)`\s*;?\s*$""".r
  private val FsckRe =
    """(?is)^\s*FSCK\s+REPAIR\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s*(DRY\s+RUN)?\s*;?\s*$""".r
  private val AnalyzeRe =
    """(?is)^\s*ANALYZE\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s+COMPUTE\s+STATISTICS\s*;?\s*$""".r
  private val RestoreVersionRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?delta\s*\.\s*`([^`]+)`\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RestoreTimestampRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?delta\s*\.\s*`([^`]+)`\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""".r
  private val GenerateRe =
    """(?is)^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s*;?\s*$""".r
  private val SetTblPropsRe =
    """(?is)^\s*ALTER\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s+SET\s+TBLPROPERTIES\s*\(\s*(.*?)\s*\)\s*;?\s*$""".r
  private val AddColumnsRe =
    """(?is)^\s*ALTER\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s+ADD\s+COLUMNS?\s*\(\s*(.*?)\s*\)\s*;?\s*$""".r
  private val RenameColumnRe =
    """(?is)^\s*ALTER\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s+RENAME\s+COLUMN\s+`?([^`\s]+)`?\s+TO\s+`?([^`\s]+)`?\s*;?\s*$""".r
  private val DropColumnRe =
    """(?is)^\s*ALTER\s+TABLE\s+delta\s*\.\s*`([^`]+)`\s+DROP\s+COLUMN\s+`?([^`\s]+)`?\s*;?\s*$""".r
  private val TblPropPairRe = """'((?:[^'\\]|\\.)*)'\s*=\s*'((?:[^'\\]|\\.)*)'""".r

  /** OPTIMIZE / VACUUM statement → runnable plan; None when the text is not
    * one of the two maintenance forms. */
  private[sql] def maintenancePlan(text: String): Option[LogicalPlan] = text match {
    case OptimizeRe(path, whereTxt, cols) =>
      val zorderBy = Option(cols).toSeq.flatMap(_.split(",").toSeq)
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
      Some(GraftOptimizeCommand(path, zorderBy,
        Option(whereTxt).map(_.trim).filter(_.nonEmpty)))
    case VacuumRe(path, lite, hours, dry) =>
      Some(GraftVacuumCommand(path, Option(hours).map(_.toLong * 3600L * 1000L),
        lite = lite != null, dryRun = dry != null))
    case DescribeHistoryRe(path) => Some(GraftDescribeHistoryCommand(path))
    case DescribeDetailRe(path) => Some(GraftDescribeDetailCommand(path))
    case RestoreVersionRe(path, v) => Some(GraftRestoreCommand(path, Left(v.toLong)))
    case RestoreTimestampRe(path, ts) => Some(GraftRestoreCommand(path, Right(ts)))
    case ReorgPurgeRe(path) => Some(GraftReorgPurgeCommand(path))
    case ShallowCloneRe(dst, kind, src) =>
      Some(GraftCloneCommand(src, dst, deep = kind.equalsIgnoreCase("DEEP")))
    case AnalyzeRe(path) => Some(GraftComputeStatsCommand(path))
    case FsckRe(path, dry) => Some(GraftFsckCommand(path, dryRun = dry != null))
    case GenerateRe(path) => Some(GraftGenerateManifestCommand(path))
    case SetTblPropsRe(path, pairs) =>
      val props = TblPropPairRe.findAllMatchIn(pairs).map { m =>
        def unesc(s: String) = s.replace("\\'", "'").replace("\\\\", "\\")
        unesc(m.group(1)) -> unesc(m.group(2))
      }.toSeq
      require(props.nonEmpty, s"no 'key'='value' pairs in SET TBLPROPERTIES ($pairs)")
      Some(GraftSetPropertiesCommand(path, props))
    case AddColumnsRe(path, cols) =>
      // split on top-level commas only (a DECIMAL(10,2) carries one inside)
      val parts = Seq.newBuilder[String]
      var depth = 0
      val cur = new StringBuilder
      cols.foreach {
        case c @ ('(' | '<') => depth += 1; cur += c
        case c @ (')' | '>') => depth -= 1; cur += c
        case ',' if depth == 0 => parts += cur.result().trim; cur.clear()
        case c => cur += c
      }
      if (cur.nonEmpty) parts += cur.result().trim
      val specs = parts.result().filter(_.nonEmpty).map { p =>
        val sp = p.indexOf(' ')
        require(sp > 0, s"ADD COLUMNS entry needs 'name type', got: $p")
        (p.take(sp).trim.stripPrefix("`").stripSuffix("`"), p.drop(sp).trim)
      }
      require(specs.nonEmpty, "ADD COLUMNS needs at least one 'name type' entry")
      Some(GraftAddColumnsCommand(path, specs))
    case RenameColumnRe(path, from, to) => Some(GraftRenameColumnCommand(path, from, to))
    case DropColumnRe(path, name) => Some(GraftDropColumnCommand(path, name))
    case _ => None
  }

  /** Minimal JSON string escape for the DESCRIBE DETAIL properties map. */
  private[sql] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A (possibly aliased) relation of the form `delta.`/path``. */
  private object DeltaPath {
    def unapply(p: LogicalPlan): Option[String] = p match {
      case SubqueryAlias(_, child) => unapply(child)
      case u: UnresolvedRelation
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("delta") =>
        Some(u.multipartIdentifier(1))
      case _ => None
    }
  }

  /** Parsed UPDATE/DELETE/MERGE over a `delta.`path`` target → runnable
    * command; None for every other plan (it stays on Spark's path). */
  private[sql] def asCommand(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case UpdateTable(DeltaPath(p), _, _) => Some(GraftDmlCommand(plan, p))
    case DeleteFromTable(DeltaPath(p), _) => Some(GraftDmlCommand(plan, p))
    case m: MergeIntoTable => DeltaPath.unapply(m.targetTable).map(p => GraftDmlCommand(m, p))
    case _ => None
  }

  /** Session-agnostic entry point: run `text`, intercepting Delta DML /
    * maintenance; everything else goes to plain `spark.sql`. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    def run(cmd: LogicalPlan): DataFrame =
      org.apache.spark.sql.GraftSqlBridge.ofRows(spark, cmd)
    maintenancePlan(text) match {
      case Some(cmd) => run(cmd)
      case None =>
        val plan =
          try spark.sessionState.sqlParser.parsePlan(text)
          catch { case _: Exception => return spark.sql(text) }
        asCommand(plan).map(run).getOrElse(spark.sql(text))
    }
  }

  private def column(e: Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  private def attrName(e: Expression): String = e match {
    case ua: UnresolvedAttribute =>
      require(ua.nameParts.length == 1,
        s"qualified assignment target ${ua.nameParts.mkString(".")} not supported — " +
          "use the bare column name")
      ua.nameParts.head
    case a: Attribute => a.name
    case other => throw new IllegalArgumentException(s"unsupported assignment target: $other")
  }

  /** The single-part qualifier(s) a statement may use for a relation: its
    * alias if aliased, else the relation's terminal name (lower-cased —
    * matching resolution's default case-insensitivity). */
  private def aliasSet(p: LogicalPlan): Set[String] = p match {
    case SubqueryAlias(id, _) => Set(id.name.toLowerCase)
    case u: UnresolvedRelation => Set(u.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** Rewrite the statement's target/source qualifiers onto the `t`/`s`
    * aliases [[DeltaWriter.mergeClauses]] evaluates clause expressions
    * against (its internal joined frame is `tgt.alias("t") ⋈
    * src.alias("s")`). Unqualified attributes pass through — they resolve
    * iff unambiguous in the joined frame, exactly Spark's own rule. */
  private def onTS(e: Expression, tAlias: Set[String], sAlias: Set[String]): Expression =
    e.transform {
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 =>
        val q = ua.nameParts.head.toLowerCase
        if (tAlias(q)) UnresolvedAttribute("t" +: ua.nameParts.tail)
        else if (sAlias(q)) UnresolvedAttribute("s" +: ua.nameParts.tail)
        else ua
    }

  /** The ON clause as equi-join key names: a conjunction of `t.k = s.k`
    * with the SAME terminal name both sides (the key-column contract of
    * [[DeltaWriter.mergeClauses]]). Terminal names compare
    * case-insensitively (matching Spark's default resolution), and a term
    * whose two qualifiers resolve to the SAME relation (`t.k = t.k`) is
    * refused — it is not a join key, and silently treating it as one would
    * execute different semantics than the written condition. */
  private def equiKeys(cond: Expression, tAlias: Set[String], sAlias: Set[String]): Seq[String] = {
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // Some(true)=target side, Some(false)=source side, None=unqualified/unknown
    def side(nameParts: Seq[String]): Option[Boolean] =
      nameParts.init.headOption.map(_.toLowerCase).flatMap { q =>
        if (tAlias(q)) Some(true) else if (sAlias(q)) Some(false) else None
      }
    split(cond).map {
      case eq @ EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        val (sa, sb) = (side(a.nameParts), side(b.nameParts))
        if (sa.isDefined && sa == sb) throw new IllegalArgumentException(
          s"MERGE ON term ${eq.sql} references only one side of the merge — " +
            "each equality must join a target column to a source column (t.k = s.k)")
        // target-side spelling, so the key resolves against the target schema
        if (sb.contains(true)) b.nameParts.last else a.nameParts.last
      case other => throw new IllegalArgumentException(
        s"MERGE ON must be a conjunction of t.k = s.k equalities on same-named columns; got: ${other.sql}")
    }
  }

  /** Execute a parsed DML plan against `path`; returns the commit version. */
  private[sql] def execute(spark: SparkSession, plan: LogicalPlan, path: String): Long =
    plan match {
      case UpdateTable(_, assignments, cond) =>
        val pairs = assignments.map(a => attrName(a.key) -> column(a.value))
        val dups = pairs.groupBy(_._1.toLowerCase).collect { case (k, vs) if vs.size > 1 => k }
        require(dups.isEmpty,
          s"duplicate assignment target(s) in UPDATE SET: ${dups.mkString(", ")}")
        DeltaWriter.update(spark, path, cond.map(column).getOrElse(lit(true)), pairs.toMap)
      case DeleteFromTable(_, cond) =>
        DeltaWriter.delete(spark, path, column(cond))
      case MergeIntoTable(tgt, source, cond, matched, notMatched, notMatchedBySource, withSchemaEvolution) =>
        val srcDf0 = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, source)
        val (tA, sA) = (aliasSet(tgt), aliasSet(source))
        // WITH SCHEMA EVOLUTION: source-only columns become new NULLABLE
        // table columns via a metadata-only ADD COLUMNS commit BEFORE the
        // merge (two commits; a failure in between leaves a valid evolved
        // table — the additive direction is safe)
        if (withSchemaEvolution) {
          val existing = graft.delta.DeltaSnapshotReader.snapshot(spark, path)
            .schema.fieldNames.map(_.toLowerCase).toSet
          val newCols = srcDf0.schema.fields
            .filterNot(f => existing(f.name.toLowerCase)).toSeq
          if (newCols.nonEmpty) DeltaWriter.addColumns(spark, path, newCols)
        }
        val tgtSchema = graft.delta.DeltaSnapshotReader.snapshot(spark, path).schema
        // canonicalize each key to the target schema's spelling —
        // [[DeltaWriter.mergeClauses]] resolves key names case-SENSITIVELY there
        val tgtFields = tgtSchema.fieldNames
        val keys = equiKeys(cond, tA, sA)
          .map(k => tgtFields.find(_.equalsIgnoreCase(k)).getOrElse(k))
        // under evolution the source may lack some target columns: pad
        // them with typed nulls so the writer's shape contract holds, and
        // narrow the UPDATE SET * scope to the source's REAL columns —
        // matched rows must KEEP their values for columns the source does
        // not supply (delta-spark's evolved SET * semantics)
        val srcNames = srcDf0.columns.map(_.toLowerCase).toSet
        val padFields = tgtSchema.fields.filterNot(f => srcNames(f.name.toLowerCase)).toSeq
        val srcDf =
          if (!withSchemaEvolution || padFields.isEmpty) srcDf0
          else padFields.foldLeft(srcDf0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        val starSet: Option[Map[String, Column]] =
          if (withSchemaEvolution && padFields.nonEmpty)
            Some(srcDf0.columns.map { n =>
              val canon = tgtFields.find(_.equalsIgnoreCase(n)).getOrElse(n)
              canon -> org.apache.spark.sql.functions.col(s"s.`$n`")
            }.toMap)
          else None
        def colOf(e: Expression): Column = column(onTS(e, tA, sA))
        def condOf(c: Option[Expression]): Option[Column] = c.map(colOf)
        def setOf(as: Seq[Assignment]): Map[String, Column] =
          as.map { a =>
            val k = a.key match {
              case ua: UnresolvedAttribute if ua.nameParts.length == 2 &&
                tA(ua.nameParts.head.toLowerCase) => ua.nameParts.last
              case other => attrName(other)
            }
            k -> colOf(a.value)
          }.toMap
        import DeltaWriter._
        val matchedCs: Seq[MergeClause] = matched.map {
          case UpdateStarAction(c) => starSet match {
            case Some(set) => MatchedUpdate(set, condOf(c))
            case None => MatchedUpdateAll(condOf(c))
          }
          case UpdateAction(c, as, _) => MatchedUpdate(setOf(as), condOf(c))
          case DeleteAction(c) => MatchedDelete(condOf(c))
          case other => throw new IllegalArgumentException(
            s"unsupported WHEN MATCHED action in SQL MERGE: $other")
        }
        val insertCs: Seq[MergeClause] = notMatched.map {
          case InsertStarAction(c) => NotMatchedInsertAll(condOf(c))
          case other => throw new IllegalArgumentException(
            "WHEN NOT MATCHED supports only INSERT * in SQL MERGE " +
              s"(explicit column lists are not supported); got: $other")
        }
        val bySourceCs: Seq[MergeClause] = notMatchedBySource.map {
          case DeleteAction(c) => NotMatchedBySourceDelete(condOf(c))
          case UpdateAction(c, as, _) => NotMatchedBySourceUpdate(setOf(as), condOf(c))
          case other => throw new IllegalArgumentException(
            s"unsupported WHEN NOT MATCHED BY SOURCE action in SQL MERGE: $other")
        }
        // families apply to disjoint row classes, so only the relative
        // order WITHIN each family matters — preserved here
        DeltaWriter.mergeClauses(spark, path, srcDf, keys, matchedCs ++ insertCs ++ bySourceCs)
      case other => throw new IllegalArgumentException(s"not a Graft DML plan: $other")
    }
}

/** UPDATE/DELETE/MERGE on a `delta.`path`` table, as a runnable command
  * (what [[GraftSqlParser]] returns from `parsePlan`, so `spark.sql` runs
  * it like any native command). Holds the UNRESOLVED parsed plan: the
  * expressions resolve inside [[DeltaWriter]] against the live snapshot
  * relation, exactly as the API path does. */
case class GraftDmlCommand(dml: LogicalPlan, path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(dml)
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(GraftSql.execute(sparkSession, dml, path)))
}

/** OPTIMIZE [ZORDER BY (...)]: Morton-clustered rewrite when ZORDER columns
  * are given; otherwise the table's DECLARED clustering layout wins — a
  * clustered table re-clusters incrementally (delta-spark's OPTIMIZE
  * semantics; plain bin-packing would destroy the layout's stats-skipping),
  * an unclustered table gets bin-pack compaction. */
case class GraftOptimizeCommand(path: String, zorderBy: Seq[String],
                                where: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    // WHERE (partition-scoped maintenance): the predicate text parses to a
    // Column; DeltaWriter validates it touches partition columns only
    val w = where.map(org.apache.spark.sql.functions.expr)
    val v =
      if (zorderBy.nonEmpty)
        DeltaWriter.zorder(sparkSession, path, zorderBy, where = w)
      else {
        val snap = graft.delta.DeltaSnapshotReader.snapshot(sparkSession, path)
        if (graft.delta.Clustering.clusteringColumns(snap).nonEmpty) {
          require(w.isEmpty,
            "OPTIMIZE WHERE on a clustered table is not supported — " +
              "clustering maintenance is incremental by watermark")
          graft.delta.Clustering.optimize(sparkSession, path)
        } else DeltaWriter.optimize(sparkSession, path, where = w).getOrElse(-1L)
      }
    Seq(Row(v))
  }
}

/** DESCRIBE HISTORY: the commit log, newest first (version, timestamp ms,
  * operation, parameters as JSON, engineInfo) — the audit view an
  * Athena-style user expects from a Delta table. Collects one row per
  * COMMIT (bounded by log retention), not per file. */
case class GraftDescribeHistoryCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("timestamp", LongType)(),
    AttributeReference("operation", org.apache.spark.sql.types.StringType)(),
    AttributeReference("operationParameters", org.apache.spark.sql.types.StringType)(),
    AttributeReference("engineInfo", org.apache.spark.sql.types.StringType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    graft.delta.DeltaSnapshotReader.history(sparkSession, path)
      .select(org.apache.spark.sql.functions.col("version"),
        org.apache.spark.sql.functions.col("timestamp"),
        org.apache.spark.sql.functions.col("operation"),
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.col("operationParameters")).as("operationParameters"),
        org.apache.spark.sql.functions.col("engineInfo"))
      .collect().toSeq
}

/** DESCRIBE DETAIL: one-row physical summary of the table (format, version,
  * file count, total bytes, partition columns, properties as JSON) — the
  * capacity-planning view. `numFiles`/`sizeInBytes` come from the
  * distributed file-set aggregate, never a driver-collected file list. */
case class GraftDescribeDetailCommand(path: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType)(),
    AttributeReference("location", StringType)(),
    AttributeReference("version", LongType)(),
    AttributeReference("numFiles", LongType)(),
    AttributeReference("sizeInBytes", LongType)(),
    AttributeReference("partitionColumns", StringType)(),
    AttributeReference("properties", StringType)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val snap = graft.delta.DeltaSnapshotReader.snapshot(sparkSession, path)
    val props = snap.configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${GraftSql.jsonStr(k)}:${GraftSql.jsonStr(v)}" }
      .mkString("{", ",", "}")
    Seq(Row("delta", path, snap.version, snap.fileSet.count, snap.fileSet.totalBytes,
      snap.partitionColumns.mkString(","), props))
  }
}

/** RESTORE TABLE … TO VERSION|TIMESTAMP AS OF …: undo as a forward commit
  * (DeltaWriter.restore); a timestamp resolves through the same rule as
  * time travel (latest commit at or before it). */
case class GraftRestoreCommand(path: String, to: Either[Long, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val version = to match {
      case Left(v) => v
      case Right(ts) =>
        // session-timeZone semantics, shared with the timestampAsOf reader
        // option — NOT the JVM default zone (the same literal must resolve
        // to the same version through every time-travel entry point)
        graft.delta.GraftDeltaSource.resolveVersion(sparkSession, path, None, Some(ts)).get
    }
    Seq(Row(DeltaWriter.restore(sparkSession, path, version)))
  }
}

/** REORG TABLE … APPLY (PURGE): materialize deletion vectors into clean
  * files (layout-only), unblocking VACUUM of the DV bins and OPTIMIZE of
  * the purged files. */
case class GraftReorgPurgeCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(DeltaWriter.reorgPurge(sparkSession, path).getOrElse(-1L)))
}

/** CREATE TABLE dst SHALLOW CLONE src: a zero-copy metadata clone — the new
  * log references the source's files by absolute path. */
/** ANALYZE TABLE … COMPUTE STATISTICS over a delta path: one metadata
  * commit re-adds every active file with footer-derived stats
  * ([[DeltaWriter.recomputeStats]]) — the stats-less-foreign-table remedy
  * as a statement. */
case class GraftComputeStatsCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(DeltaWriter.recomputeStats(sparkSession, path)))
}

/** FSCK REPAIR TABLE … [DRY RUN]: drop add entries whose data file is
  * missing from storage; one `path` row per affected file. */
case class GraftFsckCommand(path: String, dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    DeltaWriter.fsckRepair(sparkSession, path, dryRun).map(Row(_))
}

case class GraftCloneCommand(src: String, dst: String,
                             deep: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(
      if (deep) DeltaWriter.deepClone(sparkSession, src, dst)
      else DeltaWriter.shallowClone(sparkSession, src, dst)))
}

/** GENERATE symlink_format_manifest FOR TABLE …: write the per-partition
  * manifest files a manifest-based engine (Athena/Presto/Hive — the
  * reference's consumer world) scans from; returns the snapshot version
  * the manifests describe. */
case class GraftGenerateManifestCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(DeltaWriter.generateManifest(sparkSession, path)))
}

/** ALTER TABLE … SET TBLPROPERTIES ('k'='v', …): one metadata commit; the
  * property keys delta-spark gives behavior to (appendOnly, CDF, DVs,
  * UniForm enabledFormats, checkpoint interval, commit owner …) take
  * effect from the NEXT commit on, like every config. */
case class GraftSetPropertiesCommand(path: String,
                                     props: Seq[(String, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(DeltaWriter.setProperties(sparkSession, path, props.toMap)))
}

/** ALTER TABLE … ADD COLUMNS (name type, …): additive, metadata-only —
  * old files read the new columns as null. Types parse through Spark's
  * own DDL parser. */
case class GraftAddColumnsCommand(path: String,
                                  specs: Seq[(String, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val fields = specs.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n,
        sparkSession.sessionState.sqlParser.parseDataType(t), nullable = true)
    }
    Seq(Row(DeltaWriter.addColumns(sparkSession, path, fields)))
  }
}

/** ALTER TABLE … RENAME COLUMN a TO b: metadata-only under column mapping
  * (the writer refuses unmapped tables loudly — data files key physical
  * names, so a bare rename would orphan them). */
case class GraftRenameColumnCommand(path: String, from: String,
                                    to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(DeltaWriter.renameColumn(sparkSession, path, from, to)))
}

/** ALTER TABLE … DROP COLUMN a: metadata-only; the physical data stays in
  * the files (column mapping required, same rule as delta-spark). */
case class GraftDropColumnCommand(path: String, name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(DeltaWriter.dropColumn(sparkSession, path, name)))
}

/** VACUUM [LITE] [RETAIN n HOURS] [DRY RUN]: delete unreferenced files
  * past retention — LITE derives the set from log tombstones (no data-tree
  * listing), the full form lists and catches orphans too. DRY RUN returns
  * the deletable paths WITHOUT deleting (delta-spark's statement form —
  * one `path` row per candidate). */
case class GraftVacuumCommand(path: String, retentionMs: Option[Long],
                              lite: Boolean = false,
                              dryRun: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("path", StringType)())
    else Seq(AttributeReference("n_deleted", LongType)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val ms = retentionMs.getOrElse(DeltaWriter.TOMBSTONE_RETENTION_MS)
    // delta-spark-style guard: sub-default retention breaks time travel to
    // recent versions and any concurrent reader of a just-superseded
    // snapshot — refuse unless explicitly overridden (the SQL surface is
    // where untrusted statement text first reaches vacuum). DRY RUN is
    // exempt: it deletes nothing, and previewing a short horizon is
    // exactly what the form is for.
    if (!dryRun && ms < DeltaWriter.TOMBSTONE_RETENTION_MS &&
        sparkSession.conf.get("spark.graft.retentionDurationCheck.enabled", "true").toBoolean)
      throw new IllegalArgumentException(
        s"VACUUM retention ${ms} ms is below the default " +
          s"${DeltaWriter.TOMBSTONE_RETENTION_MS} ms; set " +
          "spark.graft.retentionDurationCheck.enabled=false to override")
    val found =
      if (lite) DeltaWriter.vacuumLite(sparkSession, path, ms, dryRun = dryRun)
      else DeltaWriter.vacuum(sparkSession, path, ms, dryRun = dryRun)
    if (dryRun) found.map(Row(_)) else Seq(Row(found.size.toLong))
  }
}

/** Parser injected by [[graft.functions.GraftExtensions]]: intercepts the
  * Delta DML/maintenance statements above, delegates every other string to
  * Spark's parser untouched. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSql.maintenancePlan(sqlText).getOrElse {
      val plan = delegate.parsePlan(sqlText)
      GraftSql.asCommand(plan).getOrElse(plan)
    }
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}
