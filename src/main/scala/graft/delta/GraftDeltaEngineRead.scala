package graft.delta

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

/** Every SQL-visible Delta read plans through [[DeltaFileIndex.relation]].
  *
  * The v1 `graftdelta` source returns [[GraftDeltaEngineRelation]] and the
  * DSv2 `graftdelta2` provider and [[graft.catalog.GraftCatalog]] return a
  * [[GraftDeltaTable]]; neither builds a scan. At analysis this rule
  * replaces each read of either with the engine's read plan over the
  * snapshot: the native `HadoopFsRelation` scan over [[DeltaFileIndex]]
  * (partition pruning, stats skipping, parquet pushdown, column pruning),
  * the broadcast-bitmap deletion-vector row filter, and the
  * physical→logical rename of column mapping. A `Project` aliases that
  * plan's output to the replaced relation's attribute ids, matched by
  * name, so every reference above keeps resolving. The v1 relation
  * resolves its snapshot here, at each analysis: a table registered in
  * the session catalog reads the latest version, as delta-spark's index
  * does.
  *
  * Write-side plans are untouched: `V2WriteCommand.table` is not a child
  * of the command node, so `resolveOperatorsUp` never rewrites an INSERT
  * target — appends keep flowing through [[DeltaWriter.write]].
  *
  * The rule is injected by [[graft.functions.GraftExtensions]], which
  * every engine entry point installs. A session without it reads through
  * the relation's `TableScan` instead: the same plan, every live row, no
  * pushdown from the query.
  */
class GraftDeltaEngineReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Engine read plan for `snap`, projected onto `out`'s exprIds. Its scan
    * carries `table`, the catalog entry of the replaced relation, as
    * Spark's own scan of a catalog table does (`REFRESH TABLE` and
    * `spark.catalog.refreshTable` look for it). */
  private def substitute(out: Seq[Attribute], snap: DeltaSnapshot,
                         table: Option[CatalogTable]): LogicalPlan = {
    val engine = DeltaFileIndex.relation(spark, snap).queryExecution.analyzed.transformUp {
      case l: LogicalRelation if table.isDefined && l.catalogTable.isEmpty => l.copy(catalogTable = table)
    }
    val resolver = spark.sessionState.conf.resolver
    val projs: Seq[NamedExpression] = out.map { o =>
      val e = engine.output.find(a => resolver(a.name, o.name)).getOrElse(
        throw new IllegalStateException(s"engine read of ${snap.tablePath} v${snap.version} " +
          s"has no column ${o.name} (columns: ${engine.output.map(_.name).mkString(", ")})"))
      Alias(e, o.name)(exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata))
    }
    Project(projs, engine)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftDeltaTable] =>
      // a table loaded by name from a catalog gets an entry naming it
      val table = for (c <- r.catalog; id <- r.identifier) yield CatalogTable(
        TableIdentifier(id.name, id.namespace.lastOption, Some(c.name)), CatalogTableType.EXTERNAL,
        CatalogStorageFormat.empty, r.schema)
      substitute(r.output, r.table.asInstanceOf[GraftDeltaTable].snap, table)
    case lr: LogicalRelation if lr.relation.isInstanceOf[GraftDeltaEngineRelation] =>
      substitute(lr.output, lr.relation.asInstanceOf[GraftDeltaEngineRelation].snapshot(), lr.catalogTable)
  }
}

/** The relation of a Delta table at `tablePath`, pinned to `version`, or
  * the latest version when None. It carries no snapshot: each read
  * resolves one ([[snapshot]]), so a relation the session catalog caches
  * keeps reading the table as it is. Its schema is the table schema, in
  * table order, at the time the relation was made. With
  * [[graft.functions.GraftExtensions]] the analyzer replaces it wholesale
  * ([[GraftDeltaEngineReadRule]]); in a bare session its `TableScan`
  * executes the engine plan and hands Spark the unsafe rows directly
  * (`needConversion=false`), at the cost of a codegen boundary. */
final case class GraftDeltaEngineRelation(spark: SparkSession, tablePath: String, version: Option[Long])
    extends BaseRelation with TableScan {
  def snapshot(): DeltaSnapshot = DeltaSnapshotReader.snapshotAt(spark, tablePath, version)
  override def sqlContext: SQLContext = spark.sqlContext
  override lazy val schema: StructType = snapshot().schema
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    DeltaFileIndex.relation(spark, snapshot()).queryExecution.toRdd.asInstanceOf[RDD[Row]]
}
