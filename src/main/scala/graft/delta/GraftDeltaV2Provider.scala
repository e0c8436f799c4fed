package graft.delta

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{ScanBuilder, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 face of the from-scratch Delta reader:
  * `spark.read.format("graftdelta2").load(path)`, and the table type
  * [[graft.catalog.GraftCatalog]] loads.
  *
  * [[GraftDeltaTable]] is the catalog surface only: schema, partitioning,
  * properties, capabilities, time travel (`versionAsOf` / `timestampAsOf`,
  * resolved as the v1 source resolves them) and the V1 write bridge. It
  * plans no scan of its own. In a session with
  * [[graft.functions.GraftExtensions]], [[GraftDeltaEngineReadRule]]
  * replaces every read of it at analysis with [[DeltaFileIndex.relation]]
  * over its snapshot, the one Delta scan plan: partition pruning, stats
  * skipping, parquet pushdown, column pruning, deletion-vector masking and
  * the column-mapping rename all happen there. In a bare session the scan
  * is a `V1Scan` over [[GraftDeltaEngineRelation]], whose `TableScan` runs
  * that same plan and returns every live row, without pushdown.
  *
  * Batch read only — streaming stays on [[DeltaStreamSource]].
  */
final class GraftDeltaV2Provider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graftdelta2"

  override def supportsExternalMetadata(): Boolean = false

  private def snapOf(options: CaseInsensitiveStringMap): DeltaSnapshot = {
    val spark = SparkSession.active
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graftdelta2: 'path' option required"))
    val version = GraftDeltaSource.resolveVersion(spark, path,
      Option(options.get("versionAsOf")), Option(options.get("timestampAsOf")))
    DeltaSnapshotReader.snapshotAt(spark, path, version)
  }

  /** The snapshot [[inferSchema]] resolved, with the options it resolved
    * them for. Spark makes one provider per load and calls `inferSchema`,
    * `inferPartitioning` and `getTable` on it in that order, so the three
    * share one resolution (one `_delta_log` listing); `getTable` takes and
    * clears it. Other options resolve afresh. */
  private var held: Option[(Map[String, String], DeltaSnapshot)] = None

  private def heldOrResolve(options: CaseInsensitiveStringMap): DeltaSnapshot = {
    val key = options.asScala.toMap
    held.collect { case (k, s) if k == key => s }.getOrElse {
      val s = snapOf(options)
      held = Some(key -> s)
      s
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    heldOrResolve(options).schema

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    heldOrResolve(options).partitionColumns.map(Expressions.identity).toArray

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val snap = heldOrResolve(opts)
    held = None
    new GraftDeltaTable(SparkSession.active, snap,
      writable = !opts.containsKey("versionAsOf") && !opts.containsKey("timestampAsOf"))
  }
}

final class GraftDeltaTable(spark: SparkSession,
                            private[graft] val snap: DeltaSnapshot,
                            writable: Boolean = true)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graftdelta.`${snap.tablePath}`"

  override def schema(): StructType = snap.schema

  override def capabilities(): java.util.Set[TableCapability] =
    if (writable)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def partitioning(): Array[Transform] =
    snap.partitionColumns.map(Expressions.identity).toArray

  /** Table configuration as catalog properties (`SHOW TBLPROPERTIES`),
    * plus the provider name. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    snap.configuration.foreach { case (k, v) => m.put(k, v) }
    m.put(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_PROVIDER, "graftdelta")
    m
  }

  /** Reached only in a session without the extensions (with them, the
    * relation is replaced before scan planning): the engine relation of
    * this snapshot, read through its `TableScan`. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new V1Scan {
      override def readSchema(): StructType = snap.schema
      override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
        GraftDeltaEngineRelation(spark, snap.tablePath, Some(snap.version)).asInstanceOf[T]
    }

  /** `INSERT INTO` / `INSERT OVERWRITE` (and `df.writeTo(...).append()`)
    * via the V1 write bridge: Spark resolves and reorders the input to the
    * table schema, then the insert runs through [[DeltaWriter.write]] — the
    * same transactional append/overwrite path every API write takes
    * (constraints, row tracking, CDF, stats all enforced there). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(writable,
      s"${snap.tablePath}: time-traveled snapshots are read-only — write to the latest version")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, ow: Boolean) => {
              DeltaWriter.write(data, snap.tablePath, snap.partitionColumns,
                if (overwrite || ow) "overwrite" else "append")
              ()
            }
        }
    }
  }
}
