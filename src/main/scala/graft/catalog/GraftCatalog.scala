package graft.catalog

import graft.delta.{DeltaSnapshotReader, DeltaWriter, GraftDeltaTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark-native V2 `TableCatalog` over a storage root — the modern catalog
  * face of [[PathCatalog]]'s marker-style discovery (reference A1-A3,
  * DeltaMetadataHandler.scala:42-55, 74-88), registered the standard way:
  *
  * {{{
  *   spark.sql.catalog.<name>      = graft.catalog.GraftCatalog
  *   spark.sql.catalog.<name>.root = /data/warehouse
  *
  *   SELECT * FROM <name>.default.orders            -- latest snapshot
  *   SELECT * FROM <name>.default.orders VERSION AS OF 3
  *   SELECT * FROM <name>.default.orders TIMESTAMP AS OF '2026-01-01'
  * }}}
  *
  * Discovery mirrors [[PathCatalog.listTables]]: `<root>/<name>/` with a
  * `_delta_log` is a Delta table (a [[GraftDeltaTable]]; with
  * [[graft.functions.GraftExtensions]] every read of it is planned by
  * [[graft.delta.DeltaFileIndex.relation]], the engine's one Delta scan —
  * log-level partition pruning, stats skipping, parquet pushdown,
  * deletion vectors, column mapping), `<root>/<name>.parquet` is a parquet table (served by
  * Spark's stock v2 `ParquetTable`). One flat `default` namespace — the
  * root IS the schema, exactly the reference's one-bucket=one-schema model.
  *
  * SQL time travel lands here: Spark resolves `VERSION AS OF` /
  * `TIMESTAMP AS OF` through the `loadTable(ident, version|timestamp)`
  * overloads (timestamp arrives in MICROseconds), which resolve against the
  * Delta log exactly like the `versionAsOf`/`timestampAsOf` reader options.
  *
  * `INSERT INTO` / `INSERT OVERWRITE` work on the Delta tables (the
  * [[GraftDeltaTable]] V1 write bridge lands on [[graft.delta.DeltaWriter]]'s
  * transactional append/overwrite). `CREATE TABLE` (and therefore
  * `CREATE TABLE … AS SELECT`, which Spark runs as create + append) commits
  * an empty v0 Delta log under `<root>/<name>`; `DROP TABLE` removes the
  * directory. Identity partition transforms only — a table's layout IS its
  * storage. `ALTER TABLE` dispatches onto DeltaWriter's typed metadata-only
  * entry points (ADD COLUMNS, DROP/RENAME COLUMN under column mapping,
  * type widening, SET/UNSET TBLPROPERTIES); row-level DML mutates through
  * the SQL-text DML surface ([[graft.sql.GraftSql]]).
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _
  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.root to the table root directory"))
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("default")

  private def requireDefault(ns: Array[String]): Unit =
    if (!(ns.isEmpty || ns.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(ns)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireDefault(namespace)
    new PathCatalog(spark, root).listTables()
      .map { case (n, _) => Identifier.of(Array("default"), n) }.toArray
  }

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** `VERSION AS OF <v>`: the log's commit version. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(
      try version.toLong
      catch { case _: NumberFormatException =>
        throw new UnsupportedOperationException(
          s"${ident.name()}: invalid VERSION AS OF '$version' — Delta versions are integers")
      }))

  /** `TIMESTAMP AS OF <ts>`: Spark hands MICROseconds since epoch; resolved
    * to the last commit at-or-before it, like the reader option. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = deltaPathOf(ident)
    loadAt(ident,
      Some(DeltaSnapshotReader.versionAtTimestamp(spark, path, timestamp / 1000L)))
  }

  private def deltaPathOf(ident: Identifier, what: String = "time travel"): String = {
    requireDefault(ident.namespace())
    val dir = s"$root/${ident.name()}"
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(dir, "_delta_log"))) {
      // an existing parquet sibling gets the explicit wrong-format error
      // (same as the VERSION AS OF path), not table-not-found
      if (fs.exists(new Path(s"$dir.parquet")))
        throw new UnsupportedOperationException(
          s"${ident.name()} is a parquet table — $what needs a Delta log")
      throw new NoSuchTableException(ident)
    }
    dir
  }

  private def loadAt(ident: Identifier, versionAsOf: Option[Long]): Table = {
    requireDefault(ident.namespace())
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val deltaDir = new Path(s"$root/${ident.name()}")
    val parquetFile = new Path(s"$root/${ident.name()}.parquet")
    if (fs.exists(new Path(deltaDir, "_delta_log"))) {
      // coordinator-aware read (Delta 4.x coordinated-commits shape): the
      // catalog IS the commit owner's endpoint, so its read path completes
      // any claimed-but-unbackfilled commit before resolving the snapshot
      // — a no-op for tables without an owner registry
      graft.delta.CatalogCommitOwner.recoverTable(deltaDir.toString)
      val snap = DeltaSnapshotReader.snapshotAt(spark, deltaDir.toString, versionAsOf)
      new GraftDeltaTable(spark, snap, writable = versionAsOf.isEmpty)
    } else if (fs.exists(parquetFile)) {
      if (versionAsOf.isDefined)
        throw new UnsupportedOperationException(
          s"${ident.name()} is a parquet table — time travel needs a Delta log")
      ParquetTable(ident.name(), spark,
        new CaseInsensitiveStringMap(java.util.Map.of("path", parquetFile.toString)),
        Seq(parquetFile.toString), None, classOf[ParquetFileFormat])
    } else throw new NoSuchTableException(ident)
  }

  private def readOnly(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only path catalog: $what is not supported — " +
        "mutate through DeltaWriter / the SQL DML surface")

  /** CREATE TABLE → an empty v0 Delta commit at `<root>/<name>`; CTAS rides
    * this (Spark's non-staging plan: createTable, then append through the
    * returned table's write path — both legs transactional Delta commits). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    requireDefault(ident.namespace())
    val dir = new Path(s"$root/${ident.name()}")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new Path(dir, "_delta_log")) ||
        fs.exists(new Path(s"$root/${ident.name()}.parquet")))
      throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map { t =>
      if (t.name != "identity" || t.references.length != 1 ||
          t.references.head.fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"unsupported partition transform $t — identity column transforms only")
      t.references.head.fieldNames.head
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    DeltaWriter.write(empty, dir.toString, partCols, "overwrite")
    // Spark adds bookkeeping properties (provider/location/owner); persist
    // only genuine table properties as Delta configuration
    val reserved = Set("provider", "location", "owner", "comment", "external")
    val props = {
      import scala.jdk.CollectionConverters._
      properties.asScala.filterNot { case (k, _) =>
        reserved.contains(k.toLowerCase) || k.startsWith("option.")
      }.toMap
    }
    if (props.nonEmpty) DeltaWriter.setProperties(spark, dir.toString, props)
    loadTable(ident)
  }

  /** ALTER TABLE on the catalog's Delta tables, dispatched onto the typed
    * [[DeltaWriter]] entry points — each change is its own metadata-only
    * commit (none rewrites a data file):
    * ADD COLUMNS (appended nullable), DROP/RENAME COLUMN (column mapping
    * required, as the writer enforces), ALTER COLUMN TYPE (type widening),
    * SET/UNSET TBLPROPERTIES. Anything else refuses loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import TableChange._
    val path = deltaPathOf(ident, "ALTER TABLE")
    def topLevel(fieldNames: Array[String], what: String): String = {
      if (fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"$what on nested field ${fieldNames.mkString(".")} is not supported — top-level columns only")
      fieldNames.head
    }
    changes.foreach {
      case a: AddColumn =>
        if (a.position() != null)
          throw new UnsupportedOperationException(
            "ADD COLUMN FIRST/AFTER is not supported — new columns append")
        if (!a.isNullable)
          throw new UnsupportedOperationException(
            "ADD COLUMN NOT NULL is not supported — existing rows have no value for it")
        val name = topLevel(a.fieldNames(), "ADD COLUMN")
        val md = Option(a.comment()).map(c =>
          new org.apache.spark.sql.types.MetadataBuilder().putString("comment", c).build())
          .getOrElse(org.apache.spark.sql.types.Metadata.empty)
        DeltaWriter.addColumns(spark, path, Seq(
          org.apache.spark.sql.types.StructField(name, a.dataType(), nullable = true, md)))
      case d: DeleteColumn =>
        DeltaWriter.dropColumn(spark, path, topLevel(d.fieldNames(), "DROP COLUMN"))
      case r: RenameColumn =>
        // nested paths (SQL `RENAME COLUMN a.b.c TO d`, with element/key/
        // value pseudo-segments for containers) route to the nested form
        if (r.fieldNames().length == 1)
          DeltaWriter.renameColumn(spark, path, r.fieldNames().head, r.newName())
        else
          DeltaWriter.renameNestedColumn(spark, path,
            r.fieldNames().mkString("."), r.newName())
      case u: UpdateColumnType =>
        DeltaWriter.widenColumnType(spark, path,
          topLevel(u.fieldNames(), "ALTER COLUMN TYPE"), u.newDataType())
      case p: SetProperty =>
        DeltaWriter.setProperties(spark, path, Map(p.property() -> p.value()))
      case p: RemoveProperty =>
        DeltaWriter.setProperties(spark, path, Map.empty, removals = Seq(p.property()))
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change on ${ident.name()}: $other")
    }
    loadTable(ident)
  }

  /** DROP TABLE: remove the table directory (Delta) or data file (parquet);
    * `false` for an unknown name (Spark reports table-not-found). */
  override def dropTable(ident: Identifier): Boolean = {
    requireDefault(ident.namespace())
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val deltaDir = new Path(s"$root/${ident.name()}")
    val parquetFile = new Path(s"$root/${ident.name()}.parquet")
    if (fs.exists(new Path(deltaDir, "_delta_log"))) {
      fs.delete(deltaDir, true)
    } else if (fs.exists(parquetFile)) {
      fs.delete(parquetFile, true)
    } else false
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  // SupportsNamespaces: the single flat `default` namespace
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    requireDefault(namespace)
    if (namespace.isEmpty) listNamespaces() else Array.empty
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default"))
  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    requireDefault(namespace)
    java.util.Map.of(SupportsNamespaces.PROP_LOCATION, root)
  }
  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit =
    readOnly("CREATE NAMESPACE")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    readOnly("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly("DROP NAMESPACE")
}
