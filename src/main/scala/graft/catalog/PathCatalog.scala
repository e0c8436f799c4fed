package graft.catalog

import graft.delta.DeltaSnapshotReader
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Path-based catalog: tables discovered from storage layout, no metastore —
  * the engine analog of the reference's S3 `_$folder$` marker discovery
  * (reference A1-A3: DeltaMetadataHandler.scala:42-55, 74-88).
  *
  * A table is either `<root>/<name>.parquet` (format "parquet") or a
  * directory `<root>/<name>/` containing `_delta_log` (format "delta").
  */
final class PathCatalog(spark: SparkSession, root: String) {

  /** (tableName, format) pairs, sorted by name. */
  def listTables(): Seq[(String, String)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return Seq.empty
    fs.listStatus(rootPath).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet")) Some(n.stripSuffix(".parquet") -> "parquet")
      else if (st.isDirectory && fs.exists(new Path(st.getPath, "_delta_log"))) Some(n -> "delta")
      else None
    }.sortBy(_._1)
  }

  /** Resolve a table name to a DataFrame, dispatching on format. */
  def table(name: String): DataFrame = {
    val byName = listTables().toMap
    byName.get(name) match {
      case Some("parquet") => spark.read.parquet(s"$root/$name.parquet")
      case Some("delta")   => DeltaSnapshotReader.load(spark, s"$root/$name")
      case _ => throw new IllegalArgumentException(
        s"table not found: $name under $root (have: ${byName.keys.toSeq.sorted.mkString(", ")})")
    }
  }

  /** Register every discovered table into the SESSION catalog under `db`,
    * so `spark.sql("… FROM $db.<name> …")` resolves with no temp views —
    * the engine analog of Athena's registered data source (reference
    * README.md:34-38). Parquet tables register `USING parquet`; Delta
    * tables register `USING graftdelta` ([[graft.delta.GraftDeltaSource]]).
    * Each query over a Delta table reads its latest version, planned by
    * [[graft.delta.DeltaFileIndex.relation]] when the session has
    * [[graft.functions.GraftExtensions]]: log-level partition pruning,
    * stats skipping and parquet pushdown, as delta-spark's own
    * `USING delta` tables have. Idempotent per session. */
  def registerAll(db: String = "graft"): Unit = {
    ensureDatabase(db)
    // events.ts drifts between physical TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS) across fixture generations (see Tables.events):
    // schema inference at CREATE needs the same legacy flag so a NANOS file
    // registers as raw-nanos BIGINT instead of failing; a MICROS file
    // registers as TIMESTAMP_NTZ either way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    listTables().foreach {
      case (name, "parquet") => register(db, name, "parquet", s"$root/$name.parquet")
      case (name, _)         => register(db, name, "graftdelta", s"$root/$name")
    }
  }

  def ensureDatabase(db: String): Unit = {
    val loc = new java.io.File(sys.props("java.io.tmpdir"), s"graft_db_$db").toURI.toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db` LOCATION '$loc'")
  }

  /** Register one table (idempotent); exposed so fixture tables living
    * outside the discovery root (e.g. the demo Delta table) can join the
    * same namespace. */
  def register(db: String, name: String, source: String, path: String): Unit =
    if (!spark.catalog.tableExists(s"`$db`.`$name`"))
      spark.catalog.createTable(s"`$db`.`$name`", source, Map("path" -> path))
}
