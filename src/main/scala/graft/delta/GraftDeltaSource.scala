package graft.delta

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graftdelta").load(path)` — the registered data
  * source for the from-scratch Delta reader. Options:
  *   - `versionAsOf`: time travel to a specific snapshot version;
  *   - `timestampAsOf`: time travel to the latest version committed at or
  *     before a `yyyy-MM-dd HH:mm:ss[.f...]` wall-clock timestamp.
  *
  * Returns [[GraftDeltaEngineRelation]]: the table path and the pinned
  * version (None = latest, resolved at each analysis). With
  * [[graft.functions.GraftExtensions]] the analyzer plans every read of it
  * through [[DeltaFileIndex.relation]] ([[GraftDeltaEngineReadRule]]):
  * partition pruning, stats skipping, parquet pushdown, deletion vectors
  * and column mapping, columns in table-schema order. A bare session reads
  * every live row through the relation's `TableScan`. A table registered
  * `USING graftdelta` in the session catalog reads the same way.
  *
  * Also a streaming source: `spark.readStream.format("graftdelta")
  * .load(path)` tails the transaction log ([[DeltaStreamSource]]);
  * streaming options: `readChangeFeed` (`true` → each micro-batch is the
  * row-level change feed with `_change_type`/`_commit_version`/
  * `_commit_timestamp`), `startingVersion` / `startingTimestamp` (backfill
  * from a version, or from the first commit at-or-after a wall-clock
  * timestamp, instead of the initial snapshot), `maxFilesPerTrigger` (bound each
  * micro-batch to ~N newly-added files — backlog catch-up in steps),
  * `ignoreDeletes` (tolerate delete-only commits) and `skipChangeCommits`
  * (skip rewriting commits wholesale; appends-only flow).
  */
final class GraftDeltaSource extends RelationProvider with StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graftdelta"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graftdelta: 'path' option required"))

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").orElse(parameters.get("readChangeData"))
      .exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse {
      val base = DeltaSnapshotReader.snapshot(sqlContext.sparkSession, pathOf(parameters)).schema
      if (!cdfOf(parameters)) base
      else StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField(ChangeDataFeed.ChangeTypeCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(ChangeDataFeed.VersionCol,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(ChangeDataFeed.TimestampCol,
          org.apache.spark.sql.types.TimestampType)))
    })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext, pathOf(parameters), cdf = cdfOf(parameters),
      // startingTimestamp (delta-spark parity): resolved ONCE at source
      // creation to the FIRST commit at-or-after the timestamp (the
      // streaming contract — "changes since ts"), via the same mtime/ICT
      // rule time travel uses; mutually exclusive with startingVersion
      startingVersion = (parameters.get("startingVersion"),
          parameters.get("startingTimestamp")) match {
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          "graftdelta streaming: specify startingVersion OR startingTimestamp, not both")
        case (Some(v), None) => Some(v.toLong)
        case (None, Some(ts)) =>
          Some(DeltaSnapshotReader.versionAtTimestamp(sqlContext.sparkSession, pathOf(parameters), ts,
            "graftdelta startingTimestamp", firstAtOrAfter = true))
        case (None, None) => None
      },
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map { v =>
        val n = v.toLong
        require(n > 0, s"graftdelta: maxFilesPerTrigger must be positive, got $v")
        n
      },
      nonAppendMode = {
        def flag(k: String) = parameters.get(k).exists(_.equalsIgnoreCase("true"))
        // skipChangeCommits subsumes ignoreDeletes when both are set
        if (flag("skipChangeCommits")) "skipChangeCommits"
        else if (flag("ignoreDeletes")) "ignoreDeletes"
        else "fail"
      })

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    GraftDeltaEngineRelation(spark, path, GraftDeltaSource.resolveVersion(spark, path,
      parameters.get("versionAsOf"), parameters.get("timestampAsOf")))
  }
}

object GraftDeltaSource {

  /** Shared time-travel option resolution (v1 relation + v2 table).
    * `timestampAsOf` is interpreted in spark.sql.session.timeZone (NOT the
    * JVM default), so this engine and delta-spark resolve the same version
    * for the same option value when the two zones differ. */
  private[graft] def resolveVersion(spark: org.apache.spark.sql.SparkSession,
                                    path: String, versionAsOf: Option[String],
                                    timestampAsOf: Option[String]): Option[Long] =
    versionAsOf.map(_.toLong).orElse(timestampAsOf.map(ts =>
      DeltaSnapshotReader.versionAtTimestamp(spark, path, ts, "graftdelta timestampAsOf", firstAtOrAfter = false)))
}
