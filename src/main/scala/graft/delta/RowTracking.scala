package graft.delta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row tracking (Delta writer feature `rowTracking` + its `domainMetadata`
  * dependency): every row gets a STABLE row id and a commit-provenance
  * version, assigned per file as `add.baseRowId + row_index` /
  * `add.defaultRowCommitVersion` — no per-row storage cost, ids live
  * entirely in the log. The fresh-id high-water mark is kept in the
  * `delta.rowTracking` metadata domain (latest-wins replay, checkpointed
  * like any action).
  *
  * Scale shape: assignment is O(files-in-commit) driver arithmetic off the
  * stats the writer already collected (numRecords per file); the read path
  * adds the scan's `_metadata.row_index` to the file's `baseRowId`, which
  * the scan carries as a file-constant `_metadata` field
  * ([[DeltaFileIndex.BaseRowId]]) — no join, no shuffle, no extra job.
  *
  * Id stability contract: appends mint fresh ranges; DV deletes re-add the
  * same file with its `baseRowId` untouched (deleting marks rows, never
  * moves them); RESTORE/CLONE/checkpoint carry ids verbatim; every
  * rewriting operation — OPTIMIZE, ZORDER, CoW DELETE/UPDATE/MERGE, REORG
  * PURGE — preserves ids by MATERIALIZING them into the rewritten files
  * under config-declared physical-only column names (the spec's
  * mechanism); readers coalesce the materialized columns over
  * `baseRowId + row_index`. UPDATE stamps modified rows with the updating
  * commit as their row-commit version; MERGE lets matched source rows
  * inherit the replaced target row's id.
  */
object RowTracking {

  /** Metadata domain holding `{"rowIdHighWaterMark":N}`. */
  val Domain = "delta.rowTracking"

  val EnableKey = "delta.enableRowTracking"

  /** Config keys naming the MATERIALIZED row-id / commit-version columns —
    * physical-only parquet columns (never in the table schema) that
    * rewritten files carry so ids survive compaction; readers prefer them
    * over `baseRowId + row_index` (the spec's preservation mechanism). */
  val MaterializedIdKey = "delta.rowTracking.materializedRowIdColumnName"
  val MaterializedVerKey = "delta.rowTracking.materializedRowCommitVersionColumnName"

  def materializedCols(config: Map[String, String]): Option[(String, String)] =
    for { id <- config.get(MaterializedIdKey); v <- config.get(MaterializedVerKey) }
      yield (id, v)

  def isEnabled(config: Map[String, String]): Boolean =
    config.get(EnableKey).exists(_.equalsIgnoreCase("true"))

  /** Highest row id ever assigned (−1 before the first assignment). */
  def highWaterMark(snap: DeltaSnapshot): Long =
    snap.domainMetadata.get(Domain).flatMap(parseHwm).getOrElse(-1L)

  private[delta] def parseHwm(cfgJson: String): Option[Long] =
    """"rowIdHighWaterMark"\s*:\s*(-?\d+)""".r
      .findFirstMatchIn(cfgJson).map(_.group(1).toLong)

  private[delta] def hwmConfigJson(hwm: Long): String =
    s"""{"rowIdHighWaterMark":$hwm}"""

  /** Rows of one add, from the stats this writer always records. */
  private def numRecords(f: AddFile): Long =
    f.stats.flatMap(DataSkipping.parse).flatMap(_.numRecords).getOrElse(
      throw new IllegalStateException(
        s"row tracking requires numRecords stats on every add (${f.path} has none)"))

  /** Assign fresh, contiguous row-id ranges to `adds` starting above `hwm`
    * (path order — deterministic across retries) and stamp the commit
    * version. Returns the assigned adds + the new high-water mark. */
  def assign(adds: Seq[AddFile], hwm: Long, commitVersion: Long): (Seq[AddFile], Long) = {
    var next = hwm + 1
    val out = adds.sortBy(_.path).map { f =>
      val assigned = f.copy(baseRowId = Some(next),
        defaultRowCommitVersion = Some(commitVersion))
      next += numRecords(f)
      assigned
    }
    (out, next - 1)
  }

  /** The table with two extra columns: `_row_id` (stable) and
    * `_row_commit_version` (provenance). Files rewritten by OPTIMIZE carry
    * MATERIALIZED id/version columns which take precedence (that is how
    * ids survive compaction); fresh files fall back to
    * `baseRowId + row_index`. Deletion-vector'd rows are dropped like any
    * read; their ids are never reused. */
  def readWithRowIds(spark: SparkSession, tablePath: String): DataFrame =
    readWithRowIds(spark, DeltaSnapshotReader.snapshot(spark, tablePath))

  /** Snapshot form — also used by the DML rewrite paths, which read the
    * AFFECTED-file subset with ids so rewritten files keep them.
    * `keepIndex = true` additionally surfaces the physical `__fp`/`__ri`
    * scan columns — the DV clause-MERGE leg needs the row's stable id AND
    * its (file, row-index) address in one frame to mask exactly the rows
    * its clauses touch. */
  def readWithRowIds(spark: SparkSession, snap: DeltaSnapshot,
                     keepIndex: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    require(isEnabled(snap.configuration),
      s"row tracking is not enabled on ${snap.tablePath} (set $EnableKey via enableRowTracking)")
    val mat = materializedCols(snap.configuration)
    val extra = mat.toSeq.flatMap { case (i, v) =>
      Seq(StructField(i, LongType), StructField(v, LongType)) }
    val raw = DeltaFileIndex.relationWithRowIndexLive(spark, snap, extra, rowIdInputs = true)
    // Invariant check: every active file of an enabled table must carry a
    // baseRowId (the enablement backfill and all writer paths guarantee
    // it). A file without one — a foreign append, or a future writer bug —
    // would read with NULL ids, which a rewrite would then renumber; a
    // loud refusal beats that. A file set the driver holds is checked by a
    // driver fold; a distributed one by one job that brings back at most
    // 5 offending paths.
    val missing =
      if (snap.fileSet.isCollected)
        snap.fileSet.collected.iterator.filter(_.baseRowId.isEmpty).map(_.path).take(5).toSeq
      else snap.fileSet.df.where(col("baseRowId").isNull)
        .select("path").limit(5).collect().map(_.getString(0)).toSeq
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"row tracking on ${snap.tablePath}: active file(s) without baseRowId " +
          s"(foreign append to a tracked table?): ${missing.mkString(", ")}")
    val base = col(s"__${DeltaFileIndex.BaseRowId}")
    val ver = col(s"__${DeltaFileIndex.DefaultRowCommitVersion}")
    val (idCol, verCol) = mat match {
      case Some((i, v)) => (coalesce(col(s"`$i`"), base + col("__ri")), coalesce(col(s"`$v`"), ver))
      case None => (base + col("__ri"), ver)
    }
    raw.select(snap.schema.map(f => col(f.name)) ++ Seq(
        idCol.as("_row_id"), verCol.as("_row_commit_version")) ++
        (if (keepIndex) Seq(col("__fp"), col("__ri")) else Nil): _*)
  }
}
