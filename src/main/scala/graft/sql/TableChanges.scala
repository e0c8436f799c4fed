package graft.sql

import graft.delta.{ChangeDataFeed, DeltaSnapshotReader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.types.UTF8String

/** The `table_changes` table-valued function — delta-spark's SQL surface
  * for the change data feed (what an Athena-style SQL user writes instead
  * of the `ChangeDataFeed.read` function API):
  *
  * {{{
  *   SELECT * FROM table_changes('delta.`/path/to/tbl`', 2)          -- [2, latest]
  *   SELECT * FROM table_changes('/path/to/tbl', 2, 5)               -- [2, 5]
  *   SELECT * FROM table_changes_by_path('/path', '2024-01-02 00:00:00')
  * }}}
  *
  * Registered by [[graft.functions.GraftExtensions]] via
  * `injectTableFunction` under both names (`table_changes` and delta's
  * path-explicit `table_changes_by_path` — this engine is path-addressed,
  * so both accept a path or a `delta.`-wrapped path).
  *
  * Bounds follow delta-spark: start/end INCLUSIVE; an integer argument is
  * a commit version; a string argument is a timestamp — the start resolves
  * to the FIRST commit at-or-after it, the end to the LAST commit
  * at-or-before it (the same mtime/ICT resolution rule time travel uses,
  * [[DeltaSnapshotReader.versionAtTimestamp]]). The plan dispatches to
  * [[ChangeDataFeed.read]], so CDC files, reconstructed inserts/deletes,
  * and the `_change_type`/`_commit_version`/`_commit_timestamp` columns
  * are exactly the function API's.
  */
object TableChanges {

  def plan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 2 || exprs.length == 3,
      s"table_changes(table, startVersionOrTimestamp[, endVersionOrTimestamp]) " +
        s"takes 2 or 3 arguments, got ${exprs.length}")
    val spark = SparkSession.active
    val path = pathArg(evalFoldable(exprs.head, "table"))
    val from = boundArg(spark, path, evalFoldable(exprs(1), "start"), isStart = true)
    val to =
      if (exprs.length < 3) None
      else Some(boundArg(spark, path, evalFoldable(exprs(2), "end"), isStart = false))
    ChangeDataFeed.read(spark, path, from, to).queryExecution.analyzed
  }

  private def evalFoldable(e: Expression, what: String): Any = {
    require(e.foldable, s"table_changes: $what argument must be a literal, got $e")
    e.eval(null)
  }

  /** Accepts `/path`, `delta.`/path``, or the bare backtick-less
    * `delta.` prefix form a parser may hand through. */
  private def pathArg(v: Any): String = {
    val raw = v match {
      case s: UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"table_changes: table argument must be a string path, got $other")
    }
    if (raw.startsWith("delta.`") && raw.endsWith("`"))
      raw.substring("delta.`".length, raw.length - 1)
    else if (raw.startsWith("delta.")) raw.substring("delta.".length)
    else raw
  }

  private def boundArg(spark: SparkSession, path: String, v: Any,
                       isStart: Boolean): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: UTF8String => DeltaSnapshotReader.versionAtTimestamp(spark, path, s.toString, "table_changes", isStart)
    case s: String => DeltaSnapshotReader.versionAtTimestamp(spark, path, s, "table_changes", isStart)
    case other => throw new IllegalArgumentException(
      s"table_changes: version/timestamp argument must be an integer or a " +
        s"timestamp string, got $other")
  }
}
