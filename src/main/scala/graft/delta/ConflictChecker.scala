package graft.delta

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Delta's per-operation commit-conflict rules (the public protocol's
  * optimistic-concurrency semantics, as delta-spark's ConflictChecker
  * implements them): when a transaction loses the commit race, the WINNING
  * commits are examined action-by-action — if every winner is logically
  * disjoint from what the loser read and intends to change, the loser
  * re-commits at the next version (its data files are already written, so
  * a retry is one log write); otherwise a TYPED concurrent-modification
  * error surfaces the precise conflict class.
  *
  * This is what lets concurrent maintenance + ingest compose at scale:
  * a blind append lands while a DELETE on a disjoint partition retries
  * through it, instead of the DELETE failing spuriously. Reference
  * context: the reference connector is read-only and leans on the S3
  * writers' conflict rules; this engine owns the write side, so it owns
  * the matrix too.
  *
  * Conflict matrix (loser rows, winner actions):
  *  - protocol action        → ProtocolChangedException, always
  *  - metaData action        → MetadataChangedException, always
  *  - add (dataChange=true)  → ConcurrentAppendException iff the loser READ
  *    data and the add's partition values satisfy the loser's read scope
  *    (no scope = whole-table read → always). Layout-only winners
  *    (OPTIMIZE's dataChange=false adds) never append-conflict: they
  *    contain no new rows. An add counts as a data change unless its
  *    `dataChange` decodes to false: a missing or mistyped flag reads as a
  *    change, the side on which a misread can only abort a retry, never
  *    let an overlapping one through.
  *  - remove of a file the loser read    → ConcurrentDeleteReadException
  *  - remove of a file the loser removes → ConcurrentDeleteDeleteException
  *  - txn with an appId the loser uses   → ConcurrentTransactionException
  */
object ConflictChecker {

  /** The losing transaction's read/write footprint.
    *
    * `partitionPredicate` is a read-scope predicate over PARTITION COLUMNS
    * ONLY (callers pass it only when the operation's predicate references
    * nothing but partition columns); `None` means the read scope is the
    * whole table — any concurrent dataChange append conflicts.
    * `readsData = false` marks layout-only rewrites (OPTIMIZE): they read
    * bytes, not logical rows, so appends never conflict with them.
    *
    * `wholeTableFiles = true` declares that the operation read AND removes
    * every active file of its base snapshot WITHOUT materializing the path
    * set on the driver (whole-table rewrites: BY SOURCE clause MERGE,
    * full-table ZORDER, ADD CONSTRAINT validation) — any winner remove is
    * then a DeleteRead conflict by construction, so the check needs no
    * set intersection at all. `readFiles`/`removedPaths` stay empty. */
  final case class TxnReadSet(
      readsData: Boolean,
      partitionPredicate: Option[Column],
      readFiles: Set[String],
      removedPaths: Set[String],
      wholeTableFiles: Boolean = false,
      txnAppIds: Set[String] = Set.empty,
      domains: Set[String] = Set.empty)

  /** Typed concurrency failures, mirroring delta-spark's public taxonomy. */
  sealed abstract class DeltaConcurrentModificationException(msg: String)
    extends RuntimeException(msg)
  final class ProtocolChangedException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class MetadataChangedException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentAppendException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentDeleteReadException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentDeleteDeleteException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentTransactionException(msg: String) extends DeltaConcurrentModificationException(msg)
  final class ConcurrentDomainMetadataException(msg: String) extends DeltaConcurrentModificationException(msg)

  private final case class WinnerSummary(
      version: Long,
      hasProtocol: Boolean,
      hasMetadata: Boolean,
      dataAdds: Seq[Map[String, String]], // partitionValues (physical keys) of dataChange adds
      removePaths: Set[String],
      txnAppIds: Set[String],
      domains: Set[String])

  /** Examine winning commits in (base.version, fresh.version] against the
    * loser's read set; throws on the first logical conflict, returns
    * normally when the loser may re-commit on top of `fresh`. */
  def check(spark: SparkSession, base: DeltaSnapshot, fresh: DeltaSnapshot,
            rs: TxnReadSet): Unit = {
    val winners = (base.version + 1 to fresh.version)
      .map(v => summarize(spark, base.tablePath, v))
    def at(w: WinnerSummary) = s"concurrent commit v${w.version} on ${base.tablePath}"
    winners.foreach { w =>
      if (w.hasProtocol)
        throw new ProtocolChangedException(s"${at(w)} upgraded the protocol")
      if (w.hasMetadata)
        throw new MetadataChangedException(s"${at(w)} changed table metadata")
      // whole-table footprint: every active file was read (and is being
      // removed), so ANY winner remove classifies as DeleteRead — no
      // driver-side path set needed for the check
      if (rs.wholeTableFiles && w.removePaths.nonEmpty)
        throw new ConcurrentDeleteReadException(
          s"${at(w)} removed files this whole-table operation read: " +
            w.removePaths.take(3).mkString(","))
      val deleteRead = w.removePaths & rs.readFiles
      if (deleteRead.nonEmpty)
        throw new ConcurrentDeleteReadException(
          s"${at(w)} removed files this operation read: ${deleteRead.take(3).mkString(",")}")
      val deleteDelete = w.removePaths & rs.removedPaths
      if (deleteDelete.nonEmpty)
        throw new ConcurrentDeleteDeleteException(
          s"${at(w)} removed files this operation also removes: ${deleteDelete.take(3).mkString(",")}")
      val txnClash = w.txnAppIds & rs.txnAppIds
      if (txnClash.nonEmpty)
        throw new ConcurrentTransactionException(
          s"${at(w)} advanced txn appId ${txnClash.head} this operation depends on")
      val domainClash = w.domains & rs.domains
      if (domainClash.nonEmpty)
        throw new ConcurrentDomainMetadataException(
          s"${at(w)} updated domain ${domainClash.head} this operation also writes — " +
            "re-deriving it from the stale snapshot would lose the winner's update")
      if (rs.readsData && w.dataAdds.nonEmpty && addsIntersectReadScope(spark, base, w.dataAdds, rs))
        throw new ConcurrentAppendException(
          s"${at(w)} appended rows inside this operation's read scope")
    }
  }

  /** Do any of the winner's dataChange adds fall inside the loser's read
    * scope? Whole-table reads conflict with any add; a partition-scoped
    * read evaluates its predicate over each add's (logical) partition
    * values — exactly the file-level admission test the scan itself uses,
    * so "disjoint partitions" commutes and everything else aborts. The
    * values form a local relation, so the predicate is evaluated during
    * planning and no Spark job is launched. */
  private def addsIntersectReadScope(spark: SparkSession, snap: DeltaSnapshot,
                                     dataAdds: Seq[Map[String, String]],
                                     rs: TxnReadSet): Boolean =
    rs.partitionPredicate match {
      case None => true
      case Some(pred) =>
        val parts = snap.partitionColumns
        if (parts.isEmpty) return true // unpartitioned: scope can't restrict
        val physOf = parts.map(c => c -> snap.physicalFieldName(c)).toMap
        val rows = dataAdds.map(pv =>
          Row.fromSeq(parts.map(c => pv.getOrElse(physOf(c), null))))
        val raw = spark.createDataFrame(rows.asJava,
          StructType(parts.map(c => StructField(c, StringType))))
        val typed = raw.select(parts.map(c =>
          col(c).cast(snap.schema(c).dataType).as(c)): _*)
        typed.filter(pred).limit(1).collect().nonEmpty
    }

  /** One winning commit, read through the log replay's decoder
    * ([[LogReplay.decodeRows]]): log metadata (KBs), decoded in place
    * with no Spark job. */
  private def summarize(spark: SparkSession, tablePath: String,
                        version: Long): WinnerSummary = {
    val file = LogListing.commitFile(tablePath, version)
    val rows = LogReplay.decodeRows(spark, DeltaActions.actionSchema, Seq(version -> file))
    def actions(name: String): Seq[Row] = rows.flatMap(r => Option(r.getAs[Row](name)))
    def names(name: String, field: String): Set[String] =
      actions(name).flatMap(a => Option(a.getAs[String](field))).toSet
    val dataAdds = actions("add")
      .filter(a => a.isNullAt(a.fieldIndex("dataChange")) || a.getAs[Boolean]("dataChange"))
      .map(a => Option(a.getMap[String, String](a.fieldIndex("partitionValues")))
        .map(_.toMap).getOrElse(Map.empty[String, String]))
    WinnerSummary(version, actions("protocol").nonEmpty, actions("metaData").nonEmpty,
      dataAdds, names("remove", "path"), names("txn", "appId"), names("domainMetadata", "domain"))
  }

  /** `Some(pred)` iff `pred` references only partition columns of `snap` —
    * the precondition for partition-scoped conflict evaluation. */
  def partitionScope(spark: SparkSession, snap: DeltaSnapshot,
                     pred: Column): Option[Column] = {
    // DML predicates arrive UNRESOLVED (plain col("…") trees, opaque
    // ColumnNodes in Spark 4), so resolve against an empty frame with the
    // table schema and read the ANALYZED filter condition's references;
    // any analysis failure degrades to whole-table scope (conservative)
    val refs: Set[String] = scala.util.Try {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], snap.schema)
      empty.filter(pred).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name).toSet
      }.getOrElse(Set.empty[String])
    }.getOrElse(Set.empty[String])
    if (snap.partitionColumns.nonEmpty && refs.nonEmpty &&
      refs.subsetOf(snap.partitionColumns.toSet)) Some(pred) else None
  }
}
