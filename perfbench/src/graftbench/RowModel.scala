package graftbench

import scala.collection.mutable

/** One row of the `events` table written by the `lake_commits` workload. */
final case class Event(id: Long, grp: Int, value: Long, batch: Int)

/** A row predicate the benchmark can evaluate both in Spark and on the
  * model: `batch >= b AND grp = g AND id % m = r`. */
final case class GrpMod(grp: Int, mod: Int, rem: Int, minBatch: Int = 0) {
  def matches(e: Event): Boolean =
    e.batch >= minBatch && e.grp == grp && Math.floorMod(e.id, mod.toLong) == rem
}

/** In-memory model of the rows the benchmark appended, merged, updated and
  * deleted, versioned like the Delta table: every mutation that commits
  * advances the version by one. A fresh read at version v must count what
  * the model counts at v. */
final class RowModel {
  private val rows = mutable.HashMap.empty[Long, Event]
  private var v = -1L
  private val countsAt = mutable.HashMap.empty[Long, Map[Int, Long]]

  def version: Long = v
  def size: Int = rows.size

  private def commit(): Unit = {
    v += 1
    countsAt(v) = rows.values.groupBy(_.grp).map { case (g, es) => g -> es.size.toLong }
  }

  def append(es: Seq[Event]): Unit = {
    es.foreach { e =>
      require(!rows.contains(e.id), s"append of an existing id ${e.id}")
      rows(e.id) = e
    }
    commit()
  }

  /** Upsert by id: a matched row is replaced, an unmatched one inserted. */
  def merge(es: Seq[Event]): Unit = { es.foreach(e => rows(e.id) = e); commit() }

  /** Add `delta` to `value` of the matching rows. Returns the match count;
    * a DML that matches nothing commits nothing. */
  def update(p: GrpMod, delta: Long): Int = {
    val hit = rows.values.filter(p.matches).toSeq
    hit.foreach(e => rows(e.id) = e.copy(value = e.value + delta))
    if (hit.nonEmpty) commit()
    hit.size
  }

  def delete(p: GrpMod): Int = {
    val hit = rows.values.filter(p.matches).map(_.id).toSeq
    hit.foreach(rows.remove)
    if (hit.nonEmpty) commit()
    hit.size
  }

  /** Rows of group `g` at version `at`. */
  def countAt(at: Long, g: Int): Long =
    countsAt.getOrElse(at, throw new NoSuchElementException(s"model has no version $at"))
      .getOrElse(g, 0L)

  /** Ids of the rows last written by batch `minBatch` or later. */
  def idsSince(minBatch: Int): Seq[Long] = rows.values.filter(_.batch >= minBatch).map(_.id).toSeq.sorted
  def sorted: Seq[Event] = rows.values.toSeq.sortBy(_.id)
}
