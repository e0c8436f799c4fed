package graftbench

/** Pure statistics used by the report: percentiles, interval unions and
  * span self time. No Spark types, so the unit tests run without a session. */
object Stats {

  /** Nearest-rank quantile (q in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(q * s.size).toInt
      s(math.min(s.size - 1, math.max(0, rank - 1)))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Percentile ladder a tail latency is reported on. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile that still has at least `beyond` of `n`
    * samples above it (p90 needs n >= 100, p99 needs n >= 1000); None when
    * even the median has fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9).lastOption

  /** Total length covered by half-open intervals, each clipped to
    * [lo, hi); overlaps count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> ((s.endNs - s.startNs) - unionLength(kids, s.startNs, s.endNs))
    }.toMap
  }
}

/** One timed call into a layer. `parent` is -1 for a top-level span (an
  * op); `op` is the id of the op the span belongs to. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}
