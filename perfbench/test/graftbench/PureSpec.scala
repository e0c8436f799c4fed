package graftbench

/** Unit tests of the benchmark's pure pieces; run with
  * `python3 perfbench/build.py --test`. Exits non-zero on a failure. */
object PureSpec {
  private var failed = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (scala.util.Try(cond).getOrElse(false)) passed += 1
    else { failed += 1; println(s"FAIL $name") }

  def main(args: Array[String]): Unit = {
    // percentile rule: the highest ladder percentile with >= 10 samples beyond it
    check("fewer than 20 samples have no reportable percentile")(Stats.tailPercentile(19).isEmpty)
    check("20 samples report the median")(Stats.tailPercentile(20).contains(50.0))
    check("40 samples reach p75")(Stats.tailPercentile(40).contains(75.0))
    check("99 samples stay below p90")(Stats.tailPercentile(99).contains(75.0))
    check("100 samples reach p90")(Stats.tailPercentile(100).contains(90.0))
    check("200 samples reach p95")(Stats.tailPercentile(200).contains(95.0))
    check("1000 samples reach p99")(Stats.tailPercentile(1000).contains(99.0))
    check("10000 samples reach p99.9")(Stats.tailPercentile(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank p90 of 1..100 is 90")(Stats.quantile(xs, 0.9) == 90.0)
    check("nearest-rank median of 1..100 is 50")(Stats.median(xs) == 50.0)
    check("median of one sample")(Stats.median(Seq(7.0)) == 7.0)
    check("quantile of nothing is NaN")(Stats.quantile(Nil, 0.5).isNaN)

    // job-interval union behind sched.driver_only_ms
    check("disjoint intervals add")(Stats.unionLength(Seq((0L, 10L), (20L, 25L)), 0, 100) == 15)
    check("overlaps count once")(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (14L, 20L)), 0, 100) == 20)
    check("nested intervals count once")(Stats.unionLength(Seq((0L, 50L), (10L, 20L)), 0, 100) == 50)
    check("touching intervals merge")(Stats.unionLength(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20)
    check("intervals clip to the op")(Stats.unionLength(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    check("unsorted input")(Stats.unionLength(Seq((30L, 40L), (0L, 10L), (5L, 35L)), 0, 100) == 40)
    check("nothing inside the op")(Stats.unionLength(Seq((200L, 300L)), 0, 100) == 0)
    check("no intervals")(Stats.unionLength(Nil, 0, 100) == 0)

    // span self time
    val spans = Seq(
      Span(0, "op.scan", 0, -1, 0, 100),
      Span(1, "catalog.resolve", 0, 0, 10, 30),
      Span(2, "query.collect", 0, 0, 25, 90),
      Span(3, "delta.snapshot", 0, 1, 12, 20))
    val self = Stats.selfTimes(spans)
    check("op self time excludes the union of its children")(self(0) == 100 - 80)
    check("a child's own children are subtracted from it")(self(1) == 20 - 8)
    check("a leaf keeps its whole duration")(self(2) == 65 && self(3) == 8)
    check("grandchildren are not subtracted from the op")(self(0) == 20)

    // lake_commits row model
    val m = new RowModel
    m.append(Seq(Event(1, 0, 10, 0), Event(2, 0, 20, 0), Event(3, 1, 30, 0)))
    check("first commit is version 0")(m.version == 0 && m.countAt(0, 0) == 2 && m.countAt(0, 1) == 1)
    m.merge(Seq(Event(2, 1, 21, 1), Event(4, 0, 40, 1)))
    check("merge updates matched and inserts the rest")(
      m.version == 1 && m.countAt(1, 0) == 2 && m.countAt(1, 1) == 2 && m.size == 4)
    check("old versions keep their counts")(m.countAt(0, 0) == 2 && m.countAt(0, 1) == 1)
    check("update of matching rows commits")(m.update(GrpMod(0, 2, 0), 5) == 1 && m.version == 2 &&
      m.sorted.find(_.id == 4).exists(_.value == 45))
    check("update matching nothing does not commit")(m.update(GrpMod(7, 2, 0), 5) == 0 && m.version == 2)
    check("delete removes matching rows")(m.delete(GrpMod(1, 1, 0)) == 2 && m.version == 3 &&
      m.countAt(3, 1) == 0 && m.idsSince(0) == Seq(1L, 4L))
    check("delete matching nothing does not commit")(m.delete(GrpMod(1, 1, 0)) == 0 && m.version == 3)
    check("an empty append is a commit")({ m.append(Nil); m.version == 4 && m.countAt(4, 0) == 2 })
    check("appending an existing id is refused")(scala.util.Try(m.append(Seq(Event(1, 0, 0, 9)))).isFailure)
    check("an unknown version is refused")(scala.util.Try(m.countAt(99, 0)).isFailure)
    check("negative ids match the predicate by floor modulus")(GrpMod(0, 3, 2).matches(Event(-1, 0, 0, 0)))
    check("the predicate skips batches before its first")(
      !GrpMod(0, 1, 0, minBatch = 2).matches(Event(5, 0, 0, 1)) && GrpMod(0, 1, 0, minBatch = 2).matches(Event(5, 0, 0, 2)))
    check("ids since a batch")({ m.append(Seq(Event(9, 1, 0, 7))); m.idsSince(7) == Seq(9L) && m.idsSince(0) == Seq(1L, 4L, 9L) })

    println(s"PureSpec: $passed passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
