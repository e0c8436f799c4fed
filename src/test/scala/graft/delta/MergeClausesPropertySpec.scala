package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import java.nio.file.Files

/** Property check for the one DML core: random target/source contents
  * and random clause lists must match a straightforward in-memory
  * evaluator of the first-applicable-wins semantics, and so must random
  * sequences of UPDATE, DELETE, the fixed-shape merge and clause merges on
  * one table. Every case runs copy-on-write and with deletion vectors (the
  * sequences stack masks on masked files). Catches category routing
  * (matched / not-matched / not-matched-by-source), condition evaluation,
  * clause-order and retirement bugs that a fixed fixture can miss. */
class MergeClausesPropertySpec extends SparkSpec {
  import DeltaWriter._
  import spark.implicits._

  // mirrored clause forms: (Column form, reference evaluator)
  // t = target row value, s = source row value (by the shared key)
  private case class RefClause(col: MergeClause,
                               kind: String, // matched | insert | bySource
                               applies: (Option[Int], Option[Int]) => Boolean,
                               apply: (Option[Int], Option[Int]) => Option[Int])

  private def clausePool(th: Int): Seq[RefClause] = Seq(
    RefClause(MatchedDelete(Some(col("t.v") < th)), "matched",
      (t, _) => t.exists(_ < th), (_, _) => None),
    RefClause(MatchedUpdateAll(), "matched",
      (_, _) => true, (_, s) => s),
    RefClause(MatchedUpdate(Map("v" -> (col("t.v") + col("s.v"))),
      Some(col("s.v") % 2 === 0)), "matched",
      (_, s) => s.exists(_ % 2 == 0), (t, s) => Some(t.get + s.get)),
    RefClause(NotMatchedInsertAll(Some(col("s.v") >= th)), "insert",
      (_, s) => s.exists(_ >= th), (_, s) => s),
    RefClause(NotMatchedInsertAll(), "insert",
      (_, _) => true, (_, s) => s),
    RefClause(NotMatchedBySourceDelete(Some(col("t.v") % 3 === 0)), "bySource",
      (t, _) => t.exists(_ % 3 == 0), (_, _) => None),
    RefClause(NotMatchedBySourceUpdate(Map("v" -> (col("t.v") + lit(1000))),
      Some(col("t.v") >= th)), "bySource",
      (t, _) => t.exists(_ >= th), (t, _) => Some(t.get + 1000)))

  private def reference(target: Map[Long, Int], source: Map[Long, Int],
                        clauses: Seq[RefClause]): Map[Long, Int] = {
    val out = Map.newBuilder[Long, Int]
    target.foreach { case (id, tv) =>
      val sv = source.get(id)
      val pool = if (sv.isDefined) clauses.filter(_.kind == "matched")
      else clauses.filter(_.kind == "bySource")
      pool.find(_.applies(Some(tv), sv)) match {
        case Some(c) => c.apply(Some(tv), sv).foreach(v => out += id -> v)
        case None => out += id -> tv // no clause covers it → keep
      }
    }
    source.foreach { case (id, sv) =>
      if (!target.contains(id)) {
        clauses.filter(_.kind == "insert").find(_.applies(None, Some(sv)))
          .foreach(c => c.apply(None, Some(sv)).foreach(v => out += id -> v))
      }
    }
    out.result()
  }

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val params = Gen.Parameters.default.withSize(40)
    var seed = org.scalacheck.rng.Seed(7L)
    (0 until n).flatMap { _ =>
      val r = g.apply(params, seed)
      seed = seed.next
      r
    }
  }

  /** Test-name prefix and whether the table enables deletion vectors. */
  private val Modes = Seq("" -> false, "deletion vectors: " -> true)

  private def newTable(target: Map[Long, Int], dv: Boolean, tag: String): String = {
    val t = Files.createTempDirectory(s"graft_mcp$tag").toString + "/tbl"
    DeltaWriter.write(target.toSeq.toDF("id", "v").coalesce(1), t)
    if (dv) DeltaWriter.setProperties(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    t
  }

  private def contents(t: String): Map[Long, Int] =
    DeltaSnapshotReader.load(spark, t).select("id", "v").as[(Long, Int)].collect().toMap

  private val genCase = for {
    tgtIds <- Gen.someOf(0L until 12L)
    srcIds <- Gen.someOf(6L until 18L)
    tVals <- Gen.listOfN(tgtIds.size, Gen.choose(0, 100))
    sVals <- Gen.listOfN(srcIds.size, Gen.choose(0, 100))
    th <- Gen.choose(20, 80)
    nClauses <- Gen.choose(1, 4)
    order <- Gen.pick(nClauses, 0 until 7)
  } yield (tgtIds.zip(tVals).toMap, srcIds.zip(sVals).toMap, th, order.toSeq)

  for ((mode, dv) <- Modes)
    test(s"${mode}random contents + random clause lists match the reference evaluator") {
      samples(genCase, 12).zipWithIndex.foreach {
        case ((target, source, th, order), i) =>
          if (target.nonEmpty) {
            val clauses = order.map(clausePool(th))
            val t = newTable(target, dv, i.toString)
            DeltaWriter.mergeClauses(spark, t,
              source.toSeq.toDF("id", "v"), Seq("id"), clauses.map(_.col))
            val got = contents(t)
            val exp = reference(target, source, clauses)
            assert(got == exp,
              s"case $i: clauses=${clauses.map(_.col.getClass.getSimpleName)} th=$th\n" +
                s"  target=$target\n  source=$source\n  got=$got\n  exp=$exp")
          }
      }
    }

  /** One step of a DML sequence, with its effect on the reference table. */
  private sealed trait Step { def run(t: String): Unit; def ref(cur: Map[Long, Int]): Map[Long, Int] }
  private case class Update(th: Int) extends Step {
    def run(t: String): Unit =
      DeltaWriter.update(spark, t, col("v") < th, Map("v" -> (col("v") + 7)))
    def ref(cur: Map[Long, Int]): Map[Long, Int] =
      cur.map { case (k, v) => k -> (if (v < th) v + 7 else v) }
  }
  private case class Delete(th: Int) extends Step {
    def run(t: String): Unit = DeltaWriter.delete(spark, t, col("v") >= th && col("v") % 2 === 0)
    def ref(cur: Map[Long, Int]): Map[Long, Int] = cur.filterNot { case (_, v) => v >= th && v % 2 == 0 }
  }
  private case class Upsert(source: Map[Long, Int]) extends Step {
    def run(t: String): Unit = DeltaWriter.merge(spark, t, source.toSeq.toDF("id", "v"), Seq("id"))
    def ref(cur: Map[Long, Int]): Map[Long, Int] = cur ++ source
  }
  private case class Clauses(source: Map[Long, Int], clauses: Seq[RefClause]) extends Step {
    def run(t: String): Unit = DeltaWriter.mergeClauses(spark, t,
      source.toSeq.toDF("id", "v"), Seq("id"), clauses.map(_.col))
    def ref(cur: Map[Long, Int]): Map[Long, Int] = reference(cur, source, clauses)
    override def toString: String = s"Clauses($source, ${clauses.map(_.col)})"
  }

  private val genSource = for {
    ids <- Gen.someOf(0L until 24L)
    vals <- Gen.listOfN(ids.size, Gen.choose(0, 100))
  } yield ids.zip(vals).toMap

  private val genStep: Gen[Step] = Gen.choose(20, 80).flatMap { th =>
    Gen.oneOf(
      Gen.const(Update(th)),
      Gen.const(Delete(th)),
      genSource.map(Upsert(_)),
      for {
        src <- genSource
        n <- Gen.choose(1, 4)
        order <- Gen.pick(n, 0 until 7)
      } yield Clauses(src, order.toSeq.map(clausePool(th))))
  }

  for ((mode, dv) <- Modes)
    test(s"${mode}random UPDATE / DELETE / merge / clause-merge sequences match the reference") {
      val initial = (0L until 16L).map(i => i -> ((i * 37) % 100).toInt).toMap
      val t = newTable(initial, dv, "seq")
      samples(genStep, 16).foldLeft((initial, Vector.empty[Step])) { case ((cur, done), step) =>
        step.run(t)
        val exp = step.ref(cur)
        val got = contents(t)
        assert(got == exp, s"after ${done :+ step}\n  got=$got\n  exp=$exp")
        (exp, done :+ step)
      }
    }
}
