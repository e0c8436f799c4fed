package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // 2 attempts per task, as a cluster retries: a failed write-task
      // attempt must leave nothing a commit references (DataFileWriteSpec)
      .master("local[4,2]")
      .appName("graft-test")
      // the production session shape: native functions + the Delta SQL-DML
      // parser ride the extensions point (SqlDmlSpec exercises spark.sql)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft_warehouse_test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
}

class SmokeSpec extends SparkSpec {
  test("entry returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every oracleSql key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle keys without queries: $missing")
  }

  test("every query key has exactly one oracle: DuckDB SQL xor spec provenance") {
    // the correctness gate's contract: a key is either hash-checked against
    // DuckDB or carries named ScalaTest provenance — never silently neither
    // (reads as a failure) nor both (stale provenance after a promotion)
    val sqlKeys = SparkEntry.oracleSql.keySet
    val specKeys = SparkEntry.specOracle.keySet
    val uncovered = SparkEntry.queries.keySet -- sqlKeys -- specKeys
    assert(uncovered.isEmpty, s"keys with NO oracle of either kind: $uncovered")
    val both = sqlKeys & specKeys
    assert(both.isEmpty, s"keys with BOTH oracles (drop the stale specOracle entry): $both")
    val dangling = specKeys -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"specOracle keys without queries: $dangling")
    // provenance must name a real, loadable suite class
    SparkEntry.specOracle.foreach { case (k, v) =>
      val suite = v.split(":")(0).split("\\+")(0).trim
      assert(scala.util.Try(Class.forName(suite)).isSuccess,
        s"$k: specOracle names unknown suite '$suite'")
    }
  }

  test("registry keys are globally unique (no silent last-wins override)") {
    // SparkEntry merges the per-family maps with ++, where a duplicate key
    // would silently shadow an earlier module's operator; catch it here
    val modules: Seq[(String, Map[String, _])] = Seq(
      "Agg" -> ops.Agg.queries, "AggExt" -> ops.AggExt.queries,
      "DeltaOps" -> ops.DeltaOps.queries, "DmlOps" -> ops.DmlOps.queries,
      "Scan" -> ops.Scan.queries, "Joins" -> ops.Joins.queries,
      "Windows" -> ops.Windows.queries, "SortSet" -> ops.SortSet.queries,
      "Fns" -> ops.Fns.queries, "Fns2" -> ops.Fns2.queries,
      "Rel2" -> ops.Rel2.queries, "ScalePatterns" -> ops.ScalePatterns.queries,
      "Analytics" -> ops.Analytics.queries, "Queries" -> ops.Queries.queries,
      "GraphOps" -> ops.GraphOps.queries, "StatsOps" -> ops.StatsOps.queries,
      "EventOps" -> stream.EventOps.queries, "TextOps" -> text.TextOps.queries,
      "QualityOps" -> text.QualityOps.queries,
      "PipelineOps" -> text.PipelineOps.queries,
      "DedupOps" -> dedup.DedupOps.queries, "SimOps" -> sim.SimOps.queries,
      "MultimodalOps" -> multimodal.MultimodalOps.queries)
    val owners = modules.flatMap { case (m, q) => q.keys.map(_ -> m) }
    val dups = owners.groupBy(_._1).filter(_._2.length > 1)
    assert(dups.isEmpty,
      s"duplicate registry keys: ${dups.map { case (k, os) => s"$k in ${os.map(_._2).mkString("/")}" }}")
    assert(owners.size == SparkEntry.queries.size,
      "merged registry lost keys vs per-module sum")
  }

  test("agg_hash has expected groups and exact sums") {
    val rows = SparkEntry.queries("agg_hash")(spark, sf).collect()
    assert(rows.nonEmpty)
    // groups are (returnflag, linestatus) pairs; counts must sum to filtered rows
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <= "1998-09-02").count()
    assert(total == expected)
  }
}
