package graft.ops

import graft.SparkSpec

/** Physical-plan audits (builder prompt: "explain the plan and iterate
  * until it's the plan you'd want"). These lock in the scale-critical plan
  * properties so a regression (lost pushdown, wrong join strategy, dead
  * codegen) fails CI rather than silently costing 100x at 100 TB. */
class PlanSpec extends SparkSpec {

  private def plan(key: String): String = {
    val df = graft.SparkEntry.queries(key)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("filter_pushdown pushes predicates into the parquet scan") {
    val p = plan("filter_pushdown")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_shipdate"),
      s"filters not pushed:\n$p")
  }

  test("project_select prunes the read schema to selected columns") {
    val p = plan("project_select")
    assert(p.contains("ReadSchema"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("c_custkey") && !read.contains("c_mktsegment"),
      s"column pruning failed: $read")
  }

  test("join_broadcast plans BroadcastHashJoin, no shuffle of the fact side") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join degenerated to SMJ:\n$p")
  }

  test("join hints select the intended physical strategies") {
    assert(plan("join_shuffle_hash").contains("ShuffledHashJoin"))
    assert(plan("join_sort_merge").contains("SortMergeJoin"))
  }

  test("agg_hash uses partial hash aggregation and whole-stage codegen") {
    val df = graft.SparkEntry.queries("agg_hash")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(p.contains("*("), s"no whole-stage-codegen stage markers:\n$p")
  }

  test("limit_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_lateral decorrelates: rank-over-partition, no per-row re-scan") {
    val df = graft.SparkEntry.queries("join_lateral")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the correlated LIMIT subquery must compile to a window rank + one
    // equi join — a nested-loop / cartesian here means Catalyst failed to
    // decorrelate and the plan re-scans lineitem per outer row
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("join_existence plans an ExistenceJoin (marking semi, no multiplication)") {
    val df = graft.SparkEntry.queries("join_existence")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistenceJoin"), p)
  }

  test("bucketed join runs with zero Exchange (co-located, no shuffle)") {
    val df = graft.SparkEntry.queries("join_bucketed")(spark, sf)
    val joinPlan = df.queryExecution.executedPlan.toString
    val joinSection = joinPlan.split("HashAggregate").last // below the agg
    assert(joinSection.contains("SortMergeJoin"), joinPlan)
    assert(!joinSection.contains("Exchange"),
      s"bucketed join still shuffles:\n$joinPlan")
  }

  test("join_runtime_filter injects a bloom-filter semi-join reduction") {
    import org.apache.spark.sql.functions._
    val df = ScalePatterns.joinRuntimeFilter(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
      s"no runtime bloom filter injected:\n$opt")
    // and it is a pure reduction: values equal the plain join
    val plain = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      .join(graft.Tables.orders(spark, sf).filter(col("o_totalprice") > 480000)
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        graft.Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
    assert(df.collect().map(_.toSeq).toSeq == plain.collect().map(_.toSeq).toSeq)
  }

  test("salted skew join equals the plain join result") {
    val salted = ScalePatterns.joinSkewSalted(spark, sf).collect().map(_.toSeq)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = Seq(("A", "returned"), ("N", "kept"), ("R", "refunded"))
      .toDF("flag", "disposition")
    val plain = graft.Tables.lineitem(spark, sf)
      .join(dim, col("l_returnflag") === col("flag"))
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n_items"), graft.Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("disposition")).collect().map(_.toSeq)
    assert(salted.toSeq == plain.toSeq)
  }

  test("delta partition pruning opens only matching files") {
    val t = DeltaOps.ensureDemoTable(spark, sf)
    val snap = graft.delta.DeltaSnapshotReader.snapshot(spark, t)
    val pruned = graft.delta.DeltaSnapshotReader.prunedFiles(
      spark, snap, org.apache.spark.sql.functions.col("o_year") === 1996)
    assert(pruned.map(_.partitionValues("o_year")).distinct == Seq("1996"))
    assert(pruned.size < snap.files.size)
  }

  test("sql_over_delta broadcasts the dim and pushes the data filter") {
    val df = graft.SparkEntry.queries("sql_over_delta")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // the o_year predicate must reach the scan as a partition filter, not
    // survive as a post-scan Filter over all partitions
    assert(p.contains("PartitionFilters: [") &&
      p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("o_year")),
      s"o_year not applied as a partition filter:\n$p")
  }

  test("catalog_sql_delta: catalog-resolved delta table keeps pruning + broadcast") {
    val df = graft.SparkEntry.queries("catalog_sql_delta")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    // o_year must reach the DeltaFileIndex as a partition filter even when
    // the table is resolved by catalog name instead of a temp view
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("o_year")),
      s"o_year not a partition filter through the catalog path:\n$p")
  }

  test("dedup plans: no broadcast hint on any relation (AQE decides)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hints(key: String) =
      graft.SparkEntry.queries(key)(spark, sf).queryExecution.analyzed
        .collect { case h: ResolvedHint => h }
    // "LSH keeps candidates few" is a heuristic, not a bound: on a
    // near-duplicate-heavy corpus the candidate set is O(corpus), so a
    // forced broadcast OOMs every executor. All dedup keys must leave join
    // strategy to AQE, which promotes to broadcast at runtime only when the
    // side actually measures small.
    // text_lm_score / text_decontaminate: gram relations are O(corpus)
    Seq("dedup_ngram_jaccard", "dedup_minhash", "dedup_embed_cos",
      "text_lm_score", "text_decontaminate").foreach { k =>
      assert(hints(k).isEmpty,
        s"$k must not hint-broadcast: candidate sets are O(corpus) worst-case")
    }
    // dedup_semantic: the k-CENTROID broadcast is bounded by construction
    // (a driver-materialized LocalRelation of k rows) and allowed; the
    // within-cluster PAIR join must stay unhinted — a cluster is O(corpus)
    // worst-case.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    hints("dedup_semantic").foreach { h =>
      val overLocal = h.child.collectLeaves().forall(_.isInstanceOf[LocalRelation])
      assert(overLocal,
        s"dedup_semantic may only broadcast the k-centroid LocalRelation, found:\n$h")
    }
  }

  test("zorder clusters both dimensions: 2-D predicate prunes files via stats") {
    import org.apache.spark.sql.functions._
    // fresh small table, zordered on (a, b)
    val dir = java.nio.file.Files.createTempDirectory("graft_zplan").toString + "/t"
    val df = spark.range(4096).selectExpr(
      "id", "CAST(id % 64 AS BIGINT) AS a", "CAST(CAST(id / 64 AS BIGINT) AS BIGINT) AS b")
    graft.delta.DeltaWriter.write(df, dir, Nil, "overwrite")
    graft.delta.DeltaWriter.zorder(spark, dir, Seq("a", "b"), targetBytes = 4L * 1024, bits = 6)
    val snap = graft.delta.DeltaSnapshotReader.snapshot(spark, dir)
    assert(snap.files.size >= 4, s"want multiple files, got ${snap.files.size}")
    // a tight box in (a, b): stats-based skipping must eliminate files on
    // BOTH dimensions (plain sort on a would not prune on b)
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val aRef = AttributeReference("a", org.apache.spark.sql.types.LongType)()
    val bRef = AttributeReference("b", org.apache.spark.sql.types.LongType)()
    val boxExpr = And(
      And(GreaterThanOrEqual(aRef, Literal(0L)), LessThanOrEqual(aRef, Literal(7L))),
      And(GreaterThanOrEqual(bRef, Literal(0L)), LessThanOrEqual(bRef, Literal(7L))))
    val keptFiles = snap.files.count { f =>
      f.stats.flatMap(graft.delta.DataSkipping.parse) match {
        case Some(st) => graft.delta.DataSkipping.mayContain(st, boxExpr)
        case None => true
      }
    }
    assert(keptFiles < snap.files.size,
      s"2-D box predicate pruned nothing ($keptFiles of ${snap.files.size} files kept)")
    // correctness: skipping never drops matching rows
    val got = graft.delta.DeltaSnapshotReader.load(spark, dir)
      .filter(col("a").between(0, 7) && col("b").between(0, 7)).count()
    val exp = df.filter(col("a").between(0, 7) && col("b").between(0, 7)).count()
    assert(got == exp)
  }

  test("change-feed scan: filters on the feed push into the cdc parquet scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdfplan").toString + "/t"
    graft.delta.DeltaWriter.write(
      spark.range(1000).selectExpr("id", "CAST(id % 7 AS LONG) AS v"), dir)
    graft.delta.DeltaWriter.setProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    graft.delta.DeltaWriter.delete(spark, dir, col("v") === 3L)
    val feed = graft.delta.ChangeDataFeed.read(spark, dir, 2L).filter(col("id") > 500L)
    val p = feed.queryExecution.executedPlan.toString
    // the data filter must reach the cdc file scan, not evaluate post-union
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(id,500"),
      s"feed filter not pushed into the cdc scan:\n$p")
    assert(feed.count() ==
      spark.range(1000).selectExpr("id").filter("id % 7 = 3 AND id > 500").count())
  }

  test("fn_variant runs on native variant expressions (no UDF fence)") {
    // parse_json + variant_get must plan as native (codegen-able)
    // expressions — AQE only materializes WholeStageCodegen spans at
    // execution, so the lock is: native nodes present, no UDF nodes
    val p = plan("fn_variant")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("variant_get") && p.contains("parseJson"), p)
  }

  test("row-id read path stays codegen'd: no ScalaUDF / BatchEvalPython in the plan") {
    // the row id is the scan's file-constant `base_row_id` plus its row
    // index: no join with the file set, and no udf() — a udf would box
    // every row of every scan and break whole-stage codegen fusion at 100 TB
    val p = plan("delta_row_tracking")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"non-codegen UDF node in the row-tracking scan:\n$p")
    assert(p.contains("base_row_id") && !p.contains("Join"),
      s"expected the row id from the scan's file metadata, without a join:\n$p")
  }
}
