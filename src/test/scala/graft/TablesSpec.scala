package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical-type-drift handling for `events.ts` (FIXTURES.md timestamp
  * note): the fixture has shipped both `timestamp[ns]` and `timestamp[us]`;
  * the loader must decode whichever is on disk and the unit-sanity guard
  * must catch a mismatched decode loudly (the round-8 failure mode was a µs
  * file silently read as nanos — 1000×-compressed timeline, wrong
  * stream-join answer). */
class TablesSpec extends SparkSpec {

  test("events loads the on-disk fixture with sane event-time") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType)
    val years = ev.select(min(year(col("ts"))), max(year(col("ts")))).head()
    assert(years.getInt(0) >= 1990 && years.getInt(1) <= 2100,
      s"decoded event-time outside fixture range: $years")
  }

  test("a persisted events load serves a stream key's events scan from memory") {
    // the bench's warm-up: Spark's cache manager substitutes the persisted
    // frame into every later `Tables.events` plan
    val cached = Tables.events(spark, sf).persist()
    try {
      cached.count()
      val plan = stream.EventOps.tumbling(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan)
    } finally cached.unpersist(blocking = true)
    assert(!stream.EventOps.tumbling(spark, sf).queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"))
  }

  test("normalizeEventTs handles all three physical forms identically") {
    import spark.implicits._
    val us = 1704103200000000L // 2024-01-01 10:00:00 UTC in µs
    val fromLongNs = Tables.normalizeEventTs(
      Seq(us * 1000L).toDF("ts")) // ns-as-long form
    val fromNtz = Tables.normalizeEventTs(
      Seq(us).toDF("raw").select(timestamp_micros(col("raw"))
        .cast(TimestampNTZType).as("ts")))
    val fromTs = Tables.normalizeEventTs(
      Seq(us).toDF("raw").select(timestamp_micros(col("raw")).as("ts")))
    for (df <- Seq(fromLongNs, fromNtz, fromTs)) {
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.select(unix_micros(col("ts"))).head().getLong(0) == us)
    }
  }

  test("normalizeEventTs rejects an undecodable physical type") {
    import spark.implicits._
    val bad = Seq("2024-01-01").toDF("ts")
    val e = intercept[IllegalStateException](Tables.normalizeEventTs(bad))
    assert(e.getMessage.contains("unsupported physical type"))
  }

  test("unit guard fires when a µs file is decoded through the ns path") {
    import spark.implicits._
    // µs-magnitude values mis-tagged as nanos: the ns branch divides by
    // 1000 and the timeline lands in 1970 — the guard must throw and name
    // the physical type instead of letting a wrong answer through
    val us = 1704103200000000L
    val misread = Tables.normalizeEventTs(Seq(us).toDF("ts")) // ns path on µs data
    val e = intercept[IllegalStateException] {
      Tables.assertEventTimeSane(misread, LongType, s"guard-spec-misread-$us")
    }
    assert(e.getMessage.contains("unit drift"))
    assert(e.getMessage.contains("LongType"))
  }

  test("embeddings tolerates a double[] fixture drift (cast back to float[])") {
    import spark.implicits._
    // stage a double-element copy of the real fixture — the pyarrow-default
    // form a regeneration could flip to (the events.ts drift mode)
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_drift").toString
    Tables.embeddings(spark, sf)
      .withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      .write.parquet(s"$dir/embeddings.parquet")
    val reloaded = Tables.embeddings(spark, dir)
    assert(reloaded.schema("embedding").dataType == ArrayType(FloatType, containsNull = true))
    // the native expression path must be unaffected
    graft.functions.ScaledDotProduct.register(spark)
    val dots = reloaded.orderBy(col("vec_id")).limit(3)
      .select(expr("dot_scaled(embedding, embedding)").as("d")).as[Long].collect()
    val orig = Tables.embeddings(spark, sf).orderBy(col("vec_id")).limit(3)
      .select(expr("dot_scaled(embedding, embedding)").as("d")).as[Long].collect()
    assert(dots.toSeq == orig.toSeq)
  }

  test("unit guard passes in-range data and memoizes per path") {
    import spark.implicits._
    val ok = Tables.normalizeEventTs(Seq(1704103200000000L * 1000L).toDF("ts"))
    Tables.assertEventTimeSane(ok, LongType, "guard-spec-ok")
    // second call with a now-bad frame but the SAME path: memoized, no throw
    val bad = Tables.normalizeEventTs(Seq(1704103200000000L).toDF("ts"))
    Tables.assertEventTimeSane(bad, LongType, "guard-spec-ok")
  }
}
