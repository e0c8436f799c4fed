package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md).
  *
  * Every `SparkEntry.queries` function receives `(spark, sfDir)`; this object
  * is the single place that maps logical table names to parquet paths, the
  * local-FS analog of the reference's bucket+schema+table path construction
  * (reference: DeltaMetadataHandler.scala:95, DeltaRecordHandler.scala:130).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has drifted between physical parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across fixture generations; the engine decodes
    * whatever physical form is on disk, like the reference's record handler
    * (reference: DeltaRecordHandler.scala:71-77). With the nanos-as-long
    * legacy flag set, a NANOS file surfaces as LongType — convert with
    * integer division (µs truncation identical to DuckDB's `epoch_us`); a
    * MICROS file surfaces as TIMESTAMP_NTZ — cast straight to the session
    * timestamp (every entry point pins `spark.sql.session.timeZone=UTC`, so
    * the cast preserves the raw microseconds exactly as DuckDB's naive read
    * does). A unit-sanity guard turns any future unit drift into a loud
    * error instead of a 1000×-compressed timeline. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    val df = normalizeEventTs(raw)
    assertEventTimeSane(df, raw.schema("ts").dataType, s"$d/events.parquet")
    df
  }

  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")

  /** §2.5 input-skew fix for CPU-heavy per-row work over a SMALL scan: a
    * sub-split single-file parquet (the sf fixtures are one file per table)
    * yields ONE input partition, serializing narrow compute — regex
    * segmentation, shingling, hashing — on one core while the rest idle.
    * Re-spread such a scan across the session's cores before the heavy
    * projection. Scale-adaptive by construction: the trigger is the RUNTIME
    * partition count, so a production-scale scan (thousands of splits ≥
    * cores) passes through untouched and never pays the extra exchange.
    * Callers must be partition-order-independent (aggregations / joins
    * keyed on stable ids), which every user here is — the round-robin
    * placement cannot change their results. */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.min(cores, 16)) df.repartition(cores) else df
  }

  /** `embeddings.embedding` is `float[]` today; guard against the same
    * fixture-regeneration drift `events.ts` exhibited (pyarrow's default
    * list element is double): a `double[]` fixture is cast back to
    * `float[]`, so the native expressions (`dot_scaled`, `srp_bands`), the
    * driver-side samplers, and every embedding oracle (which wraps elements
    * in `CAST(x AS FLOAT)`) all operate on identical float32 values either
    * way. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(DoubleType, n) =>
        raw.withColumn("embedding", col("embedding").cast(ArrayType(FloatType, n)))
      case _ => raw
    }
  }

  /** Map whatever physical form `ts` landed on disk as onto ONE logical type
    * (µs-precision session-UTC TimestampType) so every downstream operator —
    * batch and streaming — is unit-safe. Works on streaming frames too (pure
    * column transform, no action). */
  private[graft] def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other " +
          "(expected ns-as-long BIGINT, TIMESTAMP_NTZ, or TIMESTAMP)")
    }

  private val tsChecked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Unit-sanity guard: one sampled row's decoded year must land in the
    * fixture's documented range. A ns↔µs unit mix-up shifts every timestamp
    * by 1000× (to ~1970 or to year ~55000), so a single non-null row catches
    * it loudly — instead of a silently compressed timeline producing wrong
    * joins (the round-8 `stream_join` failure mode). Memoized per
    * (path, physical type): one 1-row job per JVM, not per query, so query
    * hot paths pay nothing — and a fixture regenerated MID-JVM with a unit
    * flip changes the physical type, re-keying the memo so the guard
    * re-fires instead of being silently skipped. */
  private[graft] def assertEventTimeSane(df: DataFrame, phys: DataType, where: String): Unit = {
    val key = s"$where#$phys"
    if (tsChecked.add(key)) {
      df.select(col("ts")).filter(col("ts").isNotNull).head(1).headOption.foreach { r =>
        val year = r.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC).getYear
        if (year < 1990 || year > 2100) {
          tsChecked.remove(key)
          throw new IllegalStateException(
            s"events.ts decoded to year $year (outside 1990-2100) reading $where " +
              s"(physical type $phys) — timestamp unit drift (ns vs µs)?")
        }
      }
    }
  }
}
