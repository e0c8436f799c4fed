package graftbench

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same rows; nothing is
  * read from outside the run's own directory. */
object Gen {

  // ---- TPC-H-shaped lineitem / orders (sf0.1: 150k orders, ~600k lines) ----

  private def h(seed: Long, tag: Int, c: Column): Column = xxhash64(lit(seed), lit(tag), c)
  private def u(seed: Long, tag: Int, c: Column, n: Long): Column = pmod(h(seed, tag, c), lit(n))
  private def pick(seed: Long, tag: Int, c: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, tag, c, xs.size) + 1).cast("int"))

  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Epoch = java.sql.Date.valueOf("1992-01-01")
  private val Cut = java.sql.Date.valueOf("1995-06-17")

  /** Seeded order-key offset, so each seed writes different key ranges. */
  def keyOffset(seed: Long): Long = (1L + Math.floorMod(seed * 7919L, 1000L)) * 1000000L

  /** Order dates rise with the key, so each of the `parts` generator
    * partitions covers a narrow date range: files written from it can be
    * skipped by date stats without a shuffle. */
  def orders(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(0L, n, 1L, parts).select(
      (id + keyOffset(seed)).as("o_orderkey"),
      (u(seed, 1, id, 15000) + 1).as("o_custkey"),
      pick(seed, 2, id, Seq("F", "O", "P")).as("o_orderstatus"),
      (u(seed, 3, id, 50000000L).cast("double") / 100.0 + 900.0).as("o_totalprice"),
      date_add(lit(Epoch), (id * 2406L / n).cast("int")).as("o_orderdate"),
      pick(seed, 5, id, Priorities).as("o_orderpriority"))
  }

  def lineitem(orders: DataFrame, seed: Long): DataFrame = {
    val k = col("o_orderkey") * 8 + col("l_linenumber")
    val qty = (u(seed, 8, k, 50) + 1).cast("double")
    val ship = date_add(col("o_orderdate"), (u(seed, 12, k, 121) + 1).cast("int"))
    orders
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (u(seed, 6, col("o_orderkey"), 7) + 1).cast("int"))).as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        (u(seed, 9, k, 20000) + 1).as("l_partkey"),
        (u(seed, 10, k, 1000) + 1).as("l_suppkey"),
        col("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (u(seed, 11, k, 100000).cast("double") / 100.0 + 900.0), 2).as("l_extendedprice"),
        (u(seed, 13, k, 11).cast("double") / 100.0).as("l_discount"),
        (u(seed, 14, k, 9).cast("double") / 100.0).as("l_tax"),
        when(ship <= lit(Cut), pick(seed, 15, k, Seq("R", "A"))).otherwise(lit("N")).as("l_returnflag"),
        when(ship > lit(Cut), lit("O")).otherwise(lit("F")).as("l_linestatus"),
        ship.as("l_shipdate"),
        year(ship).as("l_shipyear"))
  }

  // ---- events appends and DML sources (lake_commits) ----

  val Groups = 8

  /** Seeded stream of append batches and DML parameters. */
  final class Events(seed: Long) {
    private val rnd = new Random(seed * 31L + 7L)
    private var nextId = keyOffset(seed)

    def batch(n: Int, batchNo: Int): Seq[Event] =
      Seq.fill(n) { nextId += 1; Event(nextId, rnd.nextInt(Groups), rnd.nextInt(1000000).toLong, batchNo) }

    def group(): Int = rnd.nextInt(Groups)

    /** Upsert source: `n` rows, half re-keyed from `existing`, half new. */
    def mergeSource(existing: IndexedSeq[Long], n: Int, batchNo: Int): Seq[Event] = {
      val old = rnd.shuffle(existing).take(n / 2)
        .map(id => Event(id, rnd.nextInt(Groups), rnd.nextInt(1000000).toLong, batchNo))
      old ++ batch(n - old.size, batchNo)
    }

    def predicate(mod: Int, minBatch: Int): GrpMod = GrpMod(rnd.nextInt(Groups), mod, rnd.nextInt(mod), minBatch)
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("value", LongType, nullable = false),
    StructField("batch", IntegerType, nullable = false)))

  def eventsDf(spark: SparkSession, es: Seq[Event]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(es.map(e => Row(e.id, e.grp, e.value, e.batch)), 1), EventSchema)

  // ---- corpus shards (llm_pipeline), `documents` schema ----

  val Vocab: IndexedSeq[String] = ("a the agg batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table value " +
    "vector window").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType), StructField("shard", IntegerType)))

  /** `docs` documents of shard `shard`: 10-100 words each; about 1 in 20 is
    * a near-copy (1-3 words changed) and 1 in 100 an exact copy of an
    * earlier document of the same shard. */
  def shardDocs(seed: Long, shard: Int, docs: Int): Seq[Row] = {
    val rnd = new Random(seed * 1000003L + shard)
    val base = keyOffset(seed) + shard.toLong * docs
    val texts = new Array[Array[String]](docs)
    (0 until docs).map { i =>
      val r = rnd.nextDouble()
      val words =
        if (i > 0 && r < 0.01) texts(rnd.nextInt(i)).clone()
        else if (i > 0 && r < 0.06) {
          val w = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.size)))
          w
        } else Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size)))
      texts(i) = words
      val text = words.mkString(" ")
      Row(base + i, text, Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(10)}",
        text.length.toLong, shard)
    }
  }

  /** Write shards `from until to` under `dir`, each as
    * `<dir>/<k>/documents.parquet` (one file), with one Spark job. */
  def writeShards(spark: SparkSession, dir: String, seed: Long, from: Int, to: Int, docs: Int): Seq[String] = {
    val rows = (from until to).flatMap(k => shardDocs(seed, k, docs))
    val staging = s"$dir/_staging$from"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, math.min(to - from, 16))), DocSchema)
      .repartition(to - from, col("shard"))
      .write.partitionBy("shard").parquet(staging)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    (from until to).map { k =>
      val target = new Path(s"$dir/$k")
      fs.mkdirs(target)
      require(fs.rename(new Path(s"$staging/shard=$k"), new Path(target, "documents.parquet")),
        s"could not move shard $k into place")
      target.toString
    }
  }
}
