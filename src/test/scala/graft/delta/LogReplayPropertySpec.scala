package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

/** One replay semantics, two placements ([[LogReplay]]), checked on seeded
  * log segments: well-formed logs plus truncated last lines, mistyped
  * fields, duplicate adds, remove-before-add, same-version remove + add
  * deletion-vector re-adds, unreadable protocols, compacted ranges and
  * classic multi-part checkpoints.
  *
  *  - Reducer: 1,200 segments decoded on the driver and reduced there,
  *    and decoded and reduced on executors in one Spark job keyed by
  *    (case, key), give the same winner per key, and it is one the model
  *    below allows.
  *  - End to end, checkpoint-less: `snapshot` and `ChangeDataFeed.read`
  *    are identical with `spark.graft.delta.localReplayMaxBytes` at its
  *    default and at 0, or both fail with the same exception class.
  *  - End to end, checkpointed: the replay equals the model.
  *  - Advance: a snapshot advanced one commit at a time from the one
  *    before it ([[DeltaSnapshotReader]]), from version 0 or from a cold
  *    snapshot of a checkpoint, reads at every version what a cold replay
  *    reads, or both throw the same exception class; its `addedVersion`
  *    is never above the cold one, and equal until a checkpoint or
  *    compacted range ends at or below the version.
  *
  * The model is the spec's reconciliation rule, written independently:
  * per key the live actions at the highest (version, add over remove)
  * are the candidates; ties among them may go either way.
  *
  * The named drift tests pin the inputs on which the two placements once
  * disagreed. A failure message prints the seed and the generated log. */
class LogReplayPropertySpec extends SparkSpec {
  import LogReplayPropertySpec._
  import spark.implicits._

  /** Bytes of a parquet file holding `id` 0 and 1, with `_change_type`
    * when `cdc`: every generated data and change file is a copy. */
  private def template(cdc: Boolean): Array[Byte] = {
    val dir = Files.createTempDirectory("graft_replay_tpl").toString + "/d"
    val df = spark.range(2).toDF("id")
    (if (cdc) df.withColumn("_change_type", lit("insert")) else df).coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.readAllBytes(part.toPath)
  }
  private lazy val dataFile = template(cdc = false)
  private lazy val cdcFile = template(cdc = true)

  /** A table directory holding the log files and a data file per path. */
  private def materialize(files: Seq[(String, String)], data: Seq[String]): String = {
    val t = Files.createTempDirectory("graft_replay").toString + "/tbl"
    Files.createDirectories(Paths.get(t, "_delta_log"))
    // fixed mtimes: a commit without an in-commit timestamp dates its
    // change rows by its file's mtime, and each placement reads a copy
    files.zipWithIndex.foreach { case ((name, text), i) =>
      val f = Files.write(Paths.get(t, "_delta_log", name), text.getBytes(UTF_8))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    data.distinct.foreach { p =>
      val f = Paths.get(t, p)
      Files.createDirectories(f.getParent)
      Files.write(f, if (p.startsWith("_change_data")) cdcFile else dataFile)
    }
    t
  }

  private def materialize(seg: Segment): String =
    materialize((seg.commits ++ seg.compacted).map(s => s.name -> s.text), seg.dataPaths)

  /** Write `cp`'s actions as a classic two-part checkpoint into the log of
    * each of `tables`. */
  private def writeCheckpoint(cp: Source, tables: Seq[String]): Unit = {
    val dir = Files.createTempDirectory("graft_replay_cp").toString + "/cp"
    spark.read.schema(DeltaActions.actionSchema).json(cp.acts.map(_.line).toDS())
      .repartition(2).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    for (t <- tables; (f, n) <- parts.zipWithIndex)
      Files.copy(f.toPath, Paths.get(t, "_delta_log",
        LogListing.checkpointName(cp.version, n + 1, parts.length)))
  }

  /** A session whose replays take the distributed placement. */
  private lazy val distributedSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.delta.localReplayMaxBytes", "0")
    s
  }

  /** Everything a snapshot of `t` resolves, and its whole change feed,
    * each as its value or the class of what it threw. */
  private type Observed = (Either[String, Any], Either[String, Any])

  private def observe(session: SparkSession, t: String): Observed = {
    SparkSession.setActiveSession(session)
    def attempt(body: => Any) = {
      DeltaSnapshotReader.invalidate(t)
      Try(body).toEither.left.map(_.getClass.getName)
    }
    (attempt {
      val s = DeltaSnapshotReader.snapshot(session, t)
      (s.files, s.tombstones, s.txns, s.domainMetadata, s.protocol, s.schema, s.partitionColumns,
        s.configuration, s.physicalSchema, s.metadataId, s.metadataCreatedTime)
    }, attempt(ChangeDataFeed.read(session, t, 0L).collect().map(_.toString).sorted.toSeq))
  }

  /** Asserts that both placements read each table alike, replaying the
    * tables four at a time (each placement reads its own copy, so neither
    * sees the other's cached snapshots); returns the driver's views. */
  private def assertParity(tables: Seq[(() => String, String)]): Seq[Observed] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = tables.map { case (make, log) =>
        val (t1, t2) = (make(), make())
        def on(session: SparkSession, t: String) =
          pool.submit(new java.util.concurrent.Callable[Observed] { def call() = observe(session, t) })
        (on(spark, t1), on(distributedSession, t2), log)
      }
      runs.map { case (d, x, log) =>
        val (onDriver, distributed) = (d.get, x.get)
        assert(onDriver._1 == distributed._1,
          s"snapshot differs: driver ${onDriver._1}\ndistributed ${distributed._1}\n$log")
        assert(onDriver._2 == distributed._2,
          s"change feed differs: driver ${onDriver._2}\ndistributed ${distributed._2}\n$log")
        onDriver
      }
    } finally {
      pool.shutdown()
      SparkSession.setActiveSession(spark)
    }
  }

  test("reducer: 1,200 seeded segments pick one winner per key on both placements, one the model allows") {
    val segs = (1L to 1200L).map(s => segment(s, 1000L, checkpointed = s % 3 == 0))
    val lines = for (seg <- segs; src <- seg.replayed; a <- src.acts)
      yield Row(seg.seed, src.version, a.line)
    val lineSchema = StructType(Seq(StructField("case", LongType),
      StructField("version", LongType), StructField("line", StringType)))
    def decode(df: DataFrame) =
      df.select(from_json(col("line"), DeltaActions.actionSchema).as("a"), col("version"), col("case"))
        .select(col("a.*"), col("version"), col("case")).queryExecution.toRdd.map(_.copy())
    val toRow = CatalystTypeConverters.createToScalaConverter(LogReplay.replaySchema.add("case", LongType))
    // a winner as (row, is it an add), keyed by (case, kind, name)
    def won(k: (Long, (Int, UTF8String)), r: InternalRow) =
      (k._1, (k._2._1, k._2._2.toString)) -> (toRow(r).asInstanceOf[Row], LogReplay.isAdd(r))
    // driver placement: every case's rows folded on the driver
    val driver: Map[(Long, (Int, String)), (Row, Boolean)] =
      decode(spark.createDataFrame(lines.asJava, lineSchema)).collect()
        .groupBy(_.getLong(7)).toSeq.flatMap { case (c, rows) =>
          LogReplay.reduce(rows.iterator).map { case (k, r) => won((c, k), r) }
        }.toMap
    // distributed placement: decoded on executors and reduced per
    // (case, key) in one job, rows spread over 8 partitions
    val distributed: Map[(Long, (Int, String)), (Row, Boolean)] =
      decode(spark.createDataFrame(spark.sparkContext.parallelize(lines, 8), lineSchema))
        .flatMap(LogReplay.split)
        .filter(r => LogReplay.keyOf(r)._1 != 0)
        .map(r => (r.getLong(7), LogReplay.keyOf(r)) -> r)
        .reduceByKey(LogReplay.newer _)
        .collect().map { case (k, r) => won(k, r) }.toMap
    val failures = segs.flatMap { seg =>
      val expect = model(seg.replayed)
      def winners(m: Map[(Long, (Int, String)), (Row, Boolean)]) =
        m.collect { case ((c, k), r) if c == seg.seed => k -> r }
      val (d, x) = (winners(driver), winners(distributed))
      val problems =
        (if (d != x) Seq(s"placements differ: driver $d\ndistributed $x") else Nil) ++
        (if (d.keySet != expect.keySet) Seq(s"keys ${d.keySet} != model ${expect.keySet}") else Nil) ++
        d.toSeq.flatMap { case (k, (r, rIsAdd)) =>
          expect.get(k).filterNot { case (v, isAdd, cands) =>
            r.getLong(6) == v && rIsAdd == isAdd && cands.exists(_.token == token(k._1, r))
          }.map(m => s"key $k won by $r, model allows $m")
        }
      problems.headOption.map(p => s"seed ${seg.seed}: $p\n${seg.describe}")
    }
    assert(failures.isEmpty,
      s"${failures.size} of ${segs.size} segments failed; first:\n${failures.headOption.getOrElse("")}")
  }

  test("end to end: checkpoint-less segments read the same at localReplayMaxBytes default and 0") {
    val results = assertParity((1L to 24L).map { i =>
      val seg = segment(10000L + i, dataFile.length.toLong, checkpointed = false)
      (() => materialize(seg), s"seed ${seg.seed}\n${seg.describe}")
    })
    // most of the sample must read, so values are compared, not only
    // exception classes
    assert(results.count(_._1.isRight) >= 12 && results.count(_._2.isRight) >= 6,
      results.map(r => (r._1.isRight, r._2.isRight)))
  }

  test("end to end: checkpointed segments (classic multi-part) replay to the model's reconciliation") {
    (1L to 12L).foreach { i =>
      val seg = segment(20000L + i, dataFile.length.toLong, checkpointed = true)
      val t = materialize(seg)
      val cp = seg.checkpoint.get
      writeCheckpoint(cp, Seq(t))
      val log = s"seed ${seg.seed}\n${seg.describe}"
      val expect = model(seg.replayed)
      def cands(kind: Int) = expect.collect { case ((`kind`, name), m) => name -> m }
      DeltaSnapshotReader.invalidate(t)
      val got = Try(DeltaSnapshotReader.snapshot(spark, t))
      if (cands(LogReplay.ProtocolKey)("")._3.forall(_.flag)) {
        assert(got.failed.toOption.exists(_.isInstanceOf[DeltaUnsupportedFeatureException]), log)
      } else {
        val s = got.get
        val live = cands(LogReplay.FileKey)
        assert(s.files.map(_.path).toSet == live.filter(_._2._2).keySet, log)
        s.files.foreach { f =>
          val (v, _, c) = live(f.path)
          assert(f.addedVersion.contains(v) && c.exists(_.token == f.modificationTime), s"$f\n$log")
        }
        assert(s.tombstones.map(_.path).toSet == live.filterNot(_._2._2).keySet, log)
        s.tombstones.foreach(r => assert(live(r.path)._3.exists(_.token == r.deletionTimestamp - Base), log))
        assert(s.txns.map(_.appId).toSet == cands(LogReplay.TxnKey).keySet, log)
        s.txns.foreach(x => assert(cands(LogReplay.TxnKey)(x.appId)._3.exists(a => x.lastUpdated.contains(a.token)), log))
        cands(LogReplay.DomainKey).foreach { case (d, (_, _, c)) =>
          s.domainMetadata.get(d) match {
            case Some(cfg) => assert(c.exists(a => !a.flag && a.token.toString == cfg), log)
            case None => assert(c.exists(_.flag), log)
          }
        }
        assert(s.domainMetadata.keySet.subsetOf(cands(LogReplay.DomainKey).keySet), log)
        assert(cands(LogReplay.MetaKey)("")._3.exists(a => s.metadataCreatedTime.contains(a.token)), log)
        assert(cands(LogReplay.ProtocolKey)("")._3.exists(a =>
          s.protocol.flatMap(_.writerFeatures).contains(Seq(s"f${a.token}"))), log)
        assert(s.physicalSchema.isDefined == s.configuration.contains("delta.columnMapping.mode"), log)
      }
    }
  }

  // ---- named drift tests: inputs the two placements once read differently ----

  private val v0 = Seq(
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
    obj("metaData" -> obj("id" -> q("drift"), "format" -> obj("provider" -> q("parquet")),
      "schemaString" -> q(schemaJson(mapped = false)), "partitionColumns" -> """["p"]""",
      "configuration" -> obj("delta.enableChangeDataFeed" -> q("true")), "createdTime" -> "1")),
    addLine("p=a/f0.parquet", size = null, mtime = 1))

  private def addLine(path: String, size: String, mtime: Long, dataChange: String = "true"): String =
    obj("add" -> obj("path" -> q(path), "partitionValues" -> obj("p" -> q(path.substring(2, 3))),
      "size" -> Option(size).getOrElse(dataFile.length.toString), "modificationTime" -> mtime.toString,
      "dataChange" -> dataChange, "stats" -> q("""{"numRecords":2}""")))

  /** A two-commit table: `v0`, then `v1`; both placements must agree. */
  private def drift(v1: Seq[String]): Observed =
    assertParity(Seq((() => materialize(
      Seq(f"${0L}%020d.json" -> v0.mkString("\n"), f"${1L}%020d.json" -> v1.mkString("\n")),
      (v0 ++ v1).flatMap(l => """"path":"([^"]+)"""".r.findFirstMatchIn(l).map(_.group(1)))),
      (v0 ++ v1).mkString("\n")))).head

  private lazy val mistyped = Seq(
    addLine("p=a/f1.parquet", size = "\"123\"", mtime = 2),
    addLine("p=b/f2.parquet", size = "1.5", mtime = 3),
    addLine("p=a/f3.parquet", size = null, mtime = 4, dataChange = "\"true\""))
  private lazy val unreadableProtocol = Seq("""{"protocol":{"minReaderVersion":"4","minWriterVersion":7}}""",
    addLine("p=b/f1.parquet", size = null, mtime = 2))
  private lazy val duplicateAdd = Seq(
    addLine("p=b/f1.parquet", size = null, mtime = 7),
    addLine("p=b/f1.parquet", size = null, mtime = 2),
    addLine("p=b/f1.parquet", size = null, mtime = 5))
  private lazy val truncated = Seq(
    addLine("p=b/f1.parquet", size = null, mtime = 2),
    """{"remove":{"path":"p=a/f0.parquet","deletionTimestamp":1,"dataChange":true}""")

  test("drift: a commit with \"size\":\"123\", \"size\":1.5 or \"dataChange\":\"true\" reads the same on both placements") {
    val (snap, _) = drift(mistyped)
    assert(snap.isRight)
  }

  test("drift: a \"minReaderVersion\":\"4\" protocol is refused on both placements") {
    val refused = Left(classOf[DeltaUnsupportedFeatureException].getName)
    assert(drift(unreadableProtocol) == (refused, refused))
  }

  test("drift: a duplicate add of one path in one commit reads the same on both placements") {
    val (snap, _) = drift(duplicateAdd)
    assert(snap.isRight)
  }

  test("drift: a truncated last line reads the same on both placements") {
    val (snap, _) = drift(truncated)
    assert(snap.isRight)
  }

  // ---- advance: a snapshot advanced commit by commit equals a cold replay ----

  /** Everything a snapshot resolves, its files without their
    * `addedVersion`, and the crc it renders; beside that, each file's
    * `addedVersion`. Or the class of what it threw. */
  private type Resolved = Either[String, (Any, Map[String, Option[Long]])]

  /** [[Resolved]] of `t` at `v`. */
  private def resolve(t: String, v: Long): Resolved =
    Try {
      val s = DeltaSnapshotReader.snapshotAt(spark, t, Some(v))
      ((s.files.map(_.copy(addedVersion = None)), s.tombstones, s.txns, s.domainMetadata, s.protocol,
        s.schema, s.partitionColumns, s.configuration, s.physicalSchema, s.metadataId,
        s.metadataCreatedTime, Checksum.render(s)), s.files.map(f => f.path -> f.addedVersion).toMap)
    }.toEither.left.map(_.getClass.getName)

  /** [[resolve]] of a cold replay of `t` at each version up to `last`. */
  private def coldReplays(t: String, last: Long): Seq[Resolved] =
    (0L to last).map { v => DeltaSnapshotReader.invalidate(t); resolve(t, v) }

  /** Resolves `chain` at versions `from` to `to` in turn, the first cold
    * and each later one advanced from the one before when that one read,
    * and at every version compares with `cold`, the cold replays of a copy
    * of the same table ([[coldReplays]]): the same result, or the same
    * exception class. `addedVersion` is equal at a version no checkpoint or
    * compacted range in `floors` (their versions) ends at or below, and
    * never above the cold one. Returns how many versions were advanced. */
  private def assertAdvance(chain: String, cold: Seq[Resolved],
                            from: Long, to: Long, floors: Seq[Long], log: String): Int = {
    DeltaSnapshotReader.invalidate(chain)
    (from to to).foldLeft((Option.empty[Boolean], 0)) { case ((prevRead, advanced), v) =>
      val (got, lines) = ResolutionLog.capture(resolve(chain, v))
      val want = cold(v.toInt)
      val how = lines.map(ResolutionLog.kind)
      assert(how.size == 1, s"v$v resolved as $how\n$log")
      if (v == from) assert(how.head.startsWith("cold"), s"v$v: $how\n$log")
      if (prevRead.contains(true)) assert(how.head == s"advanced from ${v - 1} (1 commits)", s"v$v: $how\n$log")
      assert(got.map(_._1) == want.map(_._1), s"v$v advanced: $got\ncold: $want\n$log")
      (got, want) match {
        case (Right((_, a)), Right((_, c))) =>
          if (floors.exists(_ <= v)) assert(a.forall { case (p, av) => av.get <= c(p).get }, s"v$v: $a > $c\n$log")
          else assert(a == c, s"v$v addedVersion: advanced $a, cold $c\n$log")
        case _ =>
      }
      (Some(got.isRight), advanced + how.count(_.startsWith("advanced")))
    }._2
  }

  test("advance: checkpoint-less segments advanced commit by commit read as a cold replay at every version") {
    val advanced = (1L to 16L).map { i =>
      val seg = segment(30000L + i, dataFile.length.toLong, checkpointed = false)
      val last = seg.commits.size - 1L
      assertAdvance(materialize(seg), coldReplays(materialize(seg), last), 0L, last,
        seg.compacted.map(_.version).toSeq, s"seed ${seg.seed}\n${seg.describe}")
    }.sum
    assert(advanced >= 32, s"only $advanced versions advanced")
  }

  test("advance: classic-checkpointed segments, from a cold checkpointed snapshot and across the checkpoint") {
    val advanced = (1L to 8L).map { i =>
      val seg = segment(40000L + i, dataFile.length.toLong, checkpointed = true)
      val cp = seg.checkpoint.get
      val (chain, cold) = (materialize(seg), materialize(seg))
      writeCheckpoint(cp, Seq(chain, cold))
      // the crc's count makes a cold snapshot of the checkpoint collect its
      // winners in one pass, so it can be advanced
      val live = model(seg.replayed.filter(_.version <= cp.version)).count { case ((k, _), m) => k == LogReplay.FileKey && m._2 }
      Seq(chain, cold).foreach(t => Files.write(Paths.get(t, "_delta_log", LogListing.crcName(cp.version)),
        s"""{"numFiles":$live}""".getBytes(UTF_8)))
      val (last, floors) = (seg.commits.size - 1L, cp.version +: seg.compacted.map(_.version).toSeq)
      val log = s"seed ${seg.seed}\n${seg.describe}"
      val colds = coldReplays(cold, last)
      assertAdvance(chain, colds, cp.version, last, floors, log) + assertAdvance(chain, colds, 0L, last, floors, log)
    }.sum
    assert(advanced >= 24, s"only $advanced versions advanced")
  }

  test("advance: the drift inputs advance to what a cold replay reads") {
    val advanced = Seq(mistyped, unreadableProtocol, duplicateAdd, truncated).map { v1 =>
      val files = Seq(LogListing.commitName(0) -> v0.mkString("\n"), LogListing.commitName(1) -> v1.mkString("\n"))
      val data = (v0 ++ v1).flatMap(l => """"path":"([^"]+)"""".r.findFirstMatchIn(l).map(_.group(1)))
      assertAdvance(materialize(files, data), coldReplays(materialize(files, data), 1L), 0L, 1L, Nil,
        (v0 ++ v1).mkString("\n"))
    }.sum
    assert(advanced == 4)
  }
}

object LogReplayPropertySpec {
  import LogReplay.{DomainKey, FileKey, MetaKey, ProtocolKey, TxnKey}

  /** Deletion timestamps: this base plus the action's token. */
  val Base = 4102444800000L

  /** One generated log line and what the model makes of it: its replay
    * key (None when it carries no replayed action: cdc, commitInfo, a
    * truncated line), and a unique token the replay's winner can be traced
    * back by. `flag`: a removed domain, or a protocol this reader must
    * refuse (reader version 4, or one that does not decode). */
  final case class Act(line: String, key: Option[(Int, String)], isAdd: Boolean = false,
                       token: Long = 0L, flag: Boolean = false)

  /** One log file (or checkpoint) replayed at `version`. */
  final case class Source(version: Long, name: String, acts: Seq[Act]) {
    def text: String = acts.map(_.line).mkString("\n")
  }

  final case class Segment(seed: Long, commits: Seq[Source], compacted: Option[Source],
                           checkpoint: Option[Source], dataPaths: Seq[String]) {
    /** What a reader replays: the checkpoint, the compacted range, then
      * the commits neither covers. */
    def replayed: Seq[Source] = {
      val covered = compacted.map(_.name.take(20).toLong).map(lo => (lo, compacted.get.version))
      checkpoint.toSeq ++ compacted ++ commits.filter { c =>
        c.version > checkpoint.map(_.version).getOrElse(-1L) &&
          !covered.exists { case (lo, hi) => c.version >= lo && c.version <= hi }
      }
    }
    def describe: String =
      (checkpoint.toSeq ++ commits ++ compacted).map(s => s"-- ${s.name} @ ${s.version}\n${s.text}").mkString("\n")
  }

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  def schemaJson(mapped: Boolean): String = {
    def field(name: String, t: DataType, phys: String) = StructField(name, t, nullable = true,
      if (mapped) new MetadataBuilder().putString(ColumnMapping.PhysicalNameKey, phys).build() else Metadata.empty)
    StructType(Seq(field("id", LongType, "id"), field("p", StringType, "col-p"))).json
  }

  /** A valid inline deletion vector that deletes row 0. */
  private val inlineDv: String = {
    val bits = DeletionVectors.serialize(Array(0L))
    val z85 = DeletionVectors.base85Encode(bits ++ new Array[Byte]((4 - bits.length % 4) % 4))
    obj("storageType" -> q("i"), "pathOrInlineDv" -> q(z85), "sizeInBytes" -> bits.length.toString,
      "cardinality" -> "1")
  }

  /** The spec's reconciliation: per key, the version, add-ness and
    * candidates at the highest (version, add over remove). */
  def model(sources: Seq[Source]): Map[(Int, String), (Long, Boolean, Seq[Act])] =
    sources.flatMap(s => s.acts.flatMap(a => a.key.map(k => (k, s.version, a))))
      .groupBy(_._1).map { case (k, xs) =>
        val top = xs.map(x => (x._2, x._3.isAdd)).max
        k -> (top._1, top._2, xs.filter(x => (x._2, x._3.isAdd) == top).map(_._3))
      }

  /** The token of a decoded winning row of kind `kind`. */
  def token(kind: Int, r: Row): Long = kind match {
    case FileKey if !r.isNullAt(0) => r.getStruct(0).getLong(3)
    case FileKey => r.getStruct(1).getLong(1) - Base
    case MetaKey => r.getStruct(2).getLong(6)
    case ProtocolKey => r.getStruct(3).getSeq[String](3).head.drop(1).toLong
    case TxnKey => r.getStruct(4).getLong(2)
    case DomainKey => r.getStruct(5).getString(1).toLong
  }

  /** A seeded log segment of 3-7 commits over 4 file paths. Data files
    * are `fileSize` bytes long. `checkpointed`: a checkpoint of the
    * reconciled actions at a version in the middle. */
  def segment(seed: Long, fileSize: Long, checkpointed: Boolean): Segment = {
    val rnd = new Random(seed)
    var tok = 0L
    def next(): Long = { tok += 1; tok }
    def oneOf[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    val mapped = rnd.nextInt(4) == 0
    val pk = if (mapped) "col-p" else "p"
    val paths = Seq("p=a/f0.parquet", "p=b/f1.parquet", "p=a/f2.parquet", "p=b/f3.parquet")
    val data = Seq.newBuilder[String]
    def dataChange() = oneOf("true", "true", "true", "false", "\"true\"")
    def add(p: String, dv: Boolean): Act = {
      val t = next()
      data += p
      val size = if (rnd.nextInt(8) == 0) oneOf("\"123\"", "1.5") else fileSize.toString
      Act(obj("add" -> obj(Seq("path" -> q(p), "partitionValues" -> obj(pk -> q(p.substring(2, 3))),
        "size" -> size, "modificationTime" -> t.toString, "dataChange" -> dataChange(),
        "stats" -> q("""{"numRecords":2}""")) ++ (if (dv) Seq("deletionVector" -> inlineDv) else Nil): _*)),
        Some((FileKey, p)), isAdd = true, token = t)
    }
    def remove(p: String): Act = {
      val t = next()
      Act(obj("remove" -> obj("path" -> q(p), "deletionTimestamp" -> (Base + t).toString,
        "dataChange" -> dataChange())), Some((FileKey, p)), token = t)
    }
    def txn(): Act = {
      val (t, app) = (next(), oneOf("app-1", "app-2"))
      Act(obj("txn" -> obj("appId" -> q(app), "version" -> t.toString, "lastUpdated" -> t.toString)),
        Some((TxnKey, app)), token = t)
    }
    def domain(): Act = {
      val (t, d, removed) = (next(), oneOf("d1", "d2"), rnd.nextInt(4) == 0)
      Act(obj("domainMetadata" -> obj("domain" -> q(d), "configuration" -> q(t.toString),
        "removed" -> removed.toString)), Some((DomainKey, d)), token = t, flag = removed)
    }
    def meta(): Act = {
      val t = next()
      val conf = Seq("delta.enableChangeDataFeed" -> q("true")) ++
        (if (mapped) Seq("delta.columnMapping.mode" -> q("name")) else Nil)
      Act(obj("metaData" -> obj("id" -> q(s"tbl-$seed"), "format" -> obj("provider" -> q("parquet")),
        "schemaString" -> q(schemaJson(mapped)), "partitionColumns" -> """["p"]""",
        "configuration" -> obj(conf: _*), "createdTime" -> t.toString)), Some((MetaKey, "")), token = t)
    }
    // reader "4" is refused; so is "\"4\"", which does not decode
    def protocol(reader: String): Act = {
      val t = next()
      Act(obj("protocol" -> obj("minReaderVersion" -> reader, "minWriterVersion" -> "7",
        "readerFeatures" -> """["deletionVectors","columnMapping"]""", "writerFeatures" -> s"""["f$t"]""")),
        Some((ProtocolKey, "")), token = t, flag = reader != "3")
    }
    def cdc(): Act = {
      val p = s"_change_data/c${next()}.parquet"
      data += p
      Act(obj("cdc" -> obj("path" -> q(p), "partitionValues" -> obj(pk -> q("a")),
        "size" -> fileSize.toString, "dataChange" -> "false")), None)
    }
    def commitInfo(): Act = {
      val t = next()
      Act(obj("commitInfo" -> obj("timestamp" -> t.toString, "inCommitTimestamp" -> (Base + t).toString)), None)
    }
    val n = 3 + rnd.nextInt(5)
    val commits = (0 until n).map { v =>
      var protocolDone = false
      val acts =
        if (v == 0) Seq(protocol("3"), meta()) ++ (0 to rnd.nextInt(3)).map(_ => add(paths(rnd.nextInt(4)), dv = false))
        else (0 to rnd.nextInt(4)).flatMap { _ =>
          val p = paths(rnd.nextInt(4))
          rnd.nextInt(12) match {
            case 0 | 1 => Seq(add(p, dv = rnd.nextInt(4) == 0))
            case 2 => Seq(remove(p))
            case 3 => Seq(remove(p), add(p, dv = rnd.nextBoolean())) // remove-before-add, DV re-add
            case 4 => Seq(add(p, dv = false), add(p, dv = false))   // duplicate add
            case 5 => Seq(txn())
            case 6 => Seq(domain())
            case 7 => Seq(meta())
            case 8 if !protocolDone =>
              protocolDone = true
              Seq(protocol(oneOf("3", "3", "3", "3", "3", "3", "\"4\"", "4")))
            case 9 => Seq(cdc())
            case 10 => Seq(commitInfo())
            case _ => Seq(add(p, dv = false))
          }
        }
      Source(v, f"$v%020d.json", acts)
    }
    // a truncated last line: cut inside its action, so it is malformed
    val log = if (rnd.nextInt(5) != 0) commits else {
      val last = commits.last
      val line = last.acts.last.line
      commits.init :+ last.copy(acts = last.acts.init :+
        Act(line.take(10 + rnd.nextInt(line.length / 2 - 10)), None))
    }
    def reconciled(from: Long, to: Long): Seq[Act] =
      model(log.filter(c => c.version >= from && c.version <= to)).values.flatMap(_._3).toSeq.sortBy(_.token)
    val cp = if (!checkpointed) None else {
      val c = 1L + rnd.nextInt(n - 2)
      Some(Source(c, "checkpoint", reconciled(0L, c)))
    }
    val lo = cp.map(_.version + 1).getOrElse(0L)
    val compacted = if (rnd.nextInt(3) != 0 || lo + 1 > n - 1) None else {
      val hi = lo + 1 + rnd.nextInt((n - 1 - lo).toInt)
      Some(Source(hi, f"$lo%020d.$hi%020d.compacted.json", reconciled(lo, hi)))
    }
    Segment(seed, log, compacted, cp, data.result())
  }
}
