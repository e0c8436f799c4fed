package graft.delta

import graft.SparkSpec
import org.apache.hadoop.fs.Path

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-commit snapshot checksum (`<version>.crc`, VERDICT r12 #4): every
  * commit emits one; the first FILE-SET access validates it (lazy since
  * ADVICE r13 — metadata-plane resolution skips the aggregate; data-plane
  * consumers never see an add row before the check passes). Corruption
  * drill: a tampered crc (wrong numFiles / tableSizeBytes / setDigest) →
  * loud refusal that poisons the set; a MISSING crc → tolerated (foreign
  * logs never have one); a TORN crc (crashed writer) → warn-and-ignore,
  * never bricks the table. */
class ChecksumSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_crc").toString + "/tbl"

  private def crcFile(t: String, v: Long) =
    Paths.get(t, "_delta_log", f"$v%020d.crc")

  private def df(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1)

  /** Tamper THROUGH the Hadoop fs (fresh write, fresh checksum sidecar) —
    * the realistic shape on an object store is a clean full-object PUT of
    * wrong content, not a torn local write. An NIO edit here would leave
    * the local fs's own .crc sidecar stale and read back as a TORN file
    * (warn-and-ignore path), which is a different drill (below). */
  private def hadoopWrite(t: String, v: Long, content: String): Unit = {
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(t + "/_delta_log", f"$v%020d.crc"), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("every commit writes a parseable crc with the post-commit state") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    DeltaWriter.write(df(10, 20), t)
    DeltaWriter.delete(spark, t, org.apache.spark.sql.functions.col("id") < 5)
    for (v <- 0L to 2L)
      assert(Files.exists(crcFile(t, v)), s"missing crc for v$v")
    // each crc records THAT version's state, not the latest
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def state(v: Long) = {
      val n = om.readTree(new String(Files.readAllBytes(crcFile(t, v)), "UTF-8"))
      (n.get("numFiles").asLong, n.get("tableSizeBytes").asLong,
        n.get("protocol").get("minReaderVersion").asInt,
        n.get("metadata").get("schemaString").asText)
    }
    val s0 = state(0); val s1 = state(1); val s2 = state(2)
    assert(s0._1 == 1 && s1._1 == 2, s"append counts: $s0 $s1")
    assert(s1._2 > s0._2, "append grows tableSizeBytes")
    assert(s2._4.contains("\"id\""), "metadata echo carries the schema")
    // and the crc matches an independent replay at each version
    for (v <- 0L to 2L) {
      val snap = DeltaSnapshotReader.snapshotAt(spark, t, Some(v))
      assert(state(v)._1 == snap.fileSet.count, s"v$v numFiles")
      assert(state(v)._2 == snap.fileSet.totalBytes, s"v$v tableSizeBytes")
    }
  }

  test("tampered crc → loud refusal before data; repeated accesses keep refusing") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    DeltaWriter.write(df(10, 20), t)
    val p = crcFile(t, 1)
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    val bad = txt.replaceFirst(""""numFiles":\d+""", "\"numFiles\":99")
    assert(bad != txt)
    hadoopWrite(t, 1, bad)
    DeltaSnapshotReader.invalidate(t)
    // validation is LAZY (ADVICE r13): resolving the snapshot's METADATA
    // plane — version, schema, protocol — never touches the file set and
    // must succeed even over a tampered crc...
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.version == 1 && snap.schema.fieldNames.contains("id"))
    // ...but the FIRST data-plane access refuses before serving any row
    val e = intercept[Checksum.ChecksumMismatchException] { snap.fileSet.count }
    assert(e.getMessage.contains("numFiles=99"))
    // the failure POISONS the set: every later access rethrows (the
    // refusal cannot be cached away by the memoized aggregates)
    intercept[Checksum.ChecksumMismatchException] { snap.fileSet.count }
    intercept[Checksum.ChecksumMismatchException] { snap.fileSet.df }
    // and a fresh load of the same version refuses again at first use
    intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshot(spark, t).fileSet.totalBytes
    }
    // a full table READ is a data-plane access: it must refuse too
    intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.load(spark, t).count()
    }
    // restoring the true crc heals the table
    hadoopWrite(t, 1, txt)
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 20)
  }

  test("tampered tableSizeBytes also refuses; time travel validates ITS version") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    DeltaWriter.write(df(10, 20), t)
    // corrupt only v0's crc: latest load (v1) stays fine, travel to v0 refuses
    val p = crcFile(t, 0)
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    hadoopWrite(t, 0, txt.replaceFirst(""""tableSizeBytes":\d+""",
      "\"tableSizeBytes\":7"))
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 20)
    val e = intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshotAt(spark, t, Some(0L)).fileSet.count
    }
    assert(e.getMessage.contains("tableSizeBytes=7"))
  }

  test("missing crc tolerated (foreign log); torn crc warns and is ignored") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    DeltaWriter.write(df(10, 20), t)
    Files.delete(crcFile(t, 1))
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 20)
    // torn file: a crashed writer's partial JSON must not brick the table.
    // Drill BOTH tolerance paths — unparseable-but-readable content (the
    // object-store torn shape) and a bytes-vs-sidecar mismatch the local
    // fs surfaces as an unreadable file (NIO write bypassing Hadoop)
    hadoopWrite(t, 0, """{"tableSizeBytes":123,"numFi""")
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.snapshotAt(spark, t, Some(0L)).fileSet.count == 1)
    Files.write(crcFile(t, 0), """{"tableSizeBytes":123,"numFiles":9}"""
      .getBytes(StandardCharsets.UTF_8)) // stale .crc sidecar → read fails
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.snapshotAt(spark, t, Some(0L)).fileSet.count == 1)
  }

  test("chained(): edge shapes fall back (None); foreign fields never carry forward") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t) // v0 — a real prev crc exists
    val logDir = new org.apache.hadoop.fs.Path(t, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val pre = Some(DeltaSnapshotReader.snapshot(spark, t))
    def chained(version: Long, lines: String*) =
      Checksum.chained(spark, fs, logDir, if (version == 0L) None else pre, version, lines)
    val add = """{"add":{"path":"x.parquet","partitionValues":{},"size":100,"modificationTime":1,"dataChange":true}}"""
    val commitInfo = """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}"""
    val cdc = """{"cdc":{"path":"_change_data/c.parquet","partitionValues":{},"size":5,"dataChange":false}}"""
    // happy path: arithmetic against the real v0 crc; commitInfo and cdc
    // lines are known actions that leave the state alone; no allFiles echo
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val inc = chained(1L, commitInfo, add, cdc)
    assert(inc.isDefined)
    val node = om.readTree(inc.get)
    assert(node.get("numFiles").asLong == 2)
    assert(!node.has("allFiles"), "path (b) writes no allFiles echo")
    // remove WITHOUT size (a foreign writer's shape) → fallback
    assert(chained(1L, """{"remove":{"path":"x","dataChange":true}}""").isEmpty)
    // unknown action → fallback (never guess)
    assert(chained(1L, """{"futureAction":{"x":1}}""").isEmpty)
    // negative intermediate (remove more bytes than the table has) → fallback
    assert(chained(1L, """{"remove":{"path":"x","dataChange":true,"size":999999999999}}""").isEmpty)
    // torn previous crc → fallback
    hadoopWrite(t, 0, """{"numFi""")
    assert(chained(1L, add).isEmpty)
    // missing previous crc → fallback
    Files.delete(crcFile(t, 0))
    assert(chained(1L, add).isEmpty)
    // v0 without a metaData action → fallback (the echo would be junk)
    assert(chained(0L, add).isEmpty)
    // FOREIGN prev crc WITHOUT setDigest (delta-spark's VersionChecksum):
    // the XOR chain cannot start mid-stream → fallback to replay, which
    // restarts the chain with a fresh digest (r14)
    hadoopWrite(t, 0,
      """{"tableSizeBytes":500,"numFiles":1,"numMetadata":1,"numProtocol":1,""" +
        """"allFiles":[{"path":"a.parquet","size":500}],"setTransactions":[{"appId":"s","version":7}],""" +
        """"txnId":"abc","protocol":{"minReaderVersion":1,"minWriterVersion":2},""" +
        """"metadata":{"partitionColumns":[],"configuration":{},"schemaString":"{\"type\":\"struct\",\"fields\":[]}",""" +
        """"format":{"provider":"parquet","options":{}}}}""")
    assert(chained(1L, add).isEmpty, "a digest-less foreign chain must fall back to replay")
    // same foreign crc WITH a digest: arithmetic proceeds, but none of the
    // foreign state may survive into the new crc under the new version
    hadoopWrite(t, 0,
      """{"tableSizeBytes":500,"numFiles":1,"setDigest":0,"numMetadata":1,"numProtocol":1,""" +
        """"allFiles":[{"path":"a.parquet","size":500}],"setTransactions":[{"appId":"s","version":7}],""" +
        """"txnId":"abc","protocol":{"minReaderVersion":1,"minWriterVersion":2},""" +
        """"metadata":{"partitionColumns":[],"configuration":{},"schemaString":"{\"type\":\"struct\",\"fields\":[]}",""" +
        """"format":{"provider":"parquet","options":{}}}}""")
    val out = om.readTree(chained(1L, add).get)
    assert(out.get("numFiles").asLong == 2 && out.get("tableSizeBytes").asLong == 600)
    assert(out.get("setDigest").asLong == DeltaFileSet.fileDigest("x.parquet", 100L),
      "digest arithmetic: 0 XOR h(add) == h(add)")
    // the foreign echo is never adopted: path (b) writes no echo at all
    for (stale <- Seq("setTransactions", "txnId", "allFiles"))
      assert(!out.has(stale), s"foreign field '$stale' carried forward")
    // protocol and metaData come from the snapshot the commit was made on,
    // never from the previous crc's echo
    assert(out.get("metadata").get("schemaString").asText == pre.get.schema.json)
    assert(out.get("metadata").get("id").asText == pre.get.metadataId.get)
    // ...or from the commit's own lines, which win over it
    val meta = om.readTree(chained(1L, add,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"${pre.get.metadataId.get}","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${DeltaWriter.q(pre.get.schema.json)},"partitionColumns":[],""" +
        """"configuration":{"k":"v"},"createdTime":7}}""").get)
    assert(meta.get("protocol").get("minWriterVersion").asInt == 4)
    assert(meta.get("metadata").get("configuration").get("k").asText == "v")
    assert(meta.get("metadata").get("createdTime").asLong == 7)
    // a protocol-only commit keeps pre's metaData
    val proto = om.readTree(chained(1L, """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""").get)
    assert(proto.get("protocol").get("minWriterVersion").asInt == 4)
    assert(proto.get("metadata").get("schemaString").asText == pre.get.schema.json)
    // foreign prev WITHOUT the state aggregates → fallback
    hadoopWrite(t, 0, """{"txnId":"abc"}""")
    assert(chained(1L, add).isEmpty)
  }

  test("fileDigest == Spark's codegen'd xxhash64(path, size) — the two forms must agree") {
    // the incremental crc arithmetic hashes in pure JVM while render() and
    // validate() hash distributed; a drift between the two forms would
    // make every incremental crc refuse its own replay
    import spark.implicits._
    val rows = Seq(("part-0001.parquet", 123L), ("o_year=1997/x.parquet", 0L),
      ("ü/päth €scaped.parquet", Long.MaxValue), ("", 7L))
    val got = rows.toDF("path", "size")
      .selectExpr("xxhash64(path, coalesce(size, 0L)) as h")
      .as[Long].collect().toSeq
    val want = rows.map { case (p, sz) => DeltaFileSet.fileDigest(p, sz) }
    assert(got == want, s"JVM $want vs Spark $got")
  }

  test("setDigest catches OFFSETTING corruption that numFiles+tableSizeBytes miss") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)  // v0: file A
    DeltaWriter.write(df(10, 20), t) // v1: file B
    // Tamper the LOG, not the crc: rename v1's added path to an equal-SIZE
    // phantom. Replay now yields the same count and the same byte total —
    // the two r13 aggregates both pass — but the {(path,size)} identity
    // digest moves (VERDICT r13 #2's offsetting class).
    val v1 = Paths.get(t, "_delta_log", f"${1L}%020d.json")
    val txt = new String(Files.readAllBytes(v1), "UTF-8")
    val pathRe = """"add":\{"path":"([^"]+)"""".r
    val orig = pathRe.findFirstMatchIn(txt).get.group(1)
    val bad = txt.replace("\"path\":\"" + orig + "\"",
      "\"path\":\"" + orig.replaceAll("part-", "evil-") + "\"")
    assert(bad != txt)
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(t + "/_delta_log", f"${1L}%020d.json"), true)
    try out.write(bad.getBytes(StandardCharsets.UTF_8)) finally out.close()
    DeltaSnapshotReader.invalidate(t)
    val e = intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshot(spark, t).fileSet.count
    }
    assert(e.getMessage.contains("setDigest"), e.getMessage)
    assert(e.getMessage.contains("offsetting"), e.getMessage)
  }

  test("incremental digest equals replay digest across append/delete/optimize chains") {
    val t = newTable()
    DeltaWriter.write(df(0, 1000), t)
    DeltaWriter.write(df(1000, 2000), t)
    DeltaWriter.delete(spark, t, org.apache.spark.sql.functions.col("id") < 500)
    DeltaWriter.optimize(spark, t)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = DeltaSnapshotReader.latestVersion(spark, t)
    for (v <- 0L to latest) {
      val crc = om.readTree(new String(Files.readAllBytes(crcFile(t, v)), "UTF-8"))
      assert(crc.has("setDigest"), s"v$v crc missing setDigest")
      val snap = DeltaSnapshotReader.snapshotAt(spark, t, Some(v))
      assert(crc.get("setDigest").asLong == snap.fileSet.setDigest,
        s"v$v: crc digest vs independent replay digest")
    }
    // foreign crc without setDigest: validation tolerates, arithmetic
    // falls back to replay for the NEXT commit (chain restarts cleanly)
    val txt = new String(Files.readAllBytes(crcFile(t, latest)), "UTF-8")
    hadoopWrite(t, latest, txt.replaceFirst(""""setDigest":-?\d+,""", ""))
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.snapshot(spark, t).version == latest) // no refusal
    DeltaWriter.write(df(2000, 2100), t) // next commit replays, re-emits digest
    val healed = om.readTree(new String(
      Files.readAllBytes(crcFile(t, latest + 1)), "UTF-8"))
    assert(healed.has("setDigest"))
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.snapshotAt(spark, t, Some(latest + 1))
      .fileSet.setDigest == healed.get("setDigest").asLong)
  }

  test("small-table crc embeds a complete allFiles echo, incrementally maintained") {
    val t = newTable()
    DeltaWriter.write(df(0, 1000), t)
    DeltaWriter.write(df(1000, 2000), t)
    DeltaWriter.delete(spark, t, org.apache.spark.sql.functions.col("id") < 500)
    // a DV delete re-adds the same path with a descriptor: the echo entry
    // must update in place, not vanish or duplicate
    DeltaWriter.deleteWithDV(spark, t, org.apache.spark.sql.functions.col("id") % 7 === 0)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = DeltaSnapshotReader.latestVersion(spark, t)
    for (v <- 0L to latest) {
      val crc = om.readTree(new String(Files.readAllBytes(crcFile(t, v)), "UTF-8"))
      assert(crc.has("allFiles"), s"v$v crc missing allFiles echo")
      val arr = crc.get("allFiles")
      assert(arr.size().toLong == crc.get("numFiles").asLong, s"v$v echo length")
      // the echo names exactly the files an independent replay derives
      import scala.jdk.CollectionConverters._
      val echoSet = arr.elements().asScala
        .map(e => (e.get("path").asText, e.get("size").asLong)).toSet
      val snap = DeltaSnapshotReader.snapshotAt(spark, t, Some(v))
      assert(echoSet == snap.fileSet.collected.map(f => (f.path, f.size)).toSet,
        s"v$v echo vs replay")
      // echo entries restate state: dataChange must be false on every one
      arr.elements().asScala.foreach(e =>
        assert(!e.get("dataChange").asBoolean(true), s"v$v dataChange"))
    }
    // the DV-delete version's echo carries the descriptor
    val dvArr = om.readTree(new String(
      Files.readAllBytes(crcFile(t, latest)), "UTF-8")).get("allFiles")
    import scala.jdk.CollectionConverters._
    assert(dvArr.elements().asScala.exists(e => e.has("deletionVector")),
      "DV re-add entry lost its deletionVector in the echo")
  }

  test("allFiles echo absent above the threshold; tampered echo refuses") {
    val t = newTable()
    DeltaWriter.write((0L until 2000L).map(i => (i, s"r$i")).toDF("id", "s")
      .repartition(40), t) // 40 files > threshold
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val crc0 = om.readTree(new String(Files.readAllBytes(crcFile(t, 0)), "UTF-8"))
    assert(crc0.get("numFiles").asLong > Checksum.AllFilesEchoThreshold)
    assert(!crc0.has("allFiles"), "echo must be absent above the threshold")
    // small table: tamper ONE echo path (keep count/bytes/digest intact) →
    // the set comparison refuses
    val t2 = newTable()
    DeltaWriter.write(df(0, 10), t2)
    val p = crcFile(t2, 0)
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    val m = """"allFiles":\[\{"path":"([^"]+)"""".r.findFirstMatchIn(txt)
    assert(m.isDefined, s"no allFiles in $txt")
    val bad = txt.replace("\"path\":\"" + m.get.group(1) + "\"",
      "\"path\":\"" + m.get.group(1).replaceAll("part-", "evil-") + "\"")
    assert(bad != txt)
    hadoopWrite(t2, 0, bad)
    DeltaSnapshotReader.invalidate(t2)
    val e = intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshot(spark, t2).fileSet.count
    }
    assert(e.getMessage.contains("allFiles"), e.getMessage)
  }

  test("concurrent first accesses: no thread slips past a failing validation") {
    // the race the r14 review caught: clearing the validator BEFORE running
    // it let a second thread hit the fast path and serve add rows while a
    // FAILING validation was still in flight. Now concurrent readers block
    // until validation settles — on a tampered table every one of them
    // must refuse, none may observe a count.
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    val p = crcFile(t, 0)
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    hadoopWrite(t, 0, txt.replaceFirst(""""numFiles":\d+""", "\"numFiles\":99"))
    DeltaSnapshotReader.invalidate(t)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            gate.await()
            try s"served:${snap.fileSet.count}"
            catch { case _: Checksum.ChecksumMismatchException => "refused" }
          }
        })
      }
      gate.countDown() // all 8 threads race the first access together
      val outs = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(outs.forall(_ == "refused"), s"a thread saw data: $outs")
    } finally pool.shutdown()
  }

  test("write-path posture: state-dependent DML refuses over a tampered crc; blind append chains (delta-spark trust) and reads catch it") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    DeltaWriter.write(df(10, 20), t)
    val p = crcFile(t, 1)
    val good = new String(Files.readAllBytes(p), "UTF-8")
    hadoopWrite(t, 1, good.replaceFirst(""""numFiles":\d+""", "\"numFiles\":99"))
    DeltaSnapshotReader.invalidate(t)
    // state-DEPENDENT DML resolves its rewrite set through the file set →
    // the lazy validator fires and the commit refuses
    intercept[Checksum.ChecksumMismatchException] {
      DeltaWriter.delete(spark, t, org.apache.spark.sql.functions.col("id") < 5)
    }
    assert(DeltaSnapshotReader.latestVersion(spark, t) == 1, "refused DML must not commit")
    // a BLIND append never touches the file set: it commits (delta-spark's
    // incremental-checksum trust model) and its crc chains from the
    // tampered value...
    DeltaSnapshotReader.invalidate(t)
    DeltaWriter.write(df(20, 30), t)
    assert(DeltaSnapshotReader.latestVersion(spark, t) == 2)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val v2 = om.readTree(new String(Files.readAllBytes(crcFile(t, 2)), "UTF-8"))
    assert(v2.get("numFiles").asLong == 100, "append chains incrementally from the tampered prev crc")
    // ...and the corruption is caught at the first data-plane READ
    DeltaSnapshotReader.invalidate(t)
    intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.load(spark, t).count()
    }
    // recovery: crcs are DERIVED state — deleting the bad artifacts heals
    // the table, and the next commit re-seeds the chain by replay
    Files.delete(crcFile(t, 1)); Files.delete(crcFile(t, 2))
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 30)
    DeltaWriter.write(df(30, 35), t)
    val v3 = om.readTree(new String(Files.readAllBytes(crcFile(t, 3)), "UTF-8"))
    assert(v3.get("numFiles").asLong == DeltaSnapshotReader
      .snapshotAt(spark, t, Some(3L)).fileSet.count, "replay re-seeds the chain")
  }

  test("metaData.id is STABLE table identity; the crc echoes it (ADVICE r13)") {
    val t = newTable()
    DeltaWriter.write(df(0, 10), t) // v0 mints the id
    val id0 = DeltaSnapshotReader.snapshot(spark, t).metadataId
    val created0 = DeltaSnapshotReader.snapshot(spark, t).metadataCreatedTime
    assert(id0.isDefined && created0.isDefined)
    // metadata re-publications must carry the SAME identity
    DeltaWriter.setProperties(spark, t, Map("graft.test.prop" -> "1"))
    DeltaSnapshotReader.invalidate(t)
    val snap1 = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap1.metadataId == id0, "ALTER re-minted the table id")
    assert(snap1.metadataCreatedTime == created0, "ALTER changed createdTime")
    // schema evolution through write(mergeSchema) keeps it too
    DeltaWriter.write(
      df(10, 15).withColumn("extra", org.apache.spark.sql.functions.lit(1)),
      t, Nil, "append", mergeSchema = true)
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.snapshot(spark, t).metadataId == id0,
      "schema evolution re-minted the table id")
    // a checkpoint restates state: every form keeps the identity, read
    // back from the checkpoint itself (no JSON tail above it)
    def evolved(lo: Long, hi: Long) =
      df(lo, hi).withColumn("extra", org.apache.spark.sql.functions.lit(1))
    def assertCheckpointKeepsIdentity(what: String): Unit = {
      DeltaSnapshotReader.invalidate(t)
      val s = DeltaSnapshotReader.snapshot(spark, t)
      assert(Files.list(Paths.get(t, "_delta_log")).anyMatch(
        _.getFileName.toString.startsWith(f"${s.version}%020d.checkpoint")), s"$what: no checkpoint")
      assert(s.metadataId == id0, s"$what re-minted the table id")
      assert(s.metadataCreatedTime == created0, s"$what changed createdTime")
    }
    DeltaWriter.checkpoint(spark, t)
    assertCheckpointKeepsIdentity("checkpoint()")
    DeltaWriter.write(evolved(15, 16), t)
    DeltaWriter.checkpoint(spark, t, parts = 2)
    assertCheckpointKeepsIdentity("checkpoint(parts = 2)")
    while (DeltaSnapshotReader.latestVersion(spark, t) < 10L)
      DeltaWriter.write(evolved(16, 17), t) // v10 checkpoints automatically
    assertCheckpointKeepsIdentity("the automatic checkpoint")
    DeltaWriter.checkpointV2(spark, t)
    assertCheckpointKeepsIdentity("checkpointV2")
    // and the crc's metadata echo is a COMPLETE Metadata action: id +
    // createdTime present at every version, on both the replay-rendered
    // v0 crc and the incrementally-maintained later crcs
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    for (v <- 0L to DeltaSnapshotReader.latestVersion(spark, t)) {
      val meta = om.readTree(
        new String(Files.readAllBytes(crcFile(t, v)), "UTF-8")).get("metadata")
      assert(meta.has("id") && meta.get("id").asText == id0.get, s"v$v echo id")
      assert(meta.has("createdTime") &&
        meta.get("createdTime").asLong == created0.get, s"v$v echo createdTime")
    }
  }

  test("crc tracks DML and maintenance state transitions") {
    val t = newTable()
    DeltaWriter.write(df(0, 1000), t)
    DeltaWriter.write(df(1000, 2000), t)
    DeltaWriter.write(df(2000, 3000), t)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def nf(v: Long) = om.readTree(
      new String(Files.readAllBytes(crcFile(t, v)), "UTF-8")).get("numFiles").asLong
    assert(nf(2) == 3)
    // DV delete replaces adds in place: numFiles unchanged
    DeltaWriter.deleteWithDV(spark, t, org.apache.spark.sql.functions.col("id") % 7 === 0)
    assert(nf(3) == nf(2), s"DV delete: ${nf(2)} -> ${nf(3)}")
    // CoW delete: whatever rewrite shape the DML chose, the crc agrees
    // with an independent replay of the post-delete version
    val t2 = newTable()
    DeltaWriter.write(df(0, 10), t2)
    DeltaWriter.write(df(10, 20), t2)
    DeltaWriter.delete(spark, t2, org.apache.spark.sql.functions.col("id") < 10)
    def nf2(v: Long) = om.readTree(
      new String(Files.readAllBytes(crcFile(t2, v)), "UTF-8")).get("numFiles").asLong
    assert(nf2(2) == DeltaSnapshotReader.snapshotAt(spark, t2, Some(2L)).fileSet.count,
      s"CoW delete: crc ${nf2(2)} vs replay")
    // OPTIMIZE (DV-free table) compacts: 2 small files -> 1, crc tracks it
    val t3 = newTable()
    DeltaWriter.write(df(0, 10), t3)
    DeltaWriter.write(df(10, 20), t3)
    assert(DeltaWriter.optimize(spark, t3).isDefined)
    def nf3(v: Long) = om.readTree(
      new String(Files.readAllBytes(crcFile(t3, v)), "UTF-8")).get("numFiles").asLong
    assert(nf3(2) == 1, s"OPTIMIZE compacts: ${nf3(1)} -> ${nf3(2)}")
    // every crc written along the way validates against its own replay
    for (v <- 0L to 3L) {
      val snap = DeltaSnapshotReader.snapshotAt(spark, t, Some(v))
      assert(snap.fileSet.count == nf(v), s"v$v")
    }
  }

  test("crc carries a file-size histogram, incrementally maintained; sums re-agree with the scalar aggregates (VERDICT r14 #5)") {
    val t = newTable()
    DeltaWriter.write(df(0, 1000), t)
    DeltaWriter.write(df(1000, 2000), t)
    DeltaWriter.delete(spark, t, org.apache.spark.sql.functions.col("id") < 500)
    DeltaWriter.deleteWithDV(spark, t, org.apache.spark.sql.functions.col("id") % 7 === 0)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val latest = DeltaSnapshotReader.latestVersion(spark, t)
    import scala.jdk.CollectionConverters._
    for (v <- 0L to latest) {
      val crc = om.readTree(new String(Files.readAllBytes(crcFile(t, v)), "UTF-8"))
      assert(crc.has("histogramOpt"), s"v$v crc missing histogramOpt")
      val h = crc.get("histogramOpt")
      def vs(f: String) = h.get(f).elements().asScala.map(_.asLong()).toSeq
      val (bounds, counts, bytes) =
        (vs("sortedBinBoundaries"), vs("fileCounts"), vs("totalBytes"))
      assert(bounds == bounds.sorted && bounds.head == 0L)
      assert(counts.length == bounds.length && bytes.length == bounds.length)
      assert(counts.sum == crc.get("numFiles").asLong, s"v$v count sum")
      assert(bytes.sum == crc.get("tableSizeBytes").asLong, s"v$v byte sum")
      // and the buckets equal an independent replay's
      val snap = DeltaSnapshotReader.snapshotAt(spark, t, Some(v))
      val (gc, gb) = snap.fileSet.sizeHistogram(bounds.toArray)
      assert(gc.toSeq == counts && gb.toSeq == bytes, s"v$v buckets vs replay")
    }
  }

  test("histogram tamper refuses even when every other aggregate agrees; foreign bins and absence tolerated; malformed shape refuses") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def editCrc(t: String)(edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
      val root = om.readTree(new String(Files.readAllBytes(crcFile(t, 0)), "UTF-8"))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      edit(root)
      hadoopWrite(t, 0, om.writeValueAsString(root))
      DeltaSnapshotReader.invalidate(t)
    }
    // offsetting tamper: move one file's count+bytes from its bucket to a
    // neighbor — numFiles, tableSizeBytes, setDigest and the histogram's
    // own sums ALL still agree; only the bucket recompute sees it
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    editCrc(t) { root =>
      val h = root.get("histogramOpt").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val counts = h.get("fileCounts").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val bytes = h.get("totalBytes").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val i = (0 until counts.size()).find(counts.get(_).asLong() > 0).get
      val cs = (0 until counts.size()).map(counts.get(_).asLong()).toArray
      val bs = (0 until bytes.size()).map(bytes.get(_).asLong()).toArray
      val j = if (i + 1 < cs.length) i + 1 else i - 1
      cs(j) += cs(i); bs(j) += bs(i); cs(i) = 0; bs(i) = 0
      counts.removeAll(); cs.foreach(counts.add)
      bytes.removeAll(); bs.foreach(bytes.add)
    }
    val e = intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshot(spark, t).fileSet.count
    }
    assert(e.getMessage.contains("histogram"), e.getMessage)
    // foreign bins: a 2-bucket histogram with CORRECT values validates
    val t2 = newTable()
    DeltaWriter.write(df(0, 10), t2)
    val snap2 = DeltaSnapshotReader.snapshot(spark, t2)
    val (nf2, bytes2, _) = snap2.fileSet.countBytesDigest
    editCrc(t2) { root =>
      val h = om.createObjectNode()
      def put(f: String, vs: Seq[Long]): Unit = {
        val a = om.createArrayNode(); vs.foreach(a.add)
        h.set[com.fasterxml.jackson.databind.JsonNode](f, a)
      }
      put("sortedBinBoundaries", Seq(0L, 1L << 40)) // everything in bucket 0
      put("fileCounts", Seq(nf2, 0L))
      put("totalBytes", Seq(bytes2, 0L))
      root.set[com.fasterxml.jackson.databind.JsonNode]("histogramOpt", h)
    }
    assert(DeltaSnapshotReader.snapshot(spark, t2).fileSet.count == nf2)
    // absence tolerated (foreign crcs never carry one)
    editCrc(t2)(_.remove("histogramOpt"))
    assert(DeltaSnapshotReader.snapshot(spark, t2).fileSet.count == nf2)
    // declared-but-malformed shape refuses loudly
    editCrc(t2) { root =>
      val h = om.createObjectNode()
      val a = om.createArrayNode(); a.add(0L)
      h.set[com.fasterxml.jackson.databind.JsonNode]("sortedBinBoundaries", a)
      root.set[com.fasterxml.jackson.databind.JsonNode]("histogramOpt", h)
    }
    val e2 = intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshot(spark, t2).fileSet.count
    }
    assert(e2.getMessage.contains("malformed"), e2.getMessage)
  }

  test("echo validation is FULL-entry: a corrupted DV descriptor or stats inside an entry refuses even when (path, size) agree (ADVICE r14)") {
    val t = newTable()
    DeltaWriter.write(df(0, 100), t)
    DeltaWriter.deleteWithDV(spark, t, org.apache.spark.sql.functions.col("id") % 7 === 0)
    val latest = DeltaSnapshotReader.latestVersion(spark, t)
    val txt = new String(Files.readAllBytes(crcFile(t, latest)), "UTF-8")
    assert(txt.contains("\"cardinality\""), s"fixture must carry a DV echo: $txt")
    // tamper ONLY the DV cardinality — numFiles/bytes/setDigest and the
    // echo's (path, size) all still agree; only a full-entry compare sees it
    val m = """"cardinality":(\d+)""".r.findFirstMatchIn(txt).get
    val bad = txt.replace(s""""cardinality":${m.group(1)}""",
      s""""cardinality":${m.group(1).toLong + 1}""")
    assert(bad != txt)
    hadoopWrite(t, latest, bad)
    DeltaSnapshotReader.invalidate(t)
    val e = intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshot(spark, t).fileSet.count
    }
    assert(e.getMessage.contains("allFiles"), e.getMessage)
    // same for a flipped digit inside the stats payload
    val t2 = newTable()
    DeltaWriter.write(df(0, 100), t2)
    val txt2 = new String(Files.readAllBytes(crcFile(t2, 0)), "UTF-8")
    val s = """numRecords\\":(\d+)""".r.findFirstMatchIn(txt2)
    assert(s.isDefined, s"fixture stats must carry numRecords: $txt2")
    // the echo's stats value is an ESCAPED JSON string: the raw text reads
    // numRecords\":100 (one backslash before the quote)
    val bad2 = txt2.replace("numRecords\\\":" + s.get.group(1),
      "numRecords\\\":" + (s.get.group(1).toLong + 1))
    assert(bad2 != txt2)
    hadoopWrite(t2, 0, bad2)
    DeltaSnapshotReader.invalidate(t2)
    intercept[Checksum.ChecksumMismatchException] {
      DeltaSnapshotReader.snapshot(spark, t2).fileSet.count
    }
    // ...while a byte-identical rewrite still validates (no false refusal)
    val t3 = newTable()
    DeltaWriter.write(df(0, 100), t3)
    hadoopWrite(t3, 0, new String(Files.readAllBytes(crcFile(t3, 0)), "UTF-8"))
    DeltaSnapshotReader.invalidate(t3)
    assert(DeltaSnapshotReader.snapshot(spark, t3).fileSet.count > 0)
  }

  test("poison outlives validator-side materialization: EVERY accessor rethrows after an echo refusal (ADVICE r14)") {
    // the echo comparison itself calls collected(), memoizing the driver
    // list mid-validation BEFORE the mismatch throws — the materialized
    // fast branches must still refuse afterwards, not silently serve it
    val t = newTable()
    DeltaWriter.write(df(0, 10), t)
    val txt = new String(Files.readAllBytes(crcFile(t, 0)), "UTF-8")
    val m = """"allFiles":\[\{"path":"([^"]+)"""".r.findFirstMatchIn(txt)
    assert(m.isDefined, s"no allFiles in $txt")
    hadoopWrite(t, 0, txt.replace("\"path\":\"" + m.get.group(1) + "\"",
      "\"path\":\"" + m.get.group(1).replaceAll("part-", "evil-") + "\""))
    DeltaSnapshotReader.invalidate(t)
    val fileSet = DeltaSnapshotReader.snapshot(spark, t).fileSet
    intercept[Checksum.ChecksumMismatchException] { fileSet.count }
    // every accessor — including the materialized fast branches the
    // validator's own collect armed — keeps refusing
    intercept[Checksum.ChecksumMismatchException] { fileSet.collected }
    intercept[Checksum.ChecksumMismatchException] { fileSet.paths }
    intercept[Checksum.ChecksumMismatchException] { fileSet.filterCollect(_ => true) }
    intercept[Checksum.ChecksumMismatchException] { fileSet.dvFiles }
    intercept[Checksum.ChecksumMismatchException] { fileSet.pathsIterator }
    intercept[Checksum.ChecksumMismatchException] { fileSet.df }
    intercept[Checksum.ChecksumMismatchException] { fileSet.countBytesDigest }
    intercept[Checksum.ChecksumMismatchException] { fileSet.hasDeletionVectors }
  }
}
