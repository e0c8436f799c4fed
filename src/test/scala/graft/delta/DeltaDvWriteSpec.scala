package graft.delta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Writer-side deletion vectors: DELETE marks row indexes in a roaring
  * bitmap instead of rewriting files. Covers bitmap round-trip through the
  * serializer, DV union on repeated deletes, full-file deletion → plain
  * remove, protocol upgrade, checkpoint survival, interplay with CoW DML /
  * OPTIMIZE / ZORDER, and the same-version remove+add replay rule. */
class DeltaDvWriteSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("graft_dvw").toString + "/tbl"

  /** 2 files: ids 0-9 (file A) and 10-19 (file B). */
  private def mkTable(): String = {
    val t = newTable()
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaWriter.write((10L until 20L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    t
  }

  test("serializer round-trips through the deserializer incl. bitmap containers") {
    val small = Array(1L, 3L, 4464L, 70000L, (1L << 32) | 5L)
    val a = DeletionVectors.deserialize(DeletionVectors.serialize(small))
    small.foreach(v => assert(a.contains(v), s"missing $v"))
    assert(!a.contains(2L) && !a.contains(70001L) && !a.contains((1L << 32) | 6L))
    assert(a.toArray.toSeq == small.toSeq)
    // > 4096 values in one 64k chunk → bitmap container
    val big = (0L until 65536L by 2L).toArray
    val b = DeletionVectors.deserialize(DeletionVectors.serialize(big))
    assert(b.contains(0L) && b.contains(65534L) && !b.contains(1L))
    assert(b.toArray.length == big.length)
  }

  test("deleteWithDV deletes rows without rewriting data files; repeated deletes union") {
    val t = mkTable()
    val before = DeltaSnapshotReader.snapshot(spark, t).files.map(f => f.path -> f.size).toMap
    DeltaWriter.deleteWithDV(spark, t, col("id").isin(1L, 3L, 12L))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // same data files, now carrying DVs — no rewrite happened
    assert(snap.files.map(_.path).toSet == before.keySet)
    snap.files.foreach(f => assert(f.size == before(f.path)))
    assert(snap.files.flatMap(_.deletionVector).map(_.cardinality).sum == 3L)
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet ==
      (0L until 20L).toSet -- Set(1L, 3L, 12L))
    // protocol upgraded to reader 3 + deletionVectors
    val p = snap.protocol.get
    assert(p.minReaderVersion == 3 && p.readerFeatures.get.contains("deletionVectors"))
    // second delete unions into the existing DV
    DeltaWriter.deleteWithDV(spark, t, col("id") === 5L)
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet ==
      (0L until 20L).toSet -- Set(1L, 3L, 5L, 12L))
    val f0 = DeltaSnapshotReader.snapshot(spark, t).files
      .find(_.deletionVector.exists(_.cardinality == 3)).get
    assert(f0.deletionVector.get.cardinality == 3L) // {1,3,5} in file A
    // checkpoint keeps DVs and protocol
    DeltaWriter.checkpoint(spark, t)
    DeltaSnapshotReader.invalidate(t)
    val afterCp = DeltaSnapshotReader.snapshot(spark, t)
    assert(afterCp.protocol.get.minReaderVersion == 3)
    assert(DeltaSnapshotReader.load(spark, t).count() == 16L)
  }

  test("full-file DV deletion degenerates to a plain remove") {
    val t = mkTable()
    DeltaWriter.deleteWithDV(spark, t, col("id") < 10L)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.files.size == 1, snap.files.map(_.path))
    assert(snap.files.head.deletionVector.isEmpty)
    assert(DeltaSnapshotReader.load(spark, t).count() == 10L)
  }

  test("CoW DML and ZORDER materialize DVs; OPTIMIZE purges them (delta-spark semantics)") {
    val t = mkTable()
    DeltaWriter.deleteWithDV(spark, t, col("id") === 2L)
    // OPTIMIZE compacts the two files AND purges the DV (r16): the bin
    // read drops the masked row, the output sheds the vector
    DeltaWriter.optimize(spark, t, targetBytes = 1L << 30)
    val snapO = DeltaSnapshotReader.snapshot(spark, t)
    assert(snapO.files.size == 1 && snapO.files.forall(_.deletionVector.isEmpty),
      s"compaction should purge the DV: ${snapO.files}")
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet ==
      (0L until 20L).toSet - 2L)
    // the output's numRecords reflects the purge, never the raw inputs —
    // a merged-stats claim of 20 would silently overcount stats-only reads
    assert(snapO.files.head.stats.flatMap(DataSkipping.parse)
      .flatMap(_.numRecords).contains(19L))
    // CoW update keeps rewriting DV-aware
    DeltaWriter.update(spark, t, col("id") === 4L, Map("s" -> lit("updated")))
    val after = DeltaSnapshotReader.load(spark, t)
    assert(after.filter(col("s") === "updated").count() == 1L)
    assert(after.select("id").as[Long].collect().toSet == (0L until 20L).toSet - 2L)
    assert(DeltaSnapshotReader.snapshot(spark, t).files.forall(_.deletionVector.isEmpty))
    // ZORDER on a fresh DV table also materializes (reads through the relation)
    val t2 = mkTable()
    DeltaWriter.deleteWithDV(spark, t2, col("id") === 7L)
    DeltaWriter.zorder(spark, t2, Seq("id"), targetBytes = 1L << 20)
    assert(DeltaSnapshotReader.load(spark, t2).select("id").as[Long].collect().toSet ==
      (0L until 20L).toSet - 7L)
  }

  test("row-tracked OPTIMIZE through a DV purge keeps surviving ids") {
    val t = newTable()
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaWriter.write((10L until 20L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaWriter.enableRowTracking(spark, t)
    DeltaWriter.deleteWithDV(spark, t, col("id").isin(2L, 15L))
    val before = RowTracking.readWithRowIds(spark, t)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    DeltaWriter.optimize(spark, t, targetBytes = 1L << 30)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.files.size == 1 && snap.files.forall(_.deletionVector.isEmpty))
    val after = RowTracking.readWithRowIds(spark, t)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    assert(after.keySet == (0L until 20L).toSet -- Set(2L, 15L))
    // every surviving row keeps its stable id through the purge+compaction
    after.foreach { case (k, rid) =>
      assert(before(k) == rid, s"id moved for key $k: ${before(k)} -> $rid")
    }
  }

  test("lone DV file compacts only past maxDeletedRowsRatio; purge never re-qualifies") {
    val t = newTable()
    DeltaWriter.write((0L until 40L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaWriter.deleteWithDV(spark, t, col("id") === 0L)
    // 1/40 = 0.025 < 0.05: a 1-row mask must not trigger a full rewrite
    assert(DeltaWriter.optimize(spark, t, targetBytes = 1L << 30).isEmpty)
    assert(DeltaSnapshotReader.snapshot(spark, t).files
      .exists(_.deletionVector.isDefined))
    // 2/40 = 0.05 reaches the bar: the lone file rewrites and purges
    DeltaWriter.deleteWithDV(spark, t, col("id") === 1L)
    assert(DeltaWriter.optimize(spark, t, targetBytes = 1L << 30).isDefined)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.files.size == 1 && snap.files.forall(_.deletionVector.isEmpty))
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet ==
      (2L until 40L).toSet)
    // the purged file has no DV → another OPTIMIZE finds nothing to do
    assert(DeltaWriter.optimize(spark, t, targetBytes = 1L << 30).isEmpty)
  }

  test("DV filter preserves parquet pushdown and partition handling") {
    val t = mkTable()
    DeltaWriter.deleteWithDV(spark, t, col("id") === 2L)
    val df = DeltaSnapshotReader.load(spark, t).filter(col("id") > 15L)
    assert(df.select("id").as[Long].collect().toSet == (16L until 20L).toSet)
    val p = df.queryExecution.executedPlan.toString
    // the data predicate still reaches the parquet scan under the DV filter
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(id,15)"),
      s"pushdown lost under DV filter:\n$p")
  }

  test("REORG PURGE materializes DVs; VACUUM then reclaims the DV bins") {
    val t = mkTable()
    DeltaWriter.deleteWithDV(spark, t, col("id").isin(3L, 13L))
    assert(Files.list(java.nio.file.Paths.get(t)).toArray.map(_.toString)
      .exists(_.contains("deletion_vector_")), "expected a DV bin")
    val v = DeltaWriter.reorgPurge(spark, t)
    assert(v.isDefined)
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    assert(snap.files.forall(_.deletionVector.isEmpty), "purge left DVs behind")
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet ==
      (0L until 20L).toSet -- Set(3L, 13L))
    // purge is layout-only: the change feed sees no dataChange in that commit
    val purged = DeltaWriter.reorgPurge(spark, t)
    assert(purged.isEmpty, "second purge should be a no-op")
    // vacuum(0) reclaims both the replaced data files and the orphaned bins
    val deleted = DeltaWriter.vacuum(spark, t, retentionMs = 0L)
    assert(deleted.exists(_.startsWith("deletion_vector_")), deleted.mkString(","))
    assert(DeltaSnapshotReader.load(spark, t).count() == 18L)
  }

  test("updateWithDV masks originals in place and writes only replacement rows; unions with later DV DML") {
    val t = mkTable()
    val before = DeltaSnapshotReader.snapshot(spark, t).files.map(f => f.path -> f.size).toMap
    DeltaWriter.updateWithDV(spark, t, col("id").isin(1L, 3L, 12L), Map("s" -> lit("u")))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // the two originals survive byte-identical (now DV-masked), plus new
    // replacement file(s) carrying ONLY the 3 post-image rows
    val surviving = snap.files.filter(f => before.contains(f.path))
    assert(surviving.size == 2, snap.files.map(_.path))
    surviving.foreach(f => assert(f.size == before(f.path), s"${f.path} was rewritten"))
    assert(surviving.flatMap(_.deletionVector).map(_.cardinality).sum == 3L)
    val fresh = snap.files.filterNot(f => before.contains(f.path))
    assert(fresh.nonEmpty && fresh.forall(_.deletionVector.isEmpty))
    val freshRows = fresh.flatMap(_.stats.flatMap(DataSkipping.parse).flatMap(_.numRecords)).sum
    assert(freshRows == 3L, s"replacement files must hold exactly the matched rows, got $freshRows")
    // logical result: same 20 ids, 3 rows updated
    val got = DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 20L).toSet)
    assert(Set(1L, 3L, 12L).forall(got(_) == "u"))
    assert(got(2L) == "r2" && got(13L) == "r13")
    // protocol upgraded
    val p = snap.protocol.get
    assert(p.minReaderVersion == 3 && p.readerFeatures.get.contains("deletionVectors"))
    // a later DV delete unions into file A's existing mask
    DeltaWriter.deleteWithDV(spark, t, col("id") === 5L)
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet ==
      (0L until 20L).toSet - 5L)
    // and a second DV update touches the REPLACEMENT row where it lives now
    DeltaWriter.updateWithDV(spark, t, col("id") === 1L, Map("s" -> lit("u2")))
    val got2 = DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)].collect().toMap
    assert(got2(1L) == "u2" && got2(3L) == "u" && !got2.contains(5L))
  }

  test("full-file DV update degenerates to plain remove + replacement") {
    val t = mkTable()
    DeltaWriter.updateWithDV(spark, t, col("id") < 10L, Map("s" -> lit("u")))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // file A is fully superseded: removed outright, never re-added with a DV
    assert(snap.files.forall(_.deletionVector.isEmpty), snap.files.map(_.path))
    val got = DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 20L).toSet)
    assert((0L until 10L).forall(got(_) == "u") && (10L until 20L).forall(i => got(i) == s"r$i"))
  }

  test("mergeWithDV: matched rows masked + replaced, inserts land; REORG PURGE clears the DVs") {
    val t = mkTable()
    val before = DeltaSnapshotReader.snapshot(spark, t).files.map(f => f.path -> f.size).toMap
    val source = Seq((5L, "m5"), (12L, "m12"), (100L, "new")).toDF("id", "s")
    DeltaWriter.mergeWithDV(spark, t, source, Seq("id"))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    val surviving = snap.files.filter(f => before.contains(f.path))
    assert(surviving.size == 2 && surviving.forall(f => f.size == before(f.path)))
    assert(surviving.flatMap(_.deletionVector).map(_.cardinality).sum == 2L)
    val got = DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 20L).toSet + 100L)
    assert(got(5L) == "m5" && got(12L) == "m12" && got(100L) == "new" && got(6L) == "r6")
    // pure-insert merge masks nothing
    DeltaWriter.mergeWithDV(spark, t, Seq((200L, "new2")).toDF("id", "s"), Seq("id"))
    assert(DeltaSnapshotReader.snapshot(spark, t).files
      .flatMap(_.deletionVector).map(_.cardinality).sum == 2L)
    assert(DeltaSnapshotReader.load(spark, t).count() == 22L)
    // REORG PURGE materializes the merge-made DVs like any other
    assert(DeltaWriter.reorgPurge(spark, t).isDefined)
    val purged = DeltaSnapshotReader.snapshot(spark, t)
    assert(purged.files.forall(_.deletionVector.isEmpty))
    assert(DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)]
      .collect().toMap == got + (200L -> "new2"))
  }

  test("delta.enableDeletionVectors=true routes delete/update/merge through the DV legs") {
    val t = mkTable()
    DeltaWriter.setProperties(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    val before = DeltaSnapshotReader.snapshot(spark, t).files.map(f => f.path -> f.size).toMap
    DeltaWriter.delete(spark, t, col("id") === 2L)
    DeltaWriter.update(spark, t, col("id") === 4L, Map("s" -> lit("u")))
    DeltaWriter.merge(spark, t, Seq((7L, "m"), (300L, "new")).toDF("id", "s"), Seq("id"))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // every original byte survives — all three verbs masked instead of rewriting
    val surviving = snap.files.filter(f => before.contains(f.path))
    assert(surviving.size == 2 && surviving.forall(f => f.size == before(f.path)),
      s"a DML rewrote an original: ${snap.files.map(_.path)}")
    assert(surviving.flatMap(_.deletionVector).map(_.cardinality).sum == 3L) // {2}, {4}, {7}
    val got = DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 20L).toSet - 2L + 300L)
    assert(got(4L) == "u" && got(7L) == "m" && got(300L) == "new" && got(6L) == "r6")
  }

  test("write amplification: a selective DV UPDATE writes an order of magnitude fewer bytes than CoW") {
    // the reason the UPDATE/MERGE DV legs exist: on a 100 TB table a
    // 0.1%-selective UPDATE must not rewrite every touched file. Same
    // table, same predicate, both strategies — compare the bytes each
    // commit ADDED (replacement/rewrite parquet + DV bins).
    def bigTable(): String = {
      val t = newTable()
      DeltaWriter.write((0L until 200000L).map(i => (i, s"row-$i-payload-padding"))
        .toDF("id", "s").coalesce(1), t)
      t
    }
    // bytes the commit PHYSICALLY wrote: adds of fresh paths (a DV re-add
    // names the same untouched parquet — zero new bytes) plus DV bins
    def writtenBytes(t: String, v: Long): Long = {
      val before = DeltaSnapshotReader.snapshotAt(spark, t, Some(v - 1))
        .fileSet.paths.toSet
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val src = scala.io.Source.fromFile(
        java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json").toFile, "UTF-8")
      try src.getLines().flatMap { l =>
        Option(om.readTree(l).get("add")).map { a =>
          (if (before.contains(a.get("path").asText())) 0L else a.get("size").asLong()) +
            Option(a.get("deletionVector")).map(_.get("sizeInBytes").asLong()).getOrElse(0L)
        }
      }.sum
      finally src.close()
    }
    val cond = col("id") % 1000L === 0L // 200 of 200k rows
    val tCow = bigTable()
    val vCow = DeltaWriter.update(spark, tCow, cond, Map("s" -> lit("u")))
    val tDv = bigTable()
    val vDv = DeltaWriter.updateWithDV(spark, tDv, cond, Map("s" -> lit("u")))
    val (cowBytes, dvBytes) = (writtenBytes(tCow, vCow), writtenBytes(tDv, vDv))
    assert(dvBytes * 10 < cowBytes,
      f"DV update must write ≪ CoW: dv=$dvBytes%,d bytes vs cow=$cowBytes%,d bytes")
    // both strategies read back identically
    val a = DeltaSnapshotReader.load(spark, tCow).select("id", "s").as[(Long, String)].collect().toMap
    val b = DeltaSnapshotReader.load(spark, tDv).select("id", "s").as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("mergeClauses on a DV table: row-granular mask, keeps stay, full-file union goes") {
    val t = mkTable() // file A: ids 0-9, file B: ids 10-19
    DeltaWriter.setProperties(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    val before = DeltaSnapshotReader.snapshot(spark, t).files.map(f => f.path -> f.size).toMap
    DeltaWriter.mergeClauses(spark, t,
      Seq((2L, "m2"), (7L, "m7"), (12L, "m12"), (100L, "new")).toDF("id", "s"), Seq("id"),
      Seq(DeltaWriter.MatchedDelete(Some(col("t.id") < 5L)),
        DeltaWriter.MatchedUpdateAll(),
        DeltaWriter.NotMatchedInsertAll()))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // MIXED commit: both originals survive byte-identical (masked, never
    // rewritten) — 2 marked in A ({2 del, 7 upd}), 1 in B ({12 upd})
    val surviving = snap.files.filter(f => before.contains(f.path))
    assert(surviving.size == 2 && surviving.forall(f => f.size == before(f.path)),
      s"clause merge rewrote an original: ${snap.files.map(_.path)}")
    assert(surviving.flatMap(_.deletionVector).map(_.cardinality).sorted.toSeq == Seq(1L, 2L))
    val got = DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 20L).toSet - 2L + 100L)
    assert(got(7L) == "m7" && got(12L) == "m12" && got(100L) == "new" && got(6L) == "r6")

    // a later clause DELETE that supersedes EVERY live row of file B
    // unions with its existing DV → plain remove (gone), while the
    // replacement file from the first merge gets its own mask for key 12
    DeltaWriter.mergeClauses(spark, t,
      (10L until 20L).map(i => (i, "x")).toDF("id", "s"), Seq("id"),
      Seq(DeltaWriter.MatchedDelete()))
    val snap2 = DeltaSnapshotReader.snapshot(spark, t)
    val bPath = before.keySet -- snap2.files.map(_.path).toSet
    assert(bPath.size == 1, s"exactly file B must be gone, files=${snap2.files.map(_.path)}")
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().toSet ==
      Set(0L, 1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 100L))
  }

  test("BY SOURCE clauses on a DV table mask changed rows instead of rewriting the table") {
    val t = mkTable()
    DeltaWriter.setProperties(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    val before = DeltaSnapshotReader.snapshot(spark, t).files.map(f => f.path -> f.size).toMap
    DeltaWriter.mergeClauses(spark, t, Seq((5L, "u5")).toDF("id", "s"), Seq("id"),
      Seq(DeltaWriter.MatchedUpdateAll(),
        DeltaWriter.NotMatchedBySourceDelete(Some(col("t.id") >= 18L))))
    val snap = DeltaSnapshotReader.snapshot(spark, t)
    // BY SOURCE puts every target row in SCOPE, but only the 3 changed
    // rows move: both originals survive byte-identical with masks {5} and
    // {18,19}; CoW semantics would have rewritten both files wholesale
    val surviving = snap.files.filter(f => before.contains(f.path))
    assert(surviving.size == 2 && surviving.forall(f => f.size == before(f.path)),
      s"BY SOURCE clause rewrote an unchanged file: ${snap.files.map(_.path)}")
    assert(surviving.flatMap(_.deletionVector).map(_.cardinality).sorted.toSeq == Seq(1L, 2L))
    val got = DeltaSnapshotReader.load(spark, t).select("id", "s").as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 18L).toSet)
    assert(got(5L) == "u5" && got(17L) == "r17")
  }

  test("row-tracked DV clause merge: updates keep their stable id, inserts mint fresh") {
    val t = newTable()
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    DeltaWriter.enableRowTracking(spark, t)
    DeltaWriter.setProperties(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    val idsBefore = RowTracking.readWithRowIds(spark, t)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    DeltaWriter.mergeClauses(spark, t,
      Seq((3L, "u"), (50L, "n")).toDF("id", "s"), Seq("id"),
      Seq(DeltaWriter.MatchedUpdateAll(), DeltaWriter.NotMatchedInsertAll()))
    val after = RowTracking.readWithRowIds(spark, t)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    // keeps stay in place (ids trivially stable), the UPDATED row's
    // replacement carries the materialized id, the insert is fresh
    idsBefore.foreach { case (k, rid) => assert(after(k) == rid, s"id moved for key $k") }
    assert(after(50L) > idsBefore.values.max, s"insert id ${after(50L)} not fresh")
    assert(DeltaSnapshotReader.load(spark, t).filter(col("id") === 3L)
      .select("s").as[String].head() == "u")
  }

  test("identity table: explicit mergeWithDV auto-falls back to CoW identity semantics") {
    val t = newTable()
    DeltaWriter.write(Seq("a", "b", "c").toDF("s").coalesce(1), t,
      identity = Seq(IdentityColumns.Spec("rid", start = 10L, step = 5L)))
    DeltaWriter.setProperties(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    val ridA = DeltaSnapshotReader.load(spark, t).filter(col("s") === "a")
      .select("rid").as[Long].head()
    // no refusal: identity tables take the DV leg like any other table,
    // with the same identity rules as copy-on-write — matched keeps its
    // id, insert mints above the water mark
    DeltaWriter.mergeWithDV(spark, t, Seq("a", "zz").toDF("s"), Seq("s"))
    val got = DeltaSnapshotReader.load(spark, t)
      .select("s", "rid").as[(String, Long)].collect().toMap
    assert(got("a") == ridA, "matched row must keep its identity value")
    assert(got("zz") > 20L, s"insert must mint above the mark, got ${got("zz")}")
    // update() on the DV-enabled identity table also succeeds (the DV
    // UPDATE leg carries the identity mark-sync rules)
    DeltaWriter.update(spark, t, col("s") === "b", Map("s" -> lit("B")))
    assert(DeltaSnapshotReader.load(spark, t).filter(col("s") === "B").count() == 1L)
  }

  test("foreign same-version remove+add of one path replays as the add") {
    import java.nio.charset.StandardCharsets
    val t = newTable()
    DeltaWriter.write((0L until 5L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t)
    val snap0 = DeltaSnapshotReader.snapshot(spark, t)
    val f = snap0.files.head
    // hand-written v1: remove + re-add SAME path in one commit (what a DV
    // writer emits); the add must win regardless of action order
    val lines = Seq(
      s"""{"remove":{"path":"${f.path}","deletionTimestamp":1,"dataChange":true}}""",
      s"""{"add":{"path":"${f.path}","partitionValues":{},"size":${f.size},"modificationTime":2,"dataChange":true}}""")
    val dir = java.nio.file.Paths.get(t, "_delta_log")
    java.nio.file.Files.write(dir.resolve(f"${1L}%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    DeltaSnapshotReader.invalidate(t)
    assert(DeltaSnapshotReader.load(spark, t).count() == 5L)
  }

  test("RESTORE to before a DV DELETE brings the deleted rows back") {
    val t = newTable()
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t) // v0
    DeltaWriter.deleteWithDV(spark, t, col("id") < 3L)                                    // v1
    assert(DeltaSnapshotReader.load(spark, t).count() == 7L)
    DeltaWriter.restore(spark, t, 0L)                                                       // v2
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq == (0L until 10L))
  }

  test("RESTORE re-adds a file with the deletion vector the target version had") {
    val t = newTable()
    DeltaWriter.write((0L until 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), t) // v0
    DeltaWriter.deleteWithDV(spark, t, col("id") < 3L)                                    // v1
    DeltaWriter.delete(spark, t, lit(true))                                                 // v2
    assert(DeltaSnapshotReader.load(spark, t).count() == 0L)
    DeltaWriter.restore(spark, t, 1L)                                                       // v3
    assert(DeltaSnapshotReader.load(spark, t).select("id").as[Long].collect().sorted.toSeq == (3L until 10L))
  }
}
