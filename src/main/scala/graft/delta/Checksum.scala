package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** Per-commit snapshot checksum (`<version>.crc`) — the state-checksum
  * artifact delta-spark writes next to every commit (its VersionChecksum):
  * a one-line JSON recording the POST-commit table state (numFiles,
  * tableSizeBytes, protocol/metadata echo) so any later reader can cheaply
  * validate its own log replay and detect state corruption before serving
  * wrong answers. This was the last public `_delta_log` artifact a foreign
  * delta-spark reader would notice missing (VERDICT r12 #4).
  *
  * Contract:
  *  - Every successful commit emits a crc. The NORMAL path is pure-JVM
  *    incremental arithmetic — previous crc ± this commit's own actions,
  *    zero Spark jobs (see [[writeAfterCommit]]); commits outside the
  *    sound-arithmetic envelope fall back to the snapshot's DISTRIBUTED
  *    file-set aggregate ([[DeltaFileSet.countAndBytes]] — never a
  *    driver-side file list), so even the fallback stays metadata-plane
  *    at any table size. Emission is best-effort: the commit is already
  *    durable when the crc is computed, so a crc failure warns and moves
  *    on (the artifact is derived state — the next commit's crc covers
  *    the table again).
  *  - Snapshot load validates against the loaded version's crc when one
  *    exists: a VALUE mismatch (tampered or stale crc vs replayed state)
  *    refuses loudly with [[Checksum.ChecksumMismatchException]]; a
  *    MISSING crc is tolerated (foreign logs — delta-standalone and many
  *    writers never emit one); an UNPARSEABLE crc warns and is ignored (a
  *    crashed writer can leave a torn file — that must not brick the
  *    table, exactly delta-spark's tolerance). On tables at or under
  *    [[AllFilesEchoThreshold]] files the crc also embeds the complete
  *    `allFiles` add-set (delta-spark's small-table VersionChecksum shape
  *    — a foreign reader rebuilds state from the crc alone), maintained by
  *    the same incremental arithmetic and cross-checked as a set on
  *    validation. Validation runs LAZILY at
  *    the first file-set access ([[DeltaFileSet.armValidator]], ADVICE
  *    r13): metadata-plane callers (history loops, plan-only resolution)
  *    skip the aggregate entirely, while no data-plane consumer can see an
  *    add row before the check passes — a failure poisons the file set and
  *    rethrows on every later access.
  *  - Write-path posture under lazy validation: every state-DEPENDENT
  *    commit (UPDATE/DELETE/MERGE rewrite-set resolution, OPTIMIZE,
  *    RESTORE — anything that reads the file set to decide what to write)
  *    still validates before committing. A BLIND append does not touch
  *    the file set and therefore commits over a tampered crc; its own crc
  *    then chains incrementally from the tampered value — exactly
  *    delta-spark's incremental-checksum trust model — and the corruption
  *    is caught at the first data-plane READ of any affected version.
  *    Recovery is deleting the bad crc artifacts (derived state, never
  *    data); ChecksumSpec drills the full sequence.
  */
object Checksum {

  private val logger = org.apache.logging.log4j.LogManager.getLogger(getClass)

  final class ChecksumMismatchException(msg: String)
    extends IllegalStateException(msg)

  /** Small-table cutoff for the `allFiles` echo — delta-spark's
    * VersionChecksum embeds the complete add-set when the table is small
    * enough that the list is cheaper than a log replay, letting a foreign
    * reader rebuild state straight from the crc. Bounded so the crc stays
    * a metadata artifact: above this the field is simply absent (the
    * setDigest still covers file identity at any size). */
  val AllFilesEchoThreshold = 32L

  /** Default file-size histogram bin lower boundaries: bucket 0 plus
    * powers of two from 1 KiB to 256 GiB. delta-spark's VersionChecksum
    * carries `histogramOpt` {sortedBinBoundaries, fileCounts, totalBytes}
    * — the SHAPE is its contract; the boundaries are writer-declared and
    * validation recomputes against the crc's OWN declared boundaries, so
    * a foreign crc with different bins validates unchanged. The histogram
    * is the crc's layout summary (small-file skew, compaction debt) that
    * OPTIMIZE planning reads without replaying the log. */
  val DefaultHistogramBoundaries: Array[Long] =
    0L +: (10 to 38).map(1L << _).toArray

  def crcPath(logDir: Path, version: Long): Path =
    new Path(logDir, LogListing.crcName(version))

  private def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The crc body for a resolved snapshot — delta-spark field names so a
    * foreign reader that consumes VersionChecksum parses ours as-is. */
  private[delta] def render(snap: DeltaSnapshot): String = {
    val proto = snap.protocol.getOrElse(DeltaProtocol(1, 2))
    def feats(n: String, fs: Option[Seq[String]]) = fs
      .map(f => s""","$n":[${f.sorted.map(esc).mkString(",")}]""").getOrElse("")
    val protocolJson =
      s"""{"minReaderVersion":${proto.minReaderVersion},"minWriterVersion":${proto.minWriterVersion}""" +
        feats("readerFeatures", proto.readerFeatures) +
        feats("writerFeatures", proto.writerFeatures) + "}"
    val conf = snap.configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${esc(k)}:${esc(v)}" }.mkString("{", ",", "}")
    val parts = snap.partitionColumns.map(esc).mkString("[", ",", "]")
    // the echo is a COMPLETE Metadata action (delta-spark's VersionChecksum
    // embeds one): a foreign consumer deserializing it must see the table's
    // stable id + createdTime, not synthesize them (ADVICE r13)
    val idPart = snap.metadataId.map(i => s""""id":${esc(i)},""").getOrElse("")
    val createdPart = snap.metadataCreatedTime
      .map(t => s""","createdTime":$t""").getOrElse("")
    val metadataJson =
      s"""{$idPart"partitionColumns":$parts,"configuration":$conf,""" +
        s""""schemaString":${esc(snap.schema.json)},""" +
        s""""format":{"provider":"parquet","options":{}}$createdPart}"""
    // setDigest is a graft EXTENSION field (VERDICT r13 #2): an
    // order-independent XOR of xxhash64(path, size) over the add-set, so
    // state corruption that offsets itself in numFiles AND tableSizeBytes
    // (two swapped adds/removes, a path flip at equal size) still fails
    // validation. Foreign consumers ignore unknown fields; foreign crcs
    // without it validate on the two aggregates alone.
    val (nf, bytes, digest) = snap.fileSet.countBytesDigest
    // allFiles echo (delta-spark VersionChecksum parity): on small tables
    // the crc carries the complete add-set, so a foreign reader rebuilds
    // state from the crc alone. collected() is bounded here (nf ≤ threshold)
    val allFilesPart =
      if (nf > AllFilesEchoThreshold) ""
      else {
        val arr = om.createArrayNode()
        snap.fileSet.collected.foreach(f =>
          arr.add(echoAdd(f, snap.physicalFieldName)))
        s""""allFiles":${om.writeValueAsString(arr)},"""
      }
    // file-size histogram (delta-spark VersionChecksum histogramOpt
    // parity): per-bucket file counts + bytes over the add-set, from the
    // same pass as countBytesDigest above — the replay path already pays a
    // full log replay, and the NORMAL (incremental) path maintains the
    // buckets via pure arithmetic instead of calling render
    val (hc, hb) = snap.fileSet.sizeHistogram(DefaultHistogramBoundaries)
    val histPart = s""""histogramOpt":{"sortedBinBoundaries":[${DefaultHistogramBoundaries.mkString(",")}],""" +
      s""""fileCounts":[${hc.mkString(",")}],"totalBytes":[${hb.mkString(",")}]},"""
    s"""{"tableSizeBytes":$bytes,"numFiles":$nf,"setDigest":$digest,$allFilesPart$histPart""" +
      s""""numMetadata":1,"numProtocol":1,"protocol":$protocolJson,"metadata":$metadataJson}"""
  }

  /** Parse a crc's `histogramOpt` into (boundaries, counts, bytes);
    * None when absent or shape-malformed (length mismatch, unsorted or
    * negative boundaries) — the CALLER decides whether malformed is
    * tolerated (incremental adoption drops it) or refused (validation). */
  private[delta] def parseHistogram(n: com.fasterxml.jackson.databind.JsonNode)
      : Option[(Array[Long], Array[Long], Array[Long])] = {
    val h = n.get("histogramOpt")
    if (h == null || !h.isObject) return None
    def arr(f: String): Option[Array[Long]] = h.get(f) match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        import scala.jdk.CollectionConverters._
        val vs = a.elements().asScala.map(_.asLong()).toArray
        Some(vs)
      case _ => None
    }
    for {
      bounds <- arr("sortedBinBoundaries")
      counts <- arr("fileCounts")
      bytes <- arr("totalBytes")
      if bounds.nonEmpty && counts.length == bounds.length &&
        bytes.length == bounds.length && bounds(0) >= 0 &&
        bounds.indices.drop(1).forall(i => bounds(i) > bounds(i - 1))
    } yield (bounds, counts, bytes)
  }

  /** The histogram bin boundaries a crc artifact DECLARES (None when the
    * field is absent or shape-malformed) — consumers that re-derive
    * per-bucket values must bucket against the artifact's OWN bins, never
    * assume [[DefaultHistogramBoundaries]]: validation explicitly
    * tolerates foreign crcs with non-default bins, so a re-derivation
    * under default bins would disagree with the artifact it summarizes
    * (ADVICE r15). */
  def declaredHistogramBoundaries(
      n: com.fasterxml.jackson.databind.JsonNode): Option[Array[Long]] =
    parseHistogram(n).map(_._1)

  /** One [[AddFile]] as an `allFiles` echo entry — the add-action shape a
    * delta-spark VersionChecksum consumer deserializes (dataChange always
    * false inside a checksum: these lines restate state, they don't change
    * it). `phys` maps partition-value keys back to their on-disk form: the
    * replayed [[AddFile]] carries LOGICAL key names (the snapshot
    * normalizes them for downstream convenience) while actions — and
    * therefore the echo a foreign consumer deserializes — are keyed
    * PHYSICALLY on column-mapped tables (identity otherwise). */
  private def echoAdd(f: AddFile,
                      phys: String => String): com.fasterxml.jackson.databind.node.ObjectNode = {
    val n = om.createObjectNode()
    n.put("path", f.path)
    val pv = om.createObjectNode()
    f.partitionValues.toSeq.map { case (k, v) => (phys(k), v) }.sortBy(_._1)
      .foreach { case (k, v) =>
        if (v == null) pv.putNull(k) else pv.put(k, v)
      }
    n.set[com.fasterxml.jackson.databind.JsonNode]("partitionValues", pv)
    n.put("size", f.size)
    n.put("modificationTime", f.modificationTime)
    n.put("dataChange", false)
    f.stats.foreach(n.put("stats", _))
    f.deletionVector.foreach { d =>
      val dv = om.createObjectNode()
      dv.put("storageType", d.storageType)
      dv.put("pathOrInlineDv", d.pathOrInlineDv)
      dv.put("offset", d.offset)
      dv.put("sizeInBytes", d.sizeInBytes)
      dv.put("cardinality", d.cardinality)
      n.set[com.fasterxml.jackson.databind.JsonNode]("deletionVector", dv)
    }
    f.baseRowId.foreach(n.put("baseRowId", _))
    f.defaultRowCommitVersion.foreach(n.put("defaultRowCommitVersion", _))
    n
  }

  /** Canonical comparison form of one `allFiles` entry — EVERY state field
    * the echo carries, normalized with [[DeltaFileSet.decode]]'s
    * null/default rules so an entry that legally omits an optional field
    * (an offset-less DV descriptor, an absent stats string) compares equal
    * to the replayed [[AddFile]] holding the default. The echo is meant
    * for foreign readers to rebuild full state from the crc alone, so
    * validation must cover the full entry: a corrupted deletionVector
    * descriptor, partitionValues map or stats payload inside an echo line
    * is state corruption even when (path, size) still agree (ADVICE r14). */
  private def echoCanon(e: com.fasterxml.jackson.databind.JsonNode):
      (String, Seq[(String, String)], Long, Long, Option[String],
        Option[(String, String, Int, Int, Long)], Option[Long], Option[Long]) = {
    def opt(n: String) = Option(e.get(n)).filterNot(_.isNull)
    val pv = opt("partitionValues").toSeq.flatMap { o =>
      import scala.jdk.CollectionConverters._
      o.fields().asScala.map(f =>
        (f.getKey, if (f.getValue.isNull) null else f.getValue.asText())).toSeq
    }.sortBy(_._1)
    val dv = opt("deletionVector").flatMap { d =>
      Option(d.get("storageType")).filterNot(_.isNull).map { st =>
        def di(n: String) = Option(d.get(n)).filterNot(_.isNull).map(_.asInt()).getOrElse(0)
        (st.asText(),
          Option(d.get("pathOrInlineDv")).filterNot(_.isNull).map(_.asText()).orNull,
          di("offset"), di("sizeInBytes"),
          Option(d.get("cardinality")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L))
      }
    }
    (opt("path").map(_.asText()).getOrElse(""), pv,
      opt("size").map(_.asLong()).getOrElse(0L),
      opt("modificationTime").map(_.asLong()).getOrElse(0L),
      opt("stats").map(_.asText()),
      dv, opt("baseRowId").map(_.asLong()),
      opt("defaultRowCommitVersion").map(_.asLong()))
  }

  private def echoCanonOfAdd(f: AddFile, phys: String => String) =
    (f.path, f.partitionValues.toSeq.map { case (k, v) => (phys(k), v) }.sortBy(_._1),
      f.size, f.modificationTime,
      f.stats,
      f.deletionVector.map(d =>
        (d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)),
      f.baseRowId, f.defaultRowCommitVersion)

  /** A commit-line `add` node reshaped into an echo entry: same known
    * fields, `dataChange` forced false, engine-side/unknown fields dropped
    * (the echo must restate STATE, not replay the commit). */
  private def echoAddFromLine(a: com.fasterxml.jackson.databind.JsonNode):
      com.fasterxml.jackson.databind.node.ObjectNode = {
    val n = om.createObjectNode()
    val keep = Seq("path", "partitionValues", "size", "modificationTime",
      "stats", "deletionVector", "baseRowId", "defaultRowCommitVersion")
    keep.foreach { k =>
      Option(a.get(k)).filter(!_.isNull)
        .foreach(n.set[com.fasterxml.jackson.databind.JsonNode](k, _))
    }
    // field order parity with [[echoAdd]] is irrelevant to consumers;
    // dataChange sits after modificationTime there and here at the end
    n.put("dataChange", false)
    n
  }

  /** Emit the crc for freshly-committed `version`. Called from the one
    * transaction path ([[DeltaWriter]] `transact`), AFTER the commit is
    * durable. Never throws.
    *
    * The computation is INCREMENTAL whenever possible — exactly
    * delta-spark's discipline, and the reason its checksum costs nothing
    * per commit: new state = previous crc ± this commit's own actions,
    * pure JVM arithmetic with zero Spark jobs and zero log replay. The
    * arithmetic is sound because every remove line this writer emits
    * carries the removed file's `size`, removes only ever name ACTIVE
    * files, and adds only ever name fresh paths or paths removed in the
    * same commit (the DV re-add pairing, which RESTORE also uses for a
    * file whose deletion vector it changes) — the one op that re-adds
    * live paths without removes (row-tracking backfill) commits with a
    * streamed tail, and every commit with a tail takes the replay
    * fallback. metaData/protocol actions update the crc's echo from the
    * committed line itself. Everything else (a missing or torn previous
    * crc, a foreign remove without a size, any negative intermediate)
    * falls back to a log replay + the file set's state summary. */
  def writeAfterCommit(fs: FileSystem, logDir: Path, version: Long,
                       lines: Option[Seq[String]] = None): Unit =
    try {
      val body = lines.flatMap(incremental(fs, logDir, version, _))
        .getOrElse(renderByReplay(fs, logDir, version))
      if (body == null) return // no session for the replay path: skip
      val out = fs.create(crcPath(logDir, version), true)
      try out.write((body + "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case e: Exception =>
        logger.warn(s"crc write skipped for $logDir v$version: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Fallback: resolve the post-commit snapshot (advanced from the
    * writer's cached one when the driver holds it, else a replay; cached
    * for the post-commit reader either way) and render from its file
    * set's state summary. Returns null when no SparkSession is active
    * (bare-JVM callers). */
  private def renderByReplay(fs: FileSystem, logDir: Path, version: Long): String = {
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).orNull
    if (spark == null) return null
    render(DeltaSnapshotReader.snapshotAt(spark, logDir.getParent.toString, Some(version)))
  }

  /** Shared mapper: ObjectMapper is thread-safe for read/write and its
    * construction is the expensive part — this sits on every commit. */
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The incremental path: previous crc + this commit's lines → new crc
    * body, pure JVM. None = shape outside the sound-arithmetic envelope
    * (see [[writeAfterCommit]]); the caller falls back to replay.
    *
    * The output is REBUILT from scratch with exactly the fields [[render]]
    * writes — never a mutation of the previous crc node — so chaining
    * from a FOREIGN crc (delta-spark's VersionChecksum may embed
    * allFiles, setTransactions, txnId, …) can never carry that
    * now-stale state forward under the new version (code-review r13). */
  private[delta] def incremental(fs: FileSystem, logDir: Path, version: Long,
                                 lines: Seq[String]): Option[String] = try {
    var protocolNode: com.fasterxml.jackson.databind.JsonNode = null
    var metadataNode: com.fasterxml.jackson.databind.JsonNode = null
    var nf = 0L
    var bytes = 0L
    var digest = 0L
    // allFiles echo tracking: alive only while provably COMPLETE — v0
    // starts empty; v>0 adopts the previous echo iff its length equals the
    // previous numFiles. Anything doubtful kills tracking (the field is
    // then absent, which consumers tolerate; the next replay-rendered crc
    // reintroduces it) — an echo must never be emitted on a guess.
    var echo: scala.collection.mutable.LinkedHashMap[String,
      com.fasterxml.jackson.databind.JsonNode] =
      scala.collection.mutable.LinkedHashMap.empty
    // histogram tracking: v0 STARTS the buckets (all-zero, default bins);
    // v>0 adopts the previous crc's histogram — bucket counters are
    // incrementally maintainable exactly like numFiles. A prev crc
    // without one (or malformed) kills tracking: the field is then absent
    // (consumers tolerate) until the next replay-rendered crc reseeds it.
    var histBounds: Array[Long] = null
    var histCounts: Array[Long] = null
    var histBytes: Array[Long] = null
    if (version == 0L) {
      histBounds = DefaultHistogramBoundaries
      histCounts = new Array[Long](histBounds.length)
      histBytes = new Array[Long](histBounds.length)
    }
    if (version > 0L) {
      val p = crcPath(logDir, version - 1)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      om.readTree(txt) match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode
          if o.has("numFiles") && o.has("tableSizeBytes") =>
          nf = o.get("numFiles").asLong()
          bytes = o.get("tableSizeBytes").asLong()
          // a foreign prev crc has no setDigest — the XOR chain cannot
          // start mid-stream, so fall back to replay (which computes the
          // digest fresh); every subsequent commit is incremental again
          if (!o.has("setDigest")) return None
          digest = o.get("setDigest").asLong()
          protocolNode = o.get("protocol")
          metadataNode = o.get("metadata")
          parseHistogram(o).foreach { case (b, c, y) =>
            histBounds = b; histCounts = c.clone(); histBytes = y.clone()
          }
          o.get("allFiles") match {
            case arr: com.fasterxml.jackson.databind.node.ArrayNode
              if arr.size().toLong == nf =>
              val it = arr.elements()
              while (it.hasNext && echo != null) {
                val e = it.next()
                val p = Option(e.get("path")).filterNot(_.isNull).map(_.asText())
                p match {
                  case Some(path) if !echo.contains(path) =>
                    // reshape even ADOPTED entries (a foreign crc may carry
                    // dataChange:true or engine-side fields): the echo we
                    // re-emit must restate state in OUR contract shape
                    echo.put(path, echoAddFromLine(e))
                  case _ => echo = null // path-less or duplicate entry
                }
              }
            case _ => echo = null // absent, or length != numFiles
          }
        case _ => return None
      }
    }
    // same-commit remove+add of ONE path (the DV re-add pairing) must land
    // present-with-the-new-entry regardless of line order, so the echo
    // applies this commit's removes before its adds, order-independently
    val addedEcho = scala.collection.mutable.LinkedHashMap.empty[String,
      com.fasterxml.jackson.databind.JsonNode]
    val removedPaths = scala.collection.mutable.LinkedHashSet.empty[String]
    for (line <- lines) {
      val root = om.readTree(line)
      if (root == null || !root.isObject) return None
      val it = root.fieldNames()
      while (it.hasNext) it.next() match {
        case "add" =>
          val a = root.get("add")
          if (!a.has("size")) return None
          val sz = a.get("size").asLong()
          nf += 1; bytes += sz
          val path = a.get("path").asText()
          digest ^= DeltaFileSet.fileDigest(path, sz)
          if (echo != null) addedEcho.put(path, echoAddFromLine(a))
          if (histBounds != null) {
            val i = DeltaFileSet.histogramBucket(sz, histBounds)
            histCounts(i) += 1; histBytes(i) += sz
          }
        case "remove" =>
          val r = root.get("remove")
          if (!r.has("size")) return None // e.g. RESTORE's distributed removes
          val sz = r.get("size").asLong()
          nf -= 1; bytes -= sz
          val path = r.get("path").asText()
          digest ^= DeltaFileSet.fileDigest(path, sz)
          removedPaths.add(path)
          if (histBounds != null) {
            val i = DeltaFileSet.histogramBucket(sz, histBounds)
            histCounts(i) -= 1; histBytes(i) -= sz
          }
        case "metaData" =>
          val m = root.get("metaData")
          val metaEcho = om.createObjectNode()
          // stable identity fields ride the committed line into the echo
          // (same completeness as [[render]]'s snapshot path; ADVICE r13)
          Option(m.get("id")).filter(!_.isNull)
            .foreach(metaEcho.set[com.fasterxml.jackson.databind.JsonNode]("id", _))
          Option(m.get("name")).filter(!_.isNull)
            .foreach(metaEcho.set[com.fasterxml.jackson.databind.JsonNode]("name", _))
          metaEcho.set("partitionColumns",
            Option(m.get("partitionColumns")).getOrElse(om.createArrayNode()))
          metaEcho.set("configuration",
            Option(m.get("configuration")).getOrElse(om.createObjectNode()))
          metaEcho.put("schemaString",
            Option(m.get("schemaString")).map(_.asText("")).getOrElse(""))
          metaEcho.set("format", om.readTree("""{"provider":"parquet","options":{}}"""))
          Option(m.get("createdTime")).filter(!_.isNull)
            .foreach(metaEcho.set[com.fasterxml.jackson.databind.JsonNode]("createdTime", _))
          metadataNode = metaEcho
        case "protocol" =>
          protocolNode = root.get("protocol")
        // domainMetadata is state-neutral for (numFiles, bytes) and does
        // not enter the crc echo. The one op that RE-ADDS live paths while
        // carrying a domain (row-tracking backfill) commits through the
        // STREAM funnel, whose consumed iterator never reaches this method
        // — so a domain here (HWM advance on row-tracked writes, the
        // clustering watermark) always accompanies fresh-path adds and the
        // arithmetic stays sound. Row-tracked tables would otherwise pay a
        // full replay on EVERY write (code-review r13).
        case "domainMetadata" => ()
        case "commitInfo" | "cdc" | "txn" => () // state-neutral
        case _ => return None // unknown action: never guess
      }
    }
    if (nf < 0 || bytes < 0) return None
    if (echo != null) {
      // removes first, then adds (see above); a remove of a path the
      // echo doesn't hold means the list was never complete — kill it
      val missing = removedPaths.exists(p => !echo.contains(p) && !addedEcho.contains(p))
      removedPaths.foreach(echo.remove)
      addedEcho.foreach { case (p, e) => echo.put(p, e) }
      if (missing || echo.size.toLong != nf) echo = null
    }
    if (metadataNode == null ||
        Option(metadataNode.get("schemaString")).forall(_.asText("").isEmpty))
      return None // no declared metadata anywhere: the echo would be junk
    if (protocolNode == null)
      protocolNode = om.readTree("""{"minReaderVersion":1,"minWriterVersion":2}""")
    val out = om.createObjectNode()
    out.put("tableSizeBytes", bytes)
    out.put("numFiles", nf)
    out.put("setDigest", digest)
    if (echo != null && nf <= AllFilesEchoThreshold) {
      val arr = om.createArrayNode()
      echo.toSeq.sortBy(_._1).foreach { case (_, e) => arr.add(e) }
      out.set[com.fasterxml.jackson.databind.JsonNode]("allFiles", arr)
    }
    // a negative bucket means the adopted histogram was wrong/stale —
    // drop it (never emit a guess); sums must also re-agree with the two
    // scalar aggregates or the buckets diverged from reality
    if (histBounds != null &&
        histCounts.forall(_ >= 0) && histBytes.forall(_ >= 0) &&
        histCounts.sum == nf && histBytes.sum == bytes) {
      val h = om.createObjectNode()
      def put(f: String, vs: Array[Long]): Unit = {
        val a = om.createArrayNode(); vs.foreach(a.add); h.set[com.fasterxml.jackson.databind.JsonNode](f, a)
      }
      put("sortedBinBoundaries", histBounds)
      put("fileCounts", histCounts)
      put("totalBytes", histBytes)
      out.set[com.fasterxml.jackson.databind.JsonNode]("histogramOpt", h)
    }
    out.put("numMetadata", 1L)
    out.put("numProtocol", 1L)
    out.set[com.fasterxml.jackson.databind.JsonNode]("protocol", protocolNode)
    out.set[com.fasterxml.jackson.databind.JsonNode]("metadata", metadataNode)
    Some(om.writeValueAsString(out))
  } catch { case _: Exception => None }

  /** The crc text of `version`; None when it is absent or unreadable
    * (a crc is advisory: its absence never blocks a read). */
  def read(fs: FileSystem, logDir: Path, version: Long): Option[String] = {
    try {
      val in = fs.open(crcPath(logDir, version))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: Exception => None }
  }

  /** The `numFiles` a crc's text records, if it parses and records one.
    * Only ever a placement hint ([[DeltaFileSet]]): [[validate]] checks
    * the replayed count against it before any row is served. */
  def recordedNumFiles(crc: String): Option[Long] =
    try Option(om.readTree(crc)).flatMap(r => Option(r.get("numFiles")))
      .map(_.asLong(-1L)).filter(_ >= 0)
    catch { case _: Exception => None }

  /** Validate a freshly-replayed snapshot against its version's crc text
    * (`crc`, from [[read]]; None skips validation). Armed by
    * [[DeltaSnapshotReader.snapshotAt]] as the file set's lazy validator
    * ([[DeltaFileSet.armValidator]]): it fires at the FIRST
    * access to the distributed add rows, so a refusal precedes any data
    * being served and — via the poison flag — re-raises on every later
    * access, never cached away. Compares the three state aggregates a crc
    * exists to protect (numFiles, tableSizeBytes, setDigest); the
    * protocol/metadata echo is for foreign consumers, already
    * cross-checked by replay itself.
    *
    * Cost: zero jobs when the file set is collected (every set whose crc
    * records at most `spark.graft.delta.driverFileListThreshold` files is,
    * from its first touch); otherwise one aggregate over the persisted
    * add-set ([[DeltaFileSet.sizeHistogram]] — count, bytes, digest and
    * histogram in ONE pass). Paid only by snapshots whose file set is actually
    * touched; pure metadata-plane callers pay nothing (ADVICE r13), and
    * warm cache hits pay nothing. */
  def validate(logDir: Path, snap: DeltaSnapshot, crc: Option[String]): Unit = {
    val p = crcPath(logDir, snap.version)
    val txt = crc.getOrElse(return)
    val parsed =
      try {
        val root = om.readTree(txt)
        if (root == null || !root.isObject)
          throw new IllegalArgumentException("not a JSON object")
        Some((Option(root.get("numFiles")).map(_.asLong(-1L)),
          Option(root.get("tableSizeBytes")).map(_.asLong(-1L)),
          // extension field: absent on foreign crcs → tolerated
          Option(root.get("setDigest")).map(_.asLong()),
          Option(root.get("allFiles")).collect {
            case a: com.fasterxml.jackson.databind.node.ArrayNode => a
          },
          // histogram: absent → tolerated; present-but-malformed → the
          // field exists yet parses to None, flagged for refusal below
          (root.has("histogramOpt"), parseHistogram(root))))
      } catch {
        case e: Exception =>
          logger.warn(s"unparseable crc $p ignored " +
            s"(${e.getClass.getSimpleName}) — torn writes must not brick the table")
          None
      }
    parsed.foreach { case (nf, sz, dg, allFiles, (hasHist, hist)) =>
      // every replay-side value comes from ONE pass over the add-set: the
      // histogram over the crc's own bounds also yields count, bytes and
      // digest (a driver fold when the set is collected)
      val (gc, gb) = snap.fileSet.sizeHistogram(hist.map(_._1).getOrElse(DefaultHistogramBoundaries))
      nf.filter(_ >= 0).foreach { expect =>
        val got = snap.fileSet.count
        if (got != expect) throw new ChecksumMismatchException(
          s"snapshot checksum mismatch at ${snap.tablePath} v${snap.version}: " +
            s"crc records numFiles=$expect, log replay found $got — " +
            s"state corruption or a tampered $p; refusing to serve the snapshot")
      }
      sz.filter(_ >= 0).foreach { expect =>
        val got = snap.fileSet.totalBytes
        if (got != expect) throw new ChecksumMismatchException(
          s"snapshot checksum mismatch at ${snap.tablePath} v${snap.version}: " +
            s"crc records tableSizeBytes=$expect, log replay found $got — " +
            s"state corruption or a tampered $p; refusing to serve the snapshot")
      }
      dg.foreach { expect =>
        val got = snap.fileSet.setDigest
        if (got != expect) throw new ChecksumMismatchException(
          s"snapshot checksum mismatch at ${snap.tablePath} v${snap.version}: " +
            s"crc records setDigest=$expect, log replay computed $got — the " +
            s"{(path, size)} add-set diverged even though numFiles and " +
            s"tableSizeBytes may agree (offsetting corruption); refusing to " +
            s"serve the snapshot")
      }
      // file-size histogram cross-check: recompute the buckets from the
      // replayed add-set against the crc's OWN declared boundaries (so a
      // foreign writer's bins validate as-is); a declared-but-malformed
      // histogram is state corruption, not tolerance territory
      if (hasHist && hist.isEmpty) throw new ChecksumMismatchException(
        s"snapshot checksum mismatch at ${snap.tablePath} v${snap.version}: " +
          s"the crc declares a histogramOpt whose shape is malformed " +
          s"(boundary/count/byte arrays missing, unequal lengths, or " +
          s"unsorted boundaries); refusing to serve the snapshot")
      hist.foreach { case (_, counts, byts) =>
        if (!java.util.Arrays.equals(gc, counts) ||
            !java.util.Arrays.equals(gb, byts)) {
          val badC = counts.indices.find(i => gc(i) != counts(i))
          val badB = byts.indices.find(i => gb(i) != byts(i))
          throw new ChecksumMismatchException(
            s"snapshot checksum mismatch at ${snap.tablePath} v${snap.version}: " +
              s"the crc's file-size histogram disagrees with the replayed " +
              s"add-set (first count mismatch bucket $badC, first byte " +
              s"mismatch bucket $badB); refusing to serve the snapshot")
        }
      }
      // allFiles echo cross-check, bounded: only when the REPLAYED count is
      // small (never trust the crc's own claim to size a driver collect)
      allFiles.filter(_ => snap.fileSet.count <= AllFilesEchoThreshold)
        .foreach { arr =>
          import scala.jdk.CollectionConverters._
          // FULL-entry comparison (ADVICE r14): the echo exists so a
          // foreign reader can rebuild state from the crc alone, so every
          // state field is checked — a corrupted DV descriptor,
          // partitionValues or stats inside an echo entry refuses even
          // when (path, size) still agree. Both sides canonicalize
          // through the same default rules, so legally-omitted optional
          // fields never false-positive.
          val crcSet = arr.elements().asScala.map(echoCanon).toSet
          // replayed AddFiles carry LOGICAL partition keys (snapshot
          // normalization); the echo — an action restatement — is keyed
          // PHYSICALLY, so the replay side maps back before comparing
          val collected = snap.fileSet.collected
          val replaySet = collected
            .map(echoCanonOfAdd(_, snap.physicalFieldName)).toSet
          // Stale-FORMAT tolerance (ADVICE r15): crcs written before the
          // physical-keying fix keyed echo partitionValues LOGICALLY on
          // column-mapped tables. That is a format generation, not state
          // corruption — every state VALUE still matches under the
          // logical keying — so refusing would permanently brick
          // previously-valid snapshots with no regeneration path. Warn
          // and accept; the next commit's crc re-emits the current shape.
          val staleLogicalKeyed = crcSet != replaySet &&
            crcSet == collected.map(echoCanonOfAdd(_, identity)).toSet
          if (staleLogicalKeyed)
            logger.warn(
              s"stale-format crc ${crcPath(logDir, snap.version)} " +
                "tolerated — its allFiles echo keys partitionValues " +
                "logically (pre-physical-keying writer); all state values " +
                "match, next commit rewrites the current shape")
          if (crcSet != replaySet && !staleLogicalKeyed)
            throw new ChecksumMismatchException(
            s"snapshot checksum mismatch at ${snap.tablePath} v${snap.version}: " +
              s"the crc's allFiles echo (${crcSet.size} entries) does not " +
              s"match the ${replaySet.size} adds the log replay derived " +
              s"(echo-only: ${(crcSet -- replaySet).take(3).map(_._1)}; " +
              s"replay-only: ${(replaySet -- crcSet).take(3).map(_._1)}; " +
              s"full-entry compare incl. partitionValues/stats/DV/rowIds); " +
              s"refusing to serve the snapshot")
        }
    }
  }
}
