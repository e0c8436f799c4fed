package graft.delta

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The active-file set of a [[DeltaSnapshot]], with a DISTRIBUTED canonical
  * representation.
  *
  * The reference materializes `snapshot.getAllFiles` on the driver
  * (DeltaMetadataHandler.scala:119,151) — at ~100 TB a table holds millions
  * of add actions and that list (with its per-file stats JSON) is multi-GB
  * of driver heap. Here the canonical form is a DataFrame of add rows that
  * lives on executors (persisted after the replay dedup); the driver pulls
  * back only what a consumer actually needs:
  *
  *   - query planning goes through [[df]] + distributed pruning
  *     ([[DeltaFileIndex.listFiles]]) and collects the PRUNED subset;
  *   - checkpoints write [[df]] back out as parquet without collecting;
  *   - bounded consumers (DML rewrite sets, DV-carrying files) use
  *     [[filterCollect]] — a distributed filter, then a collect of the
  *     (small) survivor set;
  *   - [[collected]] — the full driver materialization — exists for
  *     maintenance ops whose output is inherently the whole list (OPTIMIZE
  *     bin-packing, RESTORE diffs) and for small tables, and is lazy: a
  *     snapshot whose consumers never ask for it never pays for it.
  *
  * Placement is decided ONCE, at the first touch of a replayed set
  * ([[ensureBuilt]]), from the file count the table already records (the
  * crc's `numFiles`) — never from a pass over the log. A set recorded at
  * or under `spark.graft.delta.driverFileListThreshold` (default 10k
  * files; fixed when the set is made) is collected by the replay's pass
  * that builds it ([[LogReplay.replayDistributed]]), so crc validation,
  * the DV probe and [[DeltaFileIndex.listFiles]] all run as driver folds —
  * two Spark jobs for the whole file-set side of a cold read (the build's
  * shuffle and its collect). Any other replayed set is built once and
  * persisted on executors, and the validator's count, bytes, digest and
  * size histogram come from ONE aggregate ([[sizeHistogram]]).
  */
final class DeltaFileSet private (
    build: () => DataFrame,
    preset: Option[Seq[AddFile]],
    collectMax: Long,
    collectFirst: () => Option[Seq[AddFile]]) {

  @volatile private var materialized: Option[Seq[AddFile]] = preset
  @volatile private var persisted: Option[DataFrame] = None
  /** Released ([[unpersist]]): a set built after that is not persisted. */
  @volatile private var released = false
  /** The last state summary computed, with the bucket bounds it used. */
  @volatile private var summaryMemo: Option[(Seq[Long], DeltaFileSet.Summary)] = None
  @volatile private var validator: Option[() => Unit] = None
  @volatile private var validationFailure: Option[Throwable] = None
  @volatile private var validatingThread: Thread = null

  /** Arm a one-shot integrity check (the crc state validation,
    * [[graft.delta.Checksum.validate]]) that runs at the FIRST access to
    * the distributed add rows — the gateway every data-plane consumer
    * passes through (pruned planning, DML rewrite sets, checkpoints,
    * aggregates, collects) — instead of eagerly inside the snapshot-cache
    * fill (ADVICE r13: eager validation forced one distributed aggregate
    * per COLD load onto metadata-plane callers — history loops, plan-only
    * resolution — that never touch the file set). Refuse-before-serving is
    * preserved: no add row leaves this set before the validator passes,
    * and a VALUE-mismatch failure POISONS the set — every later access
    * rethrows, so the refusal can never be cached away.
    *
    * Validator contract: throw [[Checksum.ChecksumMismatchException]] to
    * refuse PERMANENTLY (the artifact disagrees with replayed state);
    * any other exception is treated as transient (a lost executor, a
    * shuffle-fetch failure) — it propagates to the caller but the
    * validator stays armed, so the next access retries instead of
    * caching a stale infrastructure error. */
  def armValidator(v: () => Unit): Unit = { validator = Some(v) }

  /** First touch of a replayed set: the replay's collecting pass
    * (`collectFirst`) brings the set to the driver when the table records
    * it as small; otherwise the set is built and persisted on executors,
    * in one pass over the log. */
  private def ensureBuilt(): Unit =
    if (materialized.isEmpty && persisted.isEmpty) synchronized {
      if (materialized.isEmpty && persisted.isEmpty) collectFirst() match {
        case Some(files) => materialized = Some(files)
        case None =>
          val built = build()
          persisted = Some(if (released) built else built.persist(StorageLevel.MEMORY_AND_DISK))
      }
    }

  private def ensureValidated(): Unit = {
    validationFailure.foreach(e => throw e)
    ensureBuilt()
    if (validator.isDefined) {
      // the validator's own aggregate re-enters df/countBytesDigest on
      // this thread — let it through unvalidated (it IS the validation)
      if (validatingThread eq Thread.currentThread()) return
      // concurrent readers BLOCK here until validation settles: the
      // validator is cleared only AFTER it passes, so no thread can slip
      // through to the rows mid-flight (a cleared-before-run fast path
      // would serve data while a failing validation is still running)
      synchronized {
        validationFailure.foreach(e => throw e)
        validator.foreach { v =>
          validatingThread = Thread.currentThread()
          try { v(); validator = None }
          catch {
            case e: Checksum.ChecksumMismatchException =>
              // Publish the poison but leave the validator ARMED: a
              // lock-free fast-path reader that sampled
              // validationFailure==None just before this write must
              // still see validator.isDefined and be routed into the
              // synchronized block, where the under-lock re-check
              // rethrows. Clearing validator here would open a window
              // (failure not yet visible, validator already gone) where
              // that reader skips the block and is served add rows from
              // a set whose validation just failed. The armed validator
              // never re-runs: the under-lock validationFailure check
              // precedes the foreach.
              validationFailure = Some(e); throw e
            // transient: stay armed, retry at the next access
            case e: Throwable => throw e
          } finally validatingThread = null
        }
      }
    }
  }

  /** True once the full file list lives on the driver (from-Seq sets are
    * born collected; replayed sets at or under the threshold are collected
    * at their first touch). Never triggers that touch itself. The
    * scale-regression specs assert this stays false for large snapshots
    * through construction + pruned planning. */
  def isCollected: Boolean = materialized.isDefined

  /** Should a consumer work from the driver list? After the first touch
    * and validation: yes when the set is collected, or holds at most
    * `collectMax` files (a set whose count was not recorded ahead of time;
    * [[collected]] then brings it over at one more job). */
  def servedFromDriver: Boolean = { ensureValidated(); isCollected || count <= collectMax }

  /** The add rows ([[DeltaFileSet.schema]]): the persisted replay output
    * of an uncollected set (the replay dedup is non-trivial; every consumer
    * after the first touch reads the persisted form), or a one-partition
    * frame over the driver list of a collected one. */
  def df: DataFrame = {
    ensureValidated()
    dfUnvalidated
  }

  private def dfUnvalidated: DataFrame = {
    ensureBuilt()
    persisted.getOrElse(synchronized {
      persisted.getOrElse {
        val d = DeltaFileSet.dfFromSeq(materialized.get)
        persisted = Some(d)
        d
      }
    })
  }

  /** (numFiles, totalBytes, setDigest): a driver fold when collected, else
    * ONE distributed aggregate — shared with [[sizeHistogram]], so the
    * checksum writer and validator, which need all of them, never pay a
    * second pass over the add-set. `setDigest` is the ORDER-INDEPENDENT
    * file-set digest (VERDICT r13 #2):
    * XOR over `xxhash64(path, size)` of every active file, so two
    * corruptions that offset each other in count and bytes (an add/remove
    * swap, a path flip at equal size) still move the digest. XOR is exact
    * under the incremental arithmetic (add toggles in, remove toggles out)
    * and safe because add paths are unique within a snapshot. */
  def countBytesDigest: (Long, Long, Long) = {
    ensureValidated() // memoization must never outlive a poisoned set
    val s = summaryMemo.map(_._2).getOrElse(summary(Checksum.DefaultHistogramBoundaries))
    (s.count, s.bytes, s.digest)
  }

  /** (numFiles, totalBytes) — see [[countBytesDigest]]. */
  def countAndBytes: (Long, Long) = (countBytesDigest._1, countBytesDigest._2)

  /** Per-size-bucket (fileCounts, totalBytes) over the add-set for the
    * crc's file-size histogram (delta-spark VersionChecksum `histogramOpt`
    * parity). `bounds` are the bucket lower boundaries (sorted ascending,
    * writer-declared in the crc — validation recomputes against the crc's
    * OWN boundaries, so foreign bins validate too); a file lands in the
    * greatest bucket whose boundary ≤ its size, sizes below the first
    * boundary clamp into bucket 0. A local fold when collected; otherwise
    * the one aggregate that also yields [[countBytesDigest]]. */
  def sizeHistogram(bounds: Array[Long]): (Array[Long], Array[Long]) = {
    ensureValidated()
    val s = summary(bounds)
    (s.bucketCounts.clone(), s.bucketBytes.clone())
  }

  /** Count, bytes, digest, DV presence and the size histogram over
    * `bounds`, memoized for the last bounds asked. Uncollected: one
    * groupBy over the size bucket, folded on the driver (the per-bucket
    * digests XOR into the set digest). */
  private def summary(bounds: Array[Long]): DeltaFileSet.Summary =
    summaryMemo.collect { case (b, s) if b == bounds.toSeq => s }.getOrElse {
      val counts = new Array[Long](bounds.length)
      val bytes = new Array[Long](bounds.length)
      var digest = 0L
      var hasDv = false
      materialized match {
        case Some(files) =>
          files.foreach { f =>
            val i = DeltaFileSet.histogramBucket(f.size, bounds)
            counts(i) += 1; bytes(i) += f.size
            digest ^= DeltaFileSet.fileDigest(f.path, f.size)
            hasDv ||= f.deletionVector.isDefined
          }
        case None =>
          val bArr = array(bounds.map(lit): _*)
          val sz = coalesce(col("size"), lit(0L))
          // bucket = |{b : b <= size}| - 1 — O(|bounds|) per row, one shuffle
          // of ≤|bounds| groups
          val idx = (size(filter(bArr, b => b <= sz)) - lit(1)).as("b")
          dfUnvalidated.select(idx, sz.as("sz"), col("path"), col("deletionVector"))
            .groupBy(col("b"))
            .agg(org.apache.spark.sql.functions.count(lit(1)),
              sum(col("sz")),
              // same bytes the JVM-side fileDigest hashes: coalesce matches
              // decode()'s null-size-to-0 rule (SQL xxhash64 would SKIP a null)
              expr("bit_xor(xxhash64(path, sz))"),
              max(col("deletionVector").isNotNull))
            .collect().foreach { r =>
              val i = math.max(r.getInt(0), 0)
              counts(i) += r.getLong(1); bytes(i) += r.getLong(2)
              digest ^= r.getLong(3)
              hasDv ||= r.getBoolean(4)
            }
      }
      val s = DeltaFileSet.Summary(counts.sum, bytes.sum, digest, hasDv, counts, bytes)
      summaryMemo = Some(bounds.toSeq -> s)
      s
    }

  /** Order-independent digest of the {(path, size)} add-set. */
  def setDigest: Long = countBytesDigest._3

  /** Number of active files (one small job when not collected). */
  def count: Long = countBytesDigest._1

  /** Total data bytes of the snapshot (distributed agg when large). */
  def totalBytes: Long = countBytesDigest._2

  /** Does any active file carry a deletion vector? (A driver fold when
    * collected; else the state summary's answer when validation already
    * ran one, or a LIMIT-1 probe.) */
  def hasDeletionVectors: Boolean = {
    ensureValidated()
    hasDeletionVectorsMemo
  }

  private lazy val hasDeletionVectorsMemo: Boolean = materialized match {
    case Some(files) => files.exists(_.deletionVector.isDefined)
    case None => summaryMemo.map(_._2.hasDv)
      .getOrElse(df.where(col("deletionVector").isNotNull).head(1).nonEmpty)
  }

  /** The DV-carrying subset (bounded by the number of vectors).
    * Validated like every other accessor: the `materialized` fast branch
    * must not outlive a poisoned set (the validator itself may have
    * memoized the list mid-flight before its mismatch threw — ADVICE r14). */
  def dvFiles: Seq[AddFile] = { ensureValidated(); materialized } match {
    case Some(files) => files.filter(_.deletionVector.isDefined)
    case None =>
      df.where(col("deletionVector").isNotNull).collect()
        .map(DeltaFileSet.decode).toSeq.sortBy(_.path)
  }

  /** Distributed filter + collect of the survivors: the driver only ever
    * holds `pred`'s matches (e.g. a DML's affected files). */
  def filterCollect(pred: AddFile => Boolean): Seq[AddFile] = { ensureValidated(); materialized } match {
    case Some(files) => files.filter(pred)
    case None =>
      df.rdd.mapPartitions(_.map(DeltaFileSet.decode).filter(pred))
        .collect().toSeq.sortBy(_.path)
  }

  /** All relative/absolute add paths (strings only — no stats payload).
    * Array-shaped for API contracts that force one (FileIndex.inputFiles);
    * scale consumers should use [[pathsIterator]] instead. */
  def paths: Seq[String] = { ensureValidated(); materialized } match {
    case Some(files) => files.map(_.path)
    case None => df.select(col("path")).collect().map(_.getString(0)).toSeq.sorted
  }

  /** Add paths paged one partition at a time (`toLocalIterator`): the
    * driver holds at most one partition of path strings, so a 10M-file
    * VACUUM can fold the pages into its membership set without ever
    * materializing the full path array (and without marking the set
    * collected).
    *
    * NO ORDERING GUARANTEE: the non-materialized branch yields partition
    * order, the materialized branch insertion order — unlike [[paths]],
    * which sorts. Consumers needing determinism must fold into an
    * order-insensitive structure (set/sum) or sort their bounded result. */
  def pathsIterator: Iterator[String] = { ensureValidated(); materialized } match {
    case Some(files) => files.iterator.map(_.path)
    case None =>
      import scala.jdk.CollectionConverters._
      df.select(col("path")).toLocalIterator().asScala.map(_.getString(0))
  }

  /** Full driver materialization (memoized; sorted by path for
    * deterministic downstream iteration — same order the pre-distributed
    * implementation produced). */
  def collected: Seq[AddFile] = { ensureValidated(); materialized } match {
    case Some(files) => files
    case None => synchronized {
      materialized match {
        case Some(files) => files
        case None =>
          val files = df.collect().map(DeltaFileSet.decode).toSeq.sortBy(_.path)
          materialized = Some(files)
          files
      }
    }
  }

  /** Release the persisted rows. A query planned over the set still
    * reads it: the set is built again at its next touch, unpersisted. */
  def unpersist(): Unit = synchronized {
    persisted.filter(_ => preset.isEmpty).foreach(_.unpersist(blocking = false))
    persisted = None
    released = true
  }
}

object DeltaFileSet {

  /** One file's contribution to [[DeltaFileSet.setDigest]]:
    * `xxhash64(path, size)` with Spark's exact semantics (seed 42, the
    * string hash seeding the long hash) so the distributed form stays the
    * codegen'd `functions.xxhash64` while the crc arithmetic
    * ([[Checksum.chained]]) computes the identical value in pure JVM
    * from the commit's own adds and removes. */
  def fileDigest(path: String, size: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashLong(size, XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(path), 42L))
  }

  /** Bucket of `size` under `bounds` (sorted ascending lower boundaries):
    * greatest i with bounds(i) ≤ size, clamped into bucket 0 below the
    * first boundary. Pure JVM so the incremental crc arithmetic computes
    * the identical bucket from a commit's own action lines. */
  def histogramBucket(size: Long, bounds: Array[Long]): Int = {
    val i = java.util.Arrays.binarySearch(bounds, math.max(size, bounds(0)))
    if (i >= 0) i else -i - 2
  }

  /** Row shape of [[DeltaFileSet.df]]: one flattened add action. */
  val schema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("stats", StringType),
    StructField("deletionVector", DeltaActions.deletionVectorType),
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType),
    StructField("addedVersion", LongType)))

  /** State aggregates of one add-set (see [[DeltaFileSet.sizeHistogram]]). */
  private final case class Summary(count: Long, bytes: Long, digest: Long, hasDv: Boolean,
                                   bucketCounts: Array[Long], bucketBytes: Array[Long])

  /** Wrap an already-materialized list (DML subsets, fixtures). */
  def of(files: Seq[AddFile]): DeltaFileSet =
    new DeltaFileSet(() => dfFromSeq(files), Some(files), 0L, () => None)

  /** Wrap a lazily-built distributed add-row DataFrame (log replay). At
    * the first touch the set is `collectFirst`'s files when it gives some
    * (the replay's collecting pass), else `build` persisted; `collectMax`
    * is the largest set planned from a driver list. */
  def fromDf(build: () => DataFrame, collectMax: Long,
             collectFirst: () => Option[Seq[AddFile]] = () => None): DeltaFileSet =
    new DeltaFileSet(build, None, collectMax, collectFirst)

  /** `spark.graft.delta.driverFileListThreshold` of `spark` (default 10k
    * files): the largest file set that is planned from a driver list. */
  def driverListThreshold(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.delta.driverFileListThreshold").map(_.toLong).getOrElse(10000L)

  /** Row → [[AddFile]] (null-tolerant, shared by every collect site;
    * executor-safe — referenced from RDD closures). */
  def decode(r: Row): AddFile = AddFile(
    r.getString(0),
    Option(r.getMap[String, String](1)).map(m => Map(m.toSeq: _*)).getOrElse(Map.empty),
    if (r.isNullAt(2)) 0L else r.getLong(2),
    if (r.isNullAt(3)) 0L else r.getLong(3),
    if (r.isNullAt(4)) None else Some(r.getString(4)),
    if (r.isNullAt(5)) None else {
      val dv = r.getStruct(5)
      if (dv.isNullAt(0)) None // a descriptor without storageType is malformed
      else Some(DeletionVectors.Descriptor(
        dv.getString(0), dv.getString(1),
        if (dv.isNullAt(2)) 0 else dv.getInt(2),
        if (dv.isNullAt(3)) 0 else dv.getInt(3),
        if (dv.isNullAt(4)) 0L else dv.getLong(4)))
    },
    if (r.isNullAt(6)) None else Some(r.getLong(6)),
    if (r.isNullAt(7)) None else Some(r.getLong(7)),
    if (r.length <= 8 || r.isNullAt(8)) None else Some(r.getLong(8)))

  private def dfFromSeq(files: Seq[AddFile]): DataFrame = {
    val rows = files.map { f =>
      Row(f.path, f.partitionValues, f.size, f.modificationTime, f.stats.orNull,
        f.deletionVector.map(d =>
          Row(d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)).orNull,
        f.baseRowId.map(Long.box).orNull,
        f.defaultRowCommitVersion.map(Long.box).orNull,
        f.addedVersion.map(Long.box).orNull)
    }
    val spark = SparkSession.active
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
