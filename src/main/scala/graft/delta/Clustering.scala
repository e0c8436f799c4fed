package graft.delta

import org.apache.spark.sql.SparkSession

/** Clustered tables (the `clustering` writer feature — delta-spark's
  * "liquid clustering" metadata): the table DECLARES its clustering
  * columns in the `delta.clustering` metadata domain; OPTIMIZE then reads
  * the declaration and physically clusters along them, instead of every
  * caller re-supplying (and possibly disagreeing on) the columns.
  *
  * Physical clustering reuses the Morton-curve rewrite ([[DeltaWriter
  * .zorder]]) — the same multi-dimensional-skipping layout liquid
  * clustering targets; the feature here is the DECLARATION surface:
  * domain-recorded columns, protocol gating (writer 7, `clustering` +
  * `domainMetadata`), checkpoint/clone survival, and loud validation. */
object Clustering {

  /** Metadata domain holding `{"clusteringColumns":[["a"],["b"]]}` (one
    * path array per clustered column, per the Delta spec's shape). */
  val Domain = "delta.clustering"

  private[delta] def configJson(cols: Seq[String]): String =
    cols.map(c => s"""[${DeltaWriter.q(c)}]""")
      .mkString("""{"clusteringColumns":[""", ",", "]}")

  /** Declared clustering columns of a snapshot (empty when unclustered).
    * Parses the spec's nested-path arrays; only top-level columns are
    * produced by this writer, but foreign single-element paths parse.
    * A foreign table clustered on a NESTED column (a multi-element path
    * like `[["user","id"]]`) refuses loudly: silently clustering on a
    * subset of the declared columns would scatter the layout the table
    * promised its readers. */
  def clusteringColumns(snap: DeltaSnapshot): Seq[String] =
    snap.domainMetadata.get(Domain).toSeq.flatMap { cfg =>
      val declared = // every top-level path array, regardless of arity
        """\[\s*"(?:(?:[^"\\]|\\.)*"\s*(?:,\s*"(?:[^"\\]|\\.)*"\s*)*)?\]""".r
          .findAllIn(cfg).size
      val parsed =
        """\[\s*"((?:[^"\\]|\\.)*)"\s*\]""".r.findAllMatchIn(cfg)
          .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
      if (parsed.size != declared)
        throw DeltaUnsupportedFeatureException("clustering",
          s"${snap.tablePath} declares $declared clustering column paths but " +
            s"only ${parsed.size} are single-element (top-level) — clustering " +
            "on nested column paths is not supported by this writer")
      parsed
    }

  /** ALTER TABLE … CLUSTER BY (cols): record the clustering declaration.
    * Metadata-only — no file moves until the next OPTIMIZE. */
  def cluster(spark: SparkSession, tablePath: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "CLUSTER BY needs at least one column")
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    cols.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"unknown clustering column $c")
      require(!snap.partitionColumns.contains(c),
        s"$c is a partition column — a column cannot be both")
    }
    val base = snap.protocol.getOrElse(DeltaProtocol(1, 2))
    val bumped = DeltaProtocol(base.minReaderVersion, 7, base.readerFeatures,
      Some((base.writerFeatures.getOrElse(Seq.empty) ++
        DeltaWriter.legacyWriterFeatures(base.minWriterVersion) ++
        Seq("domainMetadata", "clustering")).distinct))
    DeltaWriter.commitDomain(spark, snap, Domain, configJson(cols),
      Some(bumped).filterNot(_ == base), "CLUSTER BY",
      Map("clusteringColumns" -> cols.mkString(",")))
  }

  /** Engine-state domain recording the snapshot version as of which the
    * table's layout was last fully clustered: files whose replay
    * `addedVersion` is ≤ the watermark are already in the declared layout
    * and an incremental OPTIMIZE skips them. Engine-private (foreign
    * writers ignore unknown domains per the spec); absence ⇒ never
    * clustered ⇒ full rewrite. */
  val StateDomain = "graft.clustering.state"

  private def clusteredAtVersion(snap: DeltaSnapshot): Option[Long] =
    snap.domainMetadata.get(StateDomain).flatMap { cfg =>
      """"clusteredAtVersion"\s*:\s*(\d+)""".r.findFirstMatchIn(cfg).map(_.group(1).toLong)
    }

  /** OPTIMIZE of a clustered table: cluster along the DECLARED columns
    * (the whole point — the layout policy lives with the table).
    *
    * INCREMENTAL: only files added SINCE the last clustering commit (the
    * [[StateDomain]] watermark vs each file's replay `addedVersion`) are
    * rewritten — delta-spark's incremental liquid behavior. At 100 TB this
    * is the difference between re-sorting the whole table on every
    * maintenance cycle and touching just the day's ingest; the already-
    * clustered bulk is never read. Each incremental pass clusters the new
    * slice into its own sorted run (stats skipping is per-file, so mixed
    * runs keep their pruning power). `addedVersion` is never below the
    * version that added a file, so no file added since the watermark is
    * missed: a cold replay from a checkpoint raises it to the
    * checkpoint's version, which can only widen the rewrite back toward
    * full; a snapshot advanced from a cached one keeps the version the
    * cached one held, never above the cold replay's, so it selects the
    * same files or fewer. No new files since the watermark ⇒ no-op
    * commit-free return. */
  def optimize(spark: SparkSession, tablePath: String,
               targetBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = DeltaSnapshotReader.snapshot(spark, tablePath)
    val cols = clusteringColumns(snap)
    require(cols.nonEmpty,
      s"$tablePath declares no clustering columns — use cluster() first")
    val target = clusteredAtVersion(snap) match {
      case None => snap.files // never clustered: full rewrite
      case Some(v) =>
        // addedVersion=None (foreign/from-Seq sets) counts as NEW — only
        // ever over-selects, the safe direction for layout maintenance
        snap.fileSet.filterCollect(_.addedVersion.forall(_ > v))
    }
    if (target.isEmpty) return snap.version
    // the watermark stamps the COMMIT's version — rendered per attempt, so
    // a conflict-checked retry records where it actually landed (a stale
    // stamp would make the next incremental pass re-cluster this commit's
    // own output)
    def marker(version: Long) =
      DeltaWriter.domainLine(StateDomain, s"""{"clusteredAtVersion":$version}""")
    // STRICT conflict footprint, unlike plain compaction: the watermark
    // asserts "everything at or below this version is clustered", so a
    // concurrent dataChange APPEND must abort the retry (commuting past it
    // would stamp the watermark OVER the winner's unclustered files — they
    // would be skipped by every future incremental pass), and a concurrent
    // clustering commit conflicts via the state DOMAIN. Winners with
    // dataChange=false adds (plain compaction) still commute; their output
    // inherits the watermark — the same OPTIMIZE-interleaving caveat
    // delta's clustering has.
    val strict = ConflictChecker.TxnReadSet(
      readsData = true, partitionPredicate = None,
      readFiles = target.map(_.path).toSet,
      removedPaths = target.map(_.path).toSet,
      domains = Set(StateDomain))
    DeltaWriter.zorderRewrite(spark, snap, Some(target), cols, targetBytes,
      extraActions = v => Seq(marker(v)),
      readSetOverride = Some(strict))
  }
}
