package graft.dedup

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2C;
  * builder-prompt "Deduplication": exact, MinHash+LSH, SimHash, n-gram
  * Jaccard). Every near-dup path is a banded EQUI-join — candidate pairs
  * come from hash-bucket collisions, never from an O(n²) cross join, so the
  * shapes stay shuffle-bound at corpus scale. */
object DedupOps {

  val NumPerms = 32  // minhash permutations
  val NumBands = 8   // 8 bands x 4 rows: catches J≳0.7 pairs w.h.p.
  val StopShingleDf = 50 // drop shingles present in more docs (stop-shingles)

  /** (doc_id, shingle): distinct 3-word shingles per document. */
  /** Raw 3-token shingles, HASHED before the per-doc distinct: the
    * distinct is the pipeline's heaviest shuffle (every shingle instance
    * of the corpus), and at 64× corpus scale the ~50-byte shingle strings
    * made it the memory-pressure knee the r14 scale fit exposed — 16-byte
    * (doc_id, hash) rows shuffle ~3× lighter with identical semantics
    * (the hash is deterministic, so distinct-then-hash ≡ hash-then-
    * distinct; 64-bit collisions are the same negligible posting-merge
    * class the header below already accepts). */
  def shingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .otherwise(array())).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .distinct()

  /** Shingle sets with corpus-wide stop-shingles removed (df > threshold),
    * the standard guard against candidate-pair explosion on common text.
    * Shingles are keyed by `xxhash64(shingle)` — a content hash, not a
    * dictionary — so downstream joins/groupBys shuffle 8-byte keys with NO
    * global sort and NO broadcast of the O(corpus) vocabulary (a dictionary
    * broadcast OOMs executors at corpus scale). 64-bit collisions are
    * ~n²/2⁶⁵ (negligible even at billions of shingles) and would only merge
    * two shingles' postings. The df filter and the (doc_id, shingle)
    * re-expansion happen in ONE shuffle: group postings per shingle hash,
    * drop stop-shingles, re-explode (list size ≤ StopShingleDf, so no skew).
    * Cached: every consumer (signatures, sizes, both self-join sides)
    * reuses one materialization, and the output stays hash-partitioned by
    * `shingle`, so the ngram self-join below needs no further exchange. */
  private def filteredShingles(s: SparkSession, dir: String): DataFrame =
    shingles(s, dir) // already (doc_id, xxhash64 shingle)
      .groupBy(col("shingle"))
      .agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")) <= StopShingleDf)
      .select(col("shingle"), explode(col("docs")).as("doc_id"))
      .select(col("doc_id"), col("shingle"))
      .cache()

  /** Exact dedup: group by normalized-text hash, keep the smallest doc_id
    * (reference-free: sha2 over whitespace-normalized lowercase). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        sha2(regexp_replace(trim(lower(col("text"))), "\\s+", " "), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))
      .orderBy(col("keeper"))

  /** MinHash signatures: one min-aggregation pass computes all 32
    * permutations (xxhash64 seeded by permutation index). */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val sigs: Seq[Column] = (0 until NumPerms)
      .map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    filteredShingles(s, dir).groupBy(col("doc_id")).agg(sigs.head, sigs.tail: _*)
  }

  /** MinHash-LSH near-dup pairs: band the signatures, equi-join on
    * (band_idx, band_hash), then score candidates by signature agreement
    * and exact Jaccard. Because verification is exact and this corpus's
    * J≥0.7 pairs all sit ≥0.89 (far above the banding's miss zone), the
    * output equals the exact J≥0.7 pair set — DuckDB-oracle-checked. */
  /** (doc_id, band_idx, band_hash): the LSH banding of a signature frame —
    * shared by the one-shot pair search and the persisted incremental
    * index (same banding ⇒ same candidate recall on both paths). */
  private def bandedSigs(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      xxhash64((b * NumPerms / NumBands until (b + 1) * NumPerms / NumBands)
        .map(i => col(s"h$i")): _*).as(s"b$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until NumBands).map(b => col(s"b$b")): _*)))
      .toDF("doc_id", "band_idx", "band_hash")
  }

  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val banded = bandedSigs(minhashSignatures(s, dir))
    // cached: candidates feed BOTH the candidate-doc semi-join and the
    // verification join — without the cache the signature groupBy + band
    // self-join would run twice
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .cache()
    // exact verification of candidates via shingle-set intersection.
    // The semi-join restricts the shingle table to candidate docs so the
    // expensive intersection joins run on a slice, not the full corpus.
    // Deliberately NO broadcast hints: "LSH keeps candidates few" is a
    // heuristic, not a bound — on a near-duplicate-heavy crawl the candidate
    // set is O(corpus) and a forced broadcast OOMs every executor. AQE
    // promotes these to broadcast joins at runtime when the candidate side
    // is actually small (PlanSpec locks the no-hint rule).
    val sh = filteredShingles(s, dir)
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shc = sh.join(candDocs, Seq("doc_id"), "left_semi").cache()
    // per-doc set sizes: one row per candidate doc
    val sizes = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(shc.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(shc.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .filter(col("common") * 10 >= (col("na") + col("nb") - col("common")) * 7) // J >= 0.7
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** INCREMENTAL near-dup dedup against a PERSISTED signature index —
    * the production shape for continuous ingestion: the historical
    * corpus's minhash band signatures live in a Delta table (built once
    * per corpus, StageMarker-signed; production appends each surviving
    * batch's signatures), and an incoming batch is deduped by banding
    * ITS OWN signatures and probing the index — batch-vs-corpus only,
    * never corpus-vs-corpus. Candidates are then exact-verified by
    * shingle Jaccard ≥ 0.7, with the corpus shingle fetch semi-joined to
    * candidate docs only. Per-batch cost ∝ batch signatures + candidate
    * verification, NEVER corpus size — the historical side is touched
    * through the band equi-join and the candidate slice alone, which is
    * what keeps daily increments tractable against a 100 TB history.
    * Split is deterministic (batch = doc_id % 5 == 0); the stop-shingle
    * df table rides the index in production, so both sides here use the
    * same whole-corpus df the oracle recomputes. Recall argument =
    * dedup_minhash's: every J≥0.7 pair on this corpus sits ≥0.89, far
    * above the 8×4 banding's miss zone, so the output equals the EXACT
    * cross-split pair set and DuckDB hash-checks it. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val isBatch = col("doc_id") % 5 === 0
    // the persisted index: band signatures of the CORPUS (historical) docs
    val idx = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_dedup_index_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val marker = new java.io.File(idx, "_READY")
    val srcSig = graft.StageMarker.sig(new java.io.File(s"$dir/documents.parquet"))
    if (!graft.StageMarker.fresh(marker, srcSig)) {
      graft.delta.DeltaWriter.write(
        bandedSigs(minhashSignatures(s, dir).filter(!isBatch)),
        idx.toString, Nil, "overwrite")
      graft.StageMarker.write(marker, srcSig)
    }
    val index = graft.delta.DeltaSnapshotReader.load(s, idx.toString)
    // batch probe: band the incoming docs, equi-join into the index
    val batchBanded = bandedSigs(minhashSignatures(s, dir).filter(isBatch))
    val cand = batchBanded.as("n")
      .join(index.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_hash") === col("o.band_hash"))
      .select(col("n.doc_id").as("doc_new"), col("o.doc_id").as("doc_old"))
      .distinct()
      .cache()
    // exact verification on the candidate slice (no broadcast hints —
    // same AQE rule as dedupMinhash; candidates are a heuristic, not a
    // bound)
    val sh = filteredShingles(s, dir)
    val candDocs = cand.select(col("doc_new").as("doc_id"))
      .union(cand.select(col("doc_old").as("doc_id"))).distinct()
    val shc = sh.join(candDocs, Seq("doc_id"), "left_semi").cache()
    val sizes = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(shc.select(col("doc_id").as("doc_new"), col("shingle")), Seq("doc_new"))
      .join(shc.select(col("doc_id").as("doc_old"), col("shingle")), Seq("doc_old", "shingle"))
      .groupBy(col("doc_new"), col("doc_old")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_new"), col("n_sh").as("na")), Seq("doc_new"))
      .join(sizes.select(col("doc_id").as("doc_old"), col("n_sh").as("nb")), Seq("doc_old"))
      .filter(col("common") * 10 >= (col("na") + col("nb") - col("common")) * 7)
      .select(col("doc_new"), col("doc_old"),
        round(col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"), 6).as("jaccard"))
      .orderBy(col("doc_new"), col("doc_old"))
  }

  /** Exact n-gram Jaccard ≥ 0.5 pairs via the direct shingle self-join
    * (one shuffle + partially-aggregated pair counts; the stop-shingle
    * filter bounds per-key fanout to df² ≤ ${StopShingleDf}²).
    *
    * Measured note: a PPJoin prefix-filtered variant (candidates from the
    * ⌊n/2⌋+1 rarest shingles, then exact verification of candidates) was
    * implemented and benchmarked at sf0.1 — it was ~2-3× SLOWER here: the
    * per-doc window + candidate-verification joins re-shuffle the shingle
    * table twice more, which outweighs the halved join input when sets
    * are small and the df cap already bounds collisions. Prefix filtering
    * earns its keep on long documents / high thresholds, not this shape. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = filteredShingles(s, dir)
    // per-doc set sizes: one row per doc = O(corpus) → NO broadcast hint
    // (would OOM executors on a billion-doc corpus); AQE still picks a
    // broadcast join at small scale from runtime stats, and falls back to a
    // shuffle join when the corpus is genuinely large.
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .filter(col("common") * 2 >= (col("na") + col("nb") - col("common"))) // J >= 0.5
      .select(col("doc_a"), col("doc_b"), col("common"), col("na"), col("nb"),
        round(col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash fingerprints (custom typed aggregate over token hashes) +
    * near-dup pairs by 16-bit-band LSH and hamming distance. The token
    * hash is the first 60 bits of md5 — engine-neutral (md5 is bit-
    * identical in Spark and DuckDB, xxhash64 is Spark-only), which is what
    * lets [[oracle]] recompute the EXACT fingerprints and promote this key
    * to a full DuckDB hash oracle (VERDICT r10 #4). 60 hash bits means a
    * 60-bit effective fingerprint (counters for bits 60-63 are -count < 0
    * → bits clear on both engines); the 4×16 banding recall proof is
    * untouched: ≤3 differing bits touch ≤3 of the 4 bands. */
  def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    val simhash = udaf(SimHashAgg)
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("doc_id"))
      .agg(simhash(col("h")).as("simhash"))
  }

  /** Near-dup pairs at hamming ≤ 3 over SimHash fingerprints. The banded
    * join is EXACT here, not approximate: by pigeonhole, fingerprints
    * differing in ≤3 bits agree on ≥1 of the 4 disjoint 16-bit bands, so
    * banding has guaranteed recall at this radius and the hamming≤3
    * post-filter gives exact precision — the output IS the exact pair set
    * {(a,b) : hamming(fp_a, fp_b) ≤ 3}, which the DuckDB oracle recomputes
    * from scratch (bit-counter simhash in SQL). At 100 TB the shape is the
    * minhash one: band equi-join (occupancy n/2¹⁶ per band value), never
    * an all-pairs comparison. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val fp = simhashFingerprints(s, dir)
    // 4 bands of 16 bits: two fingerprints within hamming 3 share ≥1 band
    val banded = fp.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("doc_id", "simhash", "band_idx", "band_val")
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val EmbedBands = 6      // SRP bands
  val EmbedBandBits = 16  // hyperplanes (= sign bits) per band, at ≤ ref size
  val EmbedTau = 0.999    // near-dup cosine threshold

  /** Corpus size at which the 16-bit bands are calibrated. Above it the
    * band width GROWS with log2(n) ([[embedBandBits]]): with fixed 16-bit
    * bands, random band-value collisions scale as n²/2¹⁶ — measured
    * superlinear (exp 1.14) at a 64× corpus in the r14 scale fit — while
    * widening the band by ceil(log2(n/ref)) bits pins expected occupancy
    * at the calibrated level, so candidates stay O(n). Every test-data
    * scale (sf0.001/0.01/0.1 ≤ 2100 vectors incl. planted) sits under the
    * ref, so oracle-verified behavior is bit-identical; only synthesized
    * probe corpora widen. */
  val EmbedRefCount = 4096L

  /** Band width for a corpus of `n` vectors: 16 bits up to
    * [[EmbedRefCount]], +1 bit per doubling beyond. Recall floor: a
    * planted cos ≈ 0.99995 pair agrees per hyperplane w.p. ≈ 0.9968, so
    * at the 64× corpus (n ≈ 134k → 22 bits) a band matches w.p.
    * 0.9968²² ≈ 0.93 and all six miss w.p. ≈ 1e-7 — five orders under
    * the corpus's planted-pair count. */
  def embedBandBits(n: Long): Int = {
    val extra =
      if (n <= EmbedRefCount) 0
      else 64 - java.lang.Long.numberOfLeadingZeros((n - 1) / EmbedRefCount)
    // a band value is ONE packed bigint, so 64 bits is the physical
    // ceiling — beyond it SrpBands' bit packing would wrap mod 64 and
    // alias distinct hyperplanes onto the same bit (ADVICE r14; SrpBands
    // itself now refuses bits > 64 loudly). 64-bit bands keep expected
    // occupancy ≤ calibrated up to n ≈ 2⁶⁰ vectors — past any real corpus.
    math.min(EmbedBandBits + extra, 64)
  }

  /** Scaled-integer embedding vectors (vec_id, v: array<bigint>). */
  private def embedScaled(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("v"))
      .cache()

  /** Near-dup test corpus: the scaled vectors plus a DETERMINISTICALLY
    * perturbed copy of every 20th one (vec_id + 1,000,000; one coordinate
    * nudged by 2000·(1+k%5) at index k%64, k = vec_id div 20). The planted
    * copies have cosine ≥ 1 − δ²/(2|v|²) ≈ 0.99995 against their originals
    * (|v| ≈ 10⁶: the fixture vectors are unit-norm), while the corpus's
    * natural max pairwise cosine is ~0.51 (measured at sf0.001/0.01/0.1) —
    * so the exact cos ≥ [[EmbedTau]] pair set is exactly the planted pairs,
    * and DuckDB can recompute it from the same parquet with integer-exact
    * arithmetic (the augmentation happens AFTER float→int scaling on both
    * engines, so the two corpora are bit-identical). */
  def embedNearCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = embedScaled(s, dir)
    val planted = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("""transform(v, (x, i) ->
            IF(i = CAST((vec_id div 20) % 64 AS INT),
               x + 2000 * (1 + (vec_id div 20) % 5), x))""").as("v"))
    base.unionAll(planted)
  }

  /** Candidate pairs from the banded SRP join over [[embedNearCorpus]]
    * (exposed for the candidate-bound property test in DedupSimSpec):
    * 6 bands × [[embedBandBits]] deterministic hyperplanes; a pair is a
    * candidate if it collides in ANY band (equi-join on (band_idx,
    * band_val), the same shape as the simhash band join). The band width
    * grows with log2(n) past [[EmbedRefCount]], pinning per-band occupancy
    * — so candidate pairs are O(bands·n), a bounded shuffle join at every
    * scale (fixed 16-bit bands measured superlinear at 64× in r14), while
    * a planted cos ≈ 0.99995 pair misses all six bands with probability
    * ≲ 10⁻⁷ even at the widest drilled width.
    *
    * All band values come from ONE native codegen'd expression
    * ([[graft.functions.SrpBands]], here its `array<bigint>` form over the
    * already-scaled vectors): a single pass computes every hyperplane sign
    * (weights derived arithmetically from splitmix64 — deterministic across
    * runs/JVMs, no stored planes). Per-plane dot-product columns were
    * measured 2-3× slower here: their generated Java (96 inlined loops +
    * literal planes) made janino compilation the dominant cost. */
  /** The one live persisted corpus (ADVICE r15): embedCandidates used to
    * persist per CALL and never unpersist, so every distinct dir leaked a
    * cache entry for the session lifetime and repeated calls re-registered
    * the same plan. Re-entry for the SAME (session, dir) reuses the
    * persisted frame; switching dir (or session — a frame is bound to the
    * session that persisted it) evicts the previous one first, so at most
    * one corpus is ever cached. */
  @volatile private var persistedCorpus: (String, DataFrame) = null

  private def corpusPersisted(s: SparkSession, dir: String): DataFrame = synchronized {
    persistedCorpus match {
      case (d, df) if d == dir && (df.sparkSession eq s) => df
      case prev =>
        if (prev != null)
          try prev._2.unpersist(blocking = false) catch { case _: Exception => () }
        val df = embedNearCorpus(s, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persistedCorpus = (dir, df)
        df
    }
  }

  def embedCandidates(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SrpBands.register(s)
    // persisted: the width-sizing count below and the banding scan (and
    // [[dedupEmbedCos]]'s verify fetches — CacheManager keys on the
    // analyzed plan, so its identical corpus reuses this) each read the
    // materialized union instead of recomputing it (ADVICE r14); lifecycle
    // owned by [[corpusPersisted]] (ADVICE r15)
    val corpus = corpusPersisted(s, dir)
    // size-adaptive band width ([[embedBandBits]]): one cheap count pins
    // per-band occupancy so random collisions — and with them the
    // candidate set — stay linear in n instead of n²/2¹⁶
    val bits = embedBandBits(corpus.count())
    val banded = corpus
      .select(col("vec_id"),
        posexplode(call_function("srp_bands", col("v"),
          lit(EmbedBands), lit(bits))))
      .toDF("vec_id", "band_idx", "band_val")
    // candidates as id pairs only (a pair colliding in several bands would
    // otherwise be carried with its vectors through distinct)
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** Embedding near-dup pair set: SRP-banded candidates, exact scaled-
    * integer verification, every pair with cosine ≥ [[EmbedTau]] — the
    * same detect-then-verify shape as [[dedupMinhash]], DuckDB-oracle-
    * checked against the exact all-pairs cos ≥ τ set (feasible for the
    * oracle at verify scale; the engine path never materializes all
    * pairs). */
  def dedupEmbedCos(s: SparkSession, dir: String): DataFrame = {
    val emb = embedNearCorpus(s, dir)
    val cand = embedCandidates(s, dir)
    // vector fetches are unhinted equi-joins on vec_id: forcing a broadcast
    // here would ship O(candidates·dim) bytes to every executor, which is
    // unbounded on a collision-heavy corpus. AQE promotes to broadcast at
    // runtime when the candidate side measures small (PlanSpec locks the
    // no-hint rule).
    val candVa = emb.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .join(cand, Seq("vec_a"))
    val withVecs = emb.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      .join(candVa, Seq("vec_b"))
    val dot = expr("aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, p) -> acc + p)")
    val self = (c: String) => expr(s"aggregate(zip_with($c, $c, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, p) -> acc + p)")
    withVecs.select(col("vec_a"), col("vec_b"),
        (dot.cast("double") / (sqrt(self("va").cast("double")) * sqrt(self("vb").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= EmbedTau)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Duplicate-CLUSTER resolution: the near-dup pairs form a graph; a
    * curation pipeline needs its connected components (pick one canonical
    * doc per component, drop the rest). Implemented as iterative min-label
    * propagation over the edge list — each round is one join + one
    * aggregation, converging in graph-diameter rounds (the standard
    * DataFrame-native connected-components shape; lineage cut per round
    * with localCheckpoint). Emits (rep = component min doc_id, n_docs). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgramJaccard(s, dir).select(col("doc_a"), col("doc_b")).cache()
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .cache()
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 25) {
      val nbrMin = edges.join(labels, edges("doc_b") === labels("doc_id"))
        .groupBy(edges("doc_a").as("nid")).agg(min(col("label")).as("nmin"))
      val updated = labels.join(nbrMin, labels("doc_id") === nbrMin("nid"), "left")
        .select(col("doc_id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("next"))
        .localCheckpoint()
      changed = updated.filter(col("next") =!= col("label")).count()
      labels = updated.select(col("doc_id"), col("next").as("label"))
      iter += 1
    }
    labels.groupBy(col("label").as("rep"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("rep"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> (dedupClusters _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embed_cos" -> (dedupEmbedCos _)
  )

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM (SELECT doc_id,
        |        sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
        |      FROM documents)
        |GROUP BY h ORDER BY keeper""".stripMargin,
    // Exact recompute of the SimHash pipeline in SQL: same tokenization,
    // same 60-bit md5-prefix token hash, same signed bit counters with the
    // strict >0 tie rule, same hamming≤3 radius. Spark's banded-LSH output
    // equals this exact pair set unconditionally (pigeonhole recall — see
    // dedupSimhash), so the hash check pins fingerprints AND banding.
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv
        |  FROM toks WHERE length(tok) > 0
        |), bits AS (
        |  SELECT doc_id, b.bit,
        |    SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, generate_series(0, 59) AS b(bit)
        |  GROUP BY doc_id, b.bit
        |), fp AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
        |      AS simhash
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $ngramCte
         |SELECT doc_a, doc_b, common, sa.n_sh AS na, sb.n_sh AS nb,
         |  round(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE common * 2 >= (sa.n_sh + sb.n_sh - common)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // The oracle is the EXACT J≥0.7 pair set: on this corpus every such
    // pair's Jaccard is ≥0.89 (none in [0.7, 0.8)), where the 8-band×4-row
    // scheme's miss probability is ~1e-4 per pair — measured: the banded
    // LSH + exact-verification output equals the exact set at
    // sf0.001/0.01/0.1, so the hash check pins both the verification math
    // and full LSH recall.
    "dedup_minhash" ->
      s"""WITH $ngramCte
         |SELECT doc_a, doc_b,
         |  round(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE common * 10 >= (sa.n_sh + sb.n_sh - common) * 7
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the EXACT cross-split (batch vs corpus) J>=0.7 pair set — the
    // incremental probe's recall argument is dedup_minhash's, restricted
    // to pairs whose members straddle the doc_id % 5 split
    "dedup_incremental" ->
      s"""WITH $ngramCte
         |SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_new,
         |  CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS doc_old,
         |  round(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE common * 10 >= (sa.n_sh + sb.n_sh - common) * 7
         |  AND ((doc_a % 5 = 0) <> (doc_b % 5 = 0))
         |ORDER BY doc_new, doc_old""".stripMargin,
    // connected components of the near-dup pair graph via transitive
    // closure (recursive CTE); rep = min reachable doc_id
    "dedup_clusters" ->
      s"""WITH RECURSIVE $ngramCte,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM common
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE common * 2 >= (sa.n_sh + sb.n_sh - common)),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, r) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         |comp AS (SELECT u AS doc_id, MIN(r) AS rep FROM reach GROUP BY u)
         |SELECT rep, COUNT(*) AS n_docs FROM comp GROUP BY rep ORDER BY rep""".stripMargin,
    // EXACT all-pairs cos >= tau over the same augmented corpus the engine
    // builds (the float->int scaling and the perturbation are integer-exact
    // on both sides, so dot products and norms agree bit-for-bit; the
    // cosine is the same double expression tree). Feasible at verify scale
    // (n^2/2 pairs in DuckDB); the engine path is the banded-LSH one.
    "dedup_embed_cos" ->
      s"""WITH base AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM embeddings),
         |planted AS (
         |  SELECT vec_id + 1000000 AS vec_id,
         |    v[1:c] || [v[c+1] + d] || v[c+2:64] AS v
         |  FROM (SELECT vec_id, v,
         |          CAST((vec_id // 20) % 64 AS INT) AS c,
         |          2000 * (1 + (vec_id // 20) % 5) AS d
         |        FROM base WHERE vec_id % 20 = 0)),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         |scored AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS DOUBLE)
         |      / (sqrt(CAST(list_sum(list_transform(list_zip(a.v, a.v), p -> p[1] * p[2])) AS DOUBLE))
         |       * sqrt(CAST(list_sum(list_transform(list_zip(b.v, b.v), p -> p[1] * p[2])) AS DOUBLE))) AS cosine
         |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, round(cosine, 6) AS cosine
         |FROM scored WHERE cosine >= ${EmbedTau}
         |ORDER BY vec_a, vec_b""".stripMargin
  )

  private lazy val ngramCte: String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest(CASE WHEN len(t) >= 3
       |        THEN list_transform(generate_series(1, len(t) - 2),
       |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |        ELSE [] END) AS shingle
       |    FROM toks)),
       |keep AS (
       |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= ${StopShingleDf}),
       |fsh AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM fsh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       |  FROM fsh a JOIN fsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
}

/** 64-bit SimHash as a typed aggregate: the buffer is the 64 signed bit
  * counters; integer arithmetic → merge-order independent. */
object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
  override def zero: Array[Int] = new Array[Int](64)
  override def reduce(buf: Array[Int], h: Long): Array[Int] = {
    var b = 0
    while (b < 64) {
      buf(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
      b += 1
    }
    buf
  }
  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(buf: Array[Int]): Long = {
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Long] =
    org.apache.spark.sql.Encoders.scalaLong
}
