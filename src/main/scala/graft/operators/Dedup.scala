package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{text, sketch}

/** Deduplication operators for the training-data pipeline, from exact to
  * similarity-based. Scale design notes per operator; the shared pattern
  * is: narrow per-row sketching (codegen), then ONE shuffle keyed so that
  * candidate duplicates co-locate, then per-bucket verification — never an
  * all-pairs comparison.
  *
  * A `shardblooms_*` directory in the asset warehouse, left by releases
  * that screened the incremental dedup queries through persisted
  * per-shard Bloom filters, is never read and can be deleted by hand;
  * `AssetStore.gcStale` also removes it once its corpus's fingerprint
  * is no longer live.
  */
object Dedup {

  /** Ordered (id_a < id_b) pair combinations from a SORTED posting-list
    * array — the one emission kernel shared by every inverted-index
    * join (n-gram prefix candidates, winnow fingerprint pairs), so a
    * fix to its slice bounds can't silently miss a twin copy.
    */
  private[operators] def orderedPairs(ids: String): Column =
    explode(expr(
      s"flatten(transform($ids, (a, i) -> " +
        s"transform(slice($ids, i + 2, size($ids) - i - 1), b -> struct(a AS id_a, b AS id_b))))"
    ))

  // --------------------------------------------------------------------
  // Exact dedup: hash-groupBy on content. One shuffle on the digest key;
  // at 100 TB the map-side partial agg collapses each partition's dups
  // before the exchange.
  // --------------------------------------------------------------------

  /** Cluster summary per content digest. */
  def exactClusters(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      .orderBy("h")

  /** DEDUP RATE BY SOURCE (round 16) — per source: document count,
    * exact duplicates (any doc whose digest was first seen under a
    * smaller doc_id, the first-seen-kept rule every exact tier here
    * uses), and the duplication rate in basis points. This is the
    * acquisition report a curation run reads before renegotiating a
    * feed: a source at 4000 bp is mostly re-crawl, and cutting it at
    * INGEST is 100 TB of scan the funnel never pays. The per-source
    * attribution is what the corpus-wide funnel (dedup_funnel) can't
    * say.
    *
    * Scale shape: one digest aggregation (the dedup_exact shuffle,
    * keyed on content hash), one digest-keyed join back, then a
    * sources-sized map-side-combined rollup — no new shuffle class.
    */
  def dedupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(coalesce(col("text"), lit(""))).as("h"))
    val first = h.groupBy("h").agg(min(col("doc_id")).as("first_id"))
    h.join(first, Seq("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("first_id"), 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_bp", expr("(10000 * n_dups) DIV n_docs"))
      .orderBy("source")
  }

  /** The deduplicated table itself: keep the min-id row per digest.
    * Aggregate+semi-join rather than a row_number window so the heavy
    * side shuffles once on the digest and no single partition must hold
    * a whole skewed cluster in sort order.
    */
  def exact(df: DataFrame, contentCols: Seq[Column], idCol: Column): DataFrame = {
    // the working digest column would silently shadow a caller column
    // of the same name (withColumn replaces): fail fast instead — the
    // Intervals.overlapJoin reserved-name rule, applied here after the
    // same bug class bit pipeline_mix's gate hash
    require(!df.columns.contains("__h"),
      "input already carries a column named __h (reserved by Dedup.exact)")
    // Single column hashes directly; multiple columns hash a JSON struct
    // encoding - a joined concat collides on column boundaries ("ab","" vs
    // "a","b") and on null-vs-empty (concat_ws skips NULLs).
    val h =
      if (contentCols.sizeIs == 1) md5(contentCols.head.cast("string"))
      else md5(to_json(struct(contentCols: _*)))
    // ONE aggregation: min_by keeps the min-id row per digest with
    // map-side partial aggregation — the former groupBy + semi-join pair
    // consumed the digest projection twice, re-running the source scan
    // and the md5 for the probe side (a second full corpus pass at
    // 100 TB unless the caller pre-persisted).
    // idCol.isNotNull first: min_by ignores null ordering keys, so a
    // digest group whose ids are ALL null would otherwise emit one
    // all-null row (__row.* of a null struct) — the old min + semi-join
    // dropped such groups, and dropping is the contract (a row without
    // an id can't be the kept representative of anything).
    df.filter(idCol.isNotNull)
      .withColumn("__h", h)
      .groupBy(col("__h"))
      .agg(min_by(struct(df.columns.map(col): _*), idCol).as("__row"))
      .select(col("__row.*"))
  }

  /** Incremental dedup: a NEW ingestion batch checked against the
    * already-ingested corpus — the steady-state shape of a continuously
    * fed training pipeline, where re-deduplicating 100 TB from scratch
    * per batch is not an option. Each new doc is tagged `dup_of_old`
    * (content already ingested), `dup_of_new` (an earlier doc in the
    * same batch has it first), or `kept`.
    *
    * At production scale the old side is the stored DIGEST table (16
    * bytes/doc, maintained at ingest) — never a rescan of the corpus;
    * here both sides hash from the same table, split at `splitId`, and
    * the digest stage is persisted because old/new/first-seen all
    * consume it. One shuffle on the digest key for all three.
    *
    * The exact join is the one mechanism, and the `dedup_bloom*` query
    * names route here: a Bloom screen in front of it cannot change a
    * verdict and measured slower at every committed scale (SCALING.md).
    */
  def incremental(docs: DataFrame, splitId: Long): DataFrame = {
    // null-safe digest: md5(NULL) is NULL and a NULL key falls out of
    // every (null-unsafe) join below — the doc would silently VANISH
    // from the verdicts instead of being tagged. NULL text dedups as
    // empty content (file connectors read empty fields as NULL).
    val h = docs.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val old = h.filter(col("doc_id") < splitId)
      .select(col("h")).distinct().withColumn("is_old", lit(true))
    val nw = h.filter(col("doc_id") >= splitId)
    val firstNew = nw.groupBy("h").agg(min(col("doc_id")).as("first_id"))
    val out = nw
      .join(old, Seq("h"), "left")
      .join(firstNew, "h")
      .select(
        col("doc_id"),
        when(col("is_old"), "dup_of_old")
          .when(col("doc_id") =!= col("first_id"), "dup_of_new")
          .otherwise("kept").as("verdict"))
      .orderBy("doc_id")
    graft.engine.Caching.handoff(out, h)
  }

  /** Driver query: the id midpoint plays the ingest cut. `div` (floor
    * integer division) on both engines — a double-rounded cast would
    * disagree between Spark (truncate) and DuckDB (round-half-even).
    */
  def incrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = docs.agg(expr("max(doc_id) div 2").cast("long")).head().getLong(0)
    incremental(docs, split)
  }

  // --------------------------------------------------------------------
  // Line-level exact dedup (CCNet-style): dedup at sub-document
  // granularity — boilerplate headers/footers repeat across millions of
  // pages even when no two whole documents match.
  // --------------------------------------------------------------------

  /** Per-document line-duplication stats: how many of a doc's non-blank
    * lines also occur elsewhere in the corpus (including repeats within
    * the doc itself). High `dup_frac` flags boilerplate-heavy documents
    * for removal or line-scrubbing.
    *
    * Dataflow at 100 TB: lines are immediately reduced to an 8-byte
    * xxhash64, so the global count shuffle carries (hash) keys with
    * map-side partial aggregation — the dominant boilerplate lines
    * collapse per-partition before the exchange — and the count join back
    * onto the skinny (doc_id, hash) stream is hash-partitioned on the
    * same key. Line text never shuffles.
    */
  def lineStats(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), "\n")).as("line"))
      .withColumn("line", trim(col("line")))
      .filter(length(col("line")) > 0)
      .select(col("doc_id"), xxhash64(col("line")).as("lh"))
    val counts = lines.groupBy("lh").agg(count(lit(1)).as("n"))
    lines
      .join(counts, "lh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_lines"))
      // single exact division of two longs: bit-identical on any engine
      .withColumn("dup_frac", col("n_dup_lines").cast("double") / col("n_lines"))
      .orderBy("doc_id")
  }

  /** Driver query. The driver corpus has no newlines, so each doc is one
    * "line" and the stats degrade gracefully to whole-doc exact-dup
    * flags; DedupSpec proves the multi-line semantics on real multi-line
    * documents.
    */
  def lineStatsQuery(spark: SparkSession, dir: String): DataFrame =
    lineStats(Tables.documents(spark, dir))

  /** PREFIX-DUPLICATE groups — docs sharing their first `prefixLen`
    * characters, the boilerplate-header tell (scraped pages repeating a
    * site banner, dumps repeating a license block): the cheapest member
    * of the near-dup family, between exact-hash and shingle Jaccard.
    * Emits only multi-doc groups, labeled by min doc id, with the
    * keep-longest policy ([[graft.operators.Clustering]]'s canonical
    * rule): keep = argmax n_chars, min id on ties.
    *
    * Scale shape: the exchange carries `xxhash64(prefix)` — 8 bytes per
    * doc, never the text (the dedup_substring hash-vs-text grouping
    * contract: identical modulo ~2^-64 collisions, which the oracle
    * comparison empirically pins). One grouped aggregate with a
    * min/max-struct (map-side partial), one skinny join back; the
    * group row set is bounded by the duplicate mass, not the corpus.
    */
  def prefixDup(docs: DataFrame, prefixLen: Int = 48): DataFrame = {
    val p = docs
      .filter(col("text").isNotNull && length(col("text")) >= prefixLen)
      .select(col("doc_id"), col("n_chars"),
        xxhash64(substring(col("text"), 1, prefixLen)).as("ph"))
    val g = p.groupBy("ph")
      .agg(
        count(lit(1)).as("group_size"),
        min(col("doc_id")).as("group_id"),
        max(struct(col("n_chars"), (-col("doc_id")).as("negid"))).as("best"))
      .filter(col("group_size") >= 2)
    p.join(g, "ph")
      .select(col("group_id"), col("doc_id"), col("n_chars"), col("group_size"),
        (col("n_chars") === col("best.n_chars") &&
          (-col("doc_id")) === col("best.negid")).as("keep"))
      .orderBy("group_id", "doc_id")
  }

  def prefixDupQuery(spark: SparkSession, dir: String): DataFrame =
    prefixDup(Tables.documents(spark, dir))

  // --------------------------------------------------------------------
  // MinHash + LSH near-dedup
  // --------------------------------------------------------------------

  /** Per-doc MinHash signature over distinct word-shingles (single-pass
    * ShingleSet expression — see [[graft.functions.ShingleSet]]).
    *
    * Exact duplicates are collapsed to their min-id representative FIRST:
    * a cluster of n identical docs would otherwise collide with itself in
    * every band and blow the candidate join up quadratically — the
    * classic LSH failure mode at corpus scale. Exact-dup membership is
    * the exact-dedup operator's output; LSH only needs one signature per
    * distinct text.
    */
  private def signed(docs: DataFrame, shingleK: Int, numHashes: Int): DataFrame =
    docs
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select(
        col("doc_id"),
        // fused trim->tokenize->shingle->sort kernel: one text pass, and
        // the sorted output lets the verify join merge-count intersections
        sketch.tokenShingles(col("text"), shingleK).as("sh")
      )
      .filter(size(col("sh")) > 0)
      .withColumn("sig", sketch.minhash(col("sh"), numHashes))

  /** [[signed]] in its STORABLE form — `(doc_id, hs, sig)` where `hs`
    * is the sorted-distinct xxhash64'd shingle set (the representation
    * [[verifiedJaccard]] hashes into per call anyway, and the same
    * 8-byte-sorted layout [[ngramIndex]] persists) and `sig` the
    * minhash signature. Everything every minhash consumer needs —
    * banding reads `sig`, exact verification reads `hs` — with the
    * string shingles dropped before anything is shuffled or stored.
    */
  private def signedHashed(docs: DataFrame, shingleK: Int, numHashes: Int): DataFrame =
    signed(docs, shingleK, numHashes)
      .select(
        col("doc_id"),
        sort_array(array_distinct(transform(col("sh"), g => xxhash64(g)))).as("hs"),
        col("sig"))

  // (asset id) -> parquet path of the materialized signature table —
  // the minhash family's durable corpus asset (the [[ngramIndexTables]]
  // pattern): built once per (corpus fingerprint, shingleK, numHashes)
  // per warehouse, loaded (not rebuilt) by later JVMs and every other
  // consumer. Before this asset existed, dedup_minhash, dedup_clusters,
  // dedup_canonical and dedup_minhash_incremental each re-shingled,
  // re-signed and re-banded the corpus from raw text — four of the
  // bench's slowest queries paying the same corpus-wide pass.
  private val minhashSigTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test seam: builds this JVM ran for the minhash signature asset. */
  private[graft] val minhashAssetBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The materialized [[signedHashed]] table for `dir`'s documents.
    * `bands` is deliberately ABSENT from the address: banding is a
    * cheap per-query derivation from `sig` (slice + xxhash64), so one
    * signature asset serves every band configuration and both the
    * all-pairs and incremental consumers — only parameters that change
    * the stored bytes (shingle k, signature width, corpus content)
    * address the asset.
    */
  private def minhashSigAssetId(spark: SparkSession, dir: String,
      shingleK: Int, numHashes: Int): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
    s"minhashsig_k${shingleK}_h${numHashes}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  def corpusMinhashSignatures(spark: SparkSession, dir: String,
      shingleK: Int = 3, numHashes: Int = 128): DataFrame = {
    val assetId = minhashSigAssetId(spark, dir, shingleK, numHashes)
    val path = minhashSigTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          minhashAssetBuilds.incrementAndGet()
          signedHashed(Tables.documents(spark, dir), shingleK, numHashes)
            .write.mode("overwrite").parquet(staging)
        }))
    spark.read.parquet(path)
  }

  /** Default standing `documents.parquet` bytes below which the
    * minhash-pair and ngram-index increments return the cold build
    * instead (their `minStandingBytes` parameter): below it the
    * rebuild's corpus pass costs no more than the increment's fixed
    * costs (listing proof, file copies, a second write; SCALING.md).
    * The size comes from the file listing — zero jobs.
    */
  val IncrementMinStandingBytes: Long = 1L << 30

  /** Times a crossover gate chose the cold build — spec seam. */
  private[graft] val incrementRebuildSelections = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Candidate pairs via banding: signature split into `bands` bands of
    * `numHashes/bands` rows; docs agreeing on any band's hash co-locate
    * in one shuffle (`explode` -> groupBy-free self-join on the band
    * key). Collision probability per band is jaccard^rowsPerBand — the
    * standard S-curve. Exact shingle-set Jaccard verifies candidates, so
    * false positives cost only the verify join, never a wrong answer.
    *
    * Scale notes: exact duplicates should be removed first (a giant
    * all-identical cluster makes a quadratic bucket); the band join key
    * `(band, hash)` is high-cardinality so the shuffle spreads evenly,
    * and AQE splits any residual skewed bucket.
    */
  def minhashPairs(
      docs: DataFrame,
      shingleK: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.0
  ): DataFrame = {
    // The signature stage (tokenize -> shingle -> 128-way minhash) feeds
    // three consumers: the band explode and both sides of the verify
    // join. Without a persist each consumer recomputes the whole narrow
    // stage — measured ~3x the query time. At 100 TB this intermediate
    // IS a materialized table ([[corpusMinhashSignatures]]); here it is
    // cached for the call and released by the Caching.handoff below.
    val s = signedHashed(docs, shingleK, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.Caching.handoff(minhashPairsOn(s, numHashes, bands, threshold), s)
  }

  /** The band-candidate + exact-verify tail of [[minhashPairs]] over a
    * prebuilt `(doc_id, hs, sig)` signature table — the entry point the
    * durable asset serves. A parquet-backed `s` needs NO persist: the
    * three consumers are column-pruned scans (banding reads `sig`, the
    * verify join reads `hs`), each a fraction of the signature
    * computation they replace.
    *
    * Banding on SKINNY rows: (doc_id, band, bh) only. Carrying the
    * hashed-shingle arrays through the bands-x explode would multiply
    * the shuffled payload by `bands`; instead candidates join back to
    * the signature table, so the wide arrays move only for actual
    * candidate pairs.
    */
  def minhashPairsOn(
      s: DataFrame,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.0
  ): DataFrame = {
    val banded = mhBanded(s, numHashes, bands)
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // verify: fetch hashed shingle sets for candidate ids only — the
    // same sorted-merge verifier the n-gram join uses
    verifiedJaccardIdx(candidates, s.select(col("doc_id"), col("hs")))
      .filter(col("jaccard") >= threshold)
  }

  /** Skinny (doc_id, band, bh) band keys derived from `sig` — shared by
    * the all-pairs and incremental candidate joins.
    */
  private def mhBanded(s: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(col("sig"), b * r + 1, r)).as("bh")
      )
    }
    s.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh"))
  }

  // (asset id) -> parquet path of the VERIFIED PAIR TABLE — the second
  // rung of the minhash asset family: where [[corpusMinhashSignatures]]
  // materializes the per-doc signatures, this materializes the
  // threshold-cut verified pair graph built FROM them (band candidates
  // + exact sorted-merge Jaccard — [[minhashPairsOn]]). Real pipelines
  // keep exactly this artifact ("the near-dup edge list") next to the
  // corpus: clustering, canonical selection and the cross-source
  // matrix are all downstream reads of it, so none of them pays
  // banding or verification at query time. Threshold and band shape
  // are address components (a 0.7-cut graph can never serve 0.8).
  private val minhashPairTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test seam: pair-graph builds this JVM ran. */
  private[graft] val minhashPairBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The materialized verified pair table for `dir`'s documents at
    * `threshold` (permille in the address — asset ids stay dot-free).
    * Builds ride the signature asset, so a cold warehouse pays one
    * signature build + one banding/verify pass, total.
    */
  def corpusMinhashPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.7, shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 32): DataFrame =
    spark.read.parquet(
      minhashPairAssetPath(spark, dir, threshold, shingleK, numHashes, bands))

  /** Resolved (materialized) path of the verified pair asset — exposed
    * so pair-consumer queries can read its LISTING bytes as the
    * broadcast-gate signal ([[graft.engine.Skew.gatedBroadcast]], r18)
    * without touching the data.
    */
  private[graft] def minhashPairAssetPath(spark: SparkSession, dir: String,
      threshold: Double = 0.7, shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 32): String = {
    val assetId = minhashPairAssetId(spark, dir, threshold, shingleK, numHashes, bands)
    minhashPairTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          minhashPairBuilds.incrementAndGet()
          minhashPairsOn(corpusMinhashSignatures(spark, dir, shingleK, numHashes),
            numHashes, bands, threshold)
            .write.mode("overwrite").parquet(staging)
        }))
  }

  private def minhashPairAssetId(spark: SparkSession, dir: String,
      threshold: Double, shingleK: Int, numHashes: Int, bands: Int): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
    val tPermille = math.round(threshold * 1000)
    s"minhashpairs_k${shingleK}_h${numHashes}_b${bands}_t${tPermille}" +
      s"_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  /** Increment-path publishes / detected fallbacks of the verified
    * pair asset — spec seams.
    */
  private[graft] val minhashPairIncrementBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val minhashPairIncrementFallbacks = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Publish `dir`'s VERIFIED PAIR asset by INCREMENT from `oldDir`'s
    * (round 18 — closing the second-tier gap: before this, the first
    * pair-consumer query after an append re-banded and re-verified the
    * whole merged corpus). Under a pure append no standing signature
    * row changes, so the merged pair graph is exactly
    *
    *   old pairs ∪ verify(band-candidates with ≥1 BATCH side)
    *
    * — standing×standing pairs are already in the old asset (moved by
    * byte-level file copy, no decode), and every new pair has a batch
    * doc on at least one side, so candidates come from banding ONLY the
    * batch signatures against the full signature table (batch×batch
    * collisions surface there too and the least/greatest normalization
    * dedups the doubled orientation). Reads the cold-built signature
    * table of `dir` ([[corpusMinhashSignatures]]) — the one
    * corpus-shaped input is a column-pruned scan of it — so the
    * exact-duplicate collapse is the rebuild's: a batch doc
    * byte-identical to standing text has no signature row of its own
    * when its id lies above its standing twin's (every metadata-proven
    * append). The one corner that differs from a rebuild is a
    * digest-validated append whose byte-identical batch doc has the
    * LOWER id: the rebuild elects the batch doc as representative,
    * while the copied standing pairs still name the standing twin.
    * Metadata proof, digest-join fallback, full rebuild on an edit.
    * Below `minStandingBytes` of standing documents the cold build
    * runs instead ([[IncrementMinStandingBytes]]).
    */
  def corpusMinhashPairsIncrement(spark: SparkSession, oldDir: String, dir: String,
      threshold: Double = 0.7, shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 32, minStandingBytes: Long = IncrementMinStandingBytes): DataFrame = {
    val assetId = minhashPairAssetId(spark, dir, threshold, shingleK, numHashes, bands)
    // already published? serve it with zero builds
    graft.engine.AssetStore.resolveIfCommitted(spark, assetId).foreach { d =>
      minhashPairTables.putIfAbsent(assetId, d)
      return spark.read.parquet(d)
    }
    // crossover gate (r18, measured at sf1): below the threshold the
    // rebuild wins — BOTH paths band the full signature table (the
    // irreducible corpus-sized piece), so at low near-dup mass the
    // increment only adds fixed costs; past the gate the standing
    // pair-verify mass the increment skips (and the copy-forward of
    // the standing pair bytes) dominates
    if (graft.engine.AssetStore.tableBytes(spark, oldDir, "documents.parquet")
        < minStandingBytes) {
      incrementRebuildSelections.incrementAndGet()
      return corpusMinhashPairs(spark, dir, threshold, shingleK, numHashes, bands)
    }
    val meta = graft.engine.AssetStore.pureAppendByMetadata(
      spark, oldDir, dir, "documents.parquet", "doc_id")
    if (meta.isEmpty && docsPureAppendViolated(spark, oldDir, dir)) {
      minhashPairIncrementFallbacks.incrementAndGet()
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"minhash pair increment $oldDir -> $dir is not a pure append; rebuilding")
      return corpusMinhashPairs(spark, dir, threshold, shingleK, numHashes, bands)
    }
    val allSigs = corpusMinhashSignatures(spark, dir, shingleK, numHashes)
    // standing pair asset BEFORE entering the handle map
    // (recursive-update guard, same as every other increment publisher)
    val oldPath = minhashPairAssetPath(spark, oldDir, threshold, shingleK, numHashes, bands)
    val path = minhashPairTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          minhashPairIncrementBuilds.incrementAndGet()
          val conf = spark.sparkContext.hadoopConfiguration
          val src = new org.apache.hadoop.fs.Path(oldPath)
          val fs = src.getFileSystem(conf)
          fs.listStatus(src).foreach { st =>
            val n = st.getPath.getName
            if (!n.startsWith("_") && !n.startsWith("."))
              org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
                new org.apache.hadoop.fs.Path(staging, n), false, conf)
          }
          val batchIds = meta match {
            case Some(files) if files.nonEmpty =>
              spark.read.parquet(files: _*).select("doc_id")
            case _ => Tables.documents(spark, dir).select("doc_id")
              .join(Tables.documents(spark, oldDir).select("doc_id"),
                Seq("doc_id"), "left_anti")
          }
          val batchSigs = allSigs.join(batchIds, Seq("doc_id"), "left_semi")
          val cands = mhBanded(batchSigs, numHashes, bands)
            .select(col("band"), col("bh"), col("doc_id").as("id_x"))
            .join(mhBanded(allSigs, numHashes, bands)
              .select(col("band"), col("bh"), col("doc_id").as("id_y")), Seq("band", "bh"))
            .filter(col("id_x") =!= col("id_y"))
            .select(least(col("id_x"), col("id_y")).as("id_a"),
              greatest(col("id_x"), col("id_y")).as("id_b"))
            .dropDuplicates("id_a", "id_b")
          verifiedJaccardIdx(cands, allSigs.select(col("doc_id"), col("hs")))
            .filter(col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
            .write.mode("append").parquet(staging)
        }))
    spark.read.parquet(path)
  }

  /** Driver query: near-dup pairs at Jaccard >= 0.7. At this threshold
    * the 32-band x 4-row S-curve makes banding recall effectively exact:
    * a true pair at j >= 0.7 escapes every band with probability
    * (1-0.7^4)^32 ≈ 1.6e-4 (and the corpus's planted near-dups sit at
    * j >= 0.9, where it is (1-0.9^4)^32 ≈ 1.5e-15) — and the band hashes
    * are fixed constants, so on a fixed corpus the outcome is
    * deterministic, not a per-run gamble. Since candidate verification
    * uses the EXACT shingle-set Jaccard, the output matches the exact
    * all-pairs similarity join the DuckDB oracle computes on this
    * corpus — parity pinned empirically by the suite (recall < 1 by
    * construction, so this is a measured property of the data, not a
    * guarantee), which is what makes a probabilistic sketch
    * hash-checkable.
    */
  def minhashQuery(spark: SparkSession, dir: String): DataFrame =
    corpusMinhashPairs(spark, dir, threshold = 0.7)
      .orderBy(asc("id_a"), asc("id_b"))

  /** CROSS-SOURCE DUPLICATION MATRIX — the mix-design diagnostic
    * behind "how much does source X overlap source Y" (corpus buyers
    * ask exactly this before weighting a new crawl): near-dup pairs at
    * Jaccard >= `threshold` rolled up by canonicalized source pair,
    * with the pair count and the integer-quantized Jaccard mass
    * (sum of floor(j*10^4+0.5) — int64-summed, so the aggregate is
    * order- and engine-independent; the within-source diagonal stays
    * in the output because self-duplication rates matter too).
    *
    * Scale shape: a consumer of the materialized
    * [[corpusMinhashSignatures]] asset — no re-shingling; the verified
    * pair table is near-dup-mass-sized, so its broadcast onto the two
    * (doc_id, source) lookups is SIZE-GATED on the pair asset's listing
    * bytes ([[graft.engine.Skew.gatedBroadcast]]): under the gate the
    * corpus-side scans stay partition-local and pairs-sized rows are
    * all that ever moves; past it (a raw crawl at 20–40% near-dup
    * rates) the hints drop and AQE plans shuffled joins. The final
    * exchange is source-pairs-sized either way.
    */
  def crossSourceDupQuery(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val pairBytes = graft.engine.AssetStore.pathBytes(spark,
      minhashPairAssetPath(spark, dir, threshold = threshold))
    val pairs = corpusMinhashPairs(spark, dir, threshold = threshold)
      .select(col("id_a"), col("id_b"),
        floor(col("jaccard") * 10000 + 0.5).cast("long").as("jq"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val withA = src.select(col("doc_id").as("id_a"), col("source").as("sa"))
      .join(graft.engine.Skew.gatedBroadcast(pairs, pairBytes), Seq("id_a"))
    src.select(col("doc_id").as("id_b"), col("source").as("sb"))
      .join(graft.engine.Skew.gatedBroadcast(withA, pairBytes), Seq("id_b"))
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("jq"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("jq")).as("jaccard_q_sum"))
      .orderBy("source_a", "source_b")
  }

  /** INGEST-BATCH near-dup accounting via the minhash band index — the
    * approximate tier of the incremental family ([[incremental]] exact
    * digests, [[ngramIncremental]] exact Jaccard, [[cdcIncremental]]
    * chunk containment; this one answers "which batch docs are NEAR
    * copies of standing content, and of what"). Per batch doc with at
    * least one verified standing match at `threshold`: its best
    * standing match (highest exact Jaccard, smallest id tiebreak).
    *
    * Exact-dup copies of standing text are OUT OF SCOPE by design: the
    * signature stage collapses identical texts to their min doc_id (the
    * exact tier — [[incremental]] — owns those
    * verdicts), so this reports genuinely near-but-not-identical
    * arrivals, the ones no digest can catch.
    *
    * Scale shape = [[minhashPairs]] with the candidate join CUT to
    * standing × batch (the id split prunes both banded sides before the
    * join, so candidates are batch-sized × collision rate, never
    * corpus²); verification is the same exact sorted-merge Jaccard.
    * Banding recall at threshold is (1-(1-t^r)^b) < 1, so a qualifying
    * pair CAN deterministically be missed on unlucky data — parity with
    * the exact cross-split similarity join the oracle computes is
    * pinned EMPIRICALLY at the suite's corpus (the [[minhashQuery]]
    * convention: fixed band hashes on a fixed corpus make the outcome
    * deterministic, and the planted near-dups sit deep in the S-curve's
    * high-recall tail), not guaranteed by construction. The best match
    * is a min(struct) argmax — map-side partial, one skinny exchange.
    */
  def minhashIncremental(
      docs: DataFrame,
      splitId: Long,
      shingleK: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.7
  ): DataFrame = {
    val s = signedHashed(docs, shingleK, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.Caching.handoff(
      minhashIncrementalOn(s, splitId, numHashes, bands, threshold), s)
  }

  /** [[minhashIncremental]]'s tail over a prebuilt `(doc_id, hs, sig)`
    * signature table — the durable-asset entry point (see
    * [[minhashPairsOn]] for why a parquet-backed `s` needs no persist).
    */
  def minhashIncrementalOn(
      s: DataFrame,
      splitId: Long,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.7
  ): DataFrame = {
    val banded = mhBanded(s, numHashes, bands)
    val standing = banded.filter(col("doc_id") < splitId)
      .select(col("band"), col("bh"), col("doc_id").as("id_a"))
    val batch = banded.filter(col("doc_id") >= splitId)
      .select(col("band"), col("bh"), col("doc_id").as("id_b"))
    val candidates = standing.join(batch, Seq("band", "bh"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val verified = verifiedJaccardIdx(candidates, s.select(col("doc_id"), col("hs")))
      .filter(col("jaccard") >= threshold)
    verified
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("id_a").as("m"))).as("best"))
      .select(col("doc_id"), col("best.m").as("match_id"), (-col("best.nj")).as("jaccard"))
      .orderBy("doc_id")
  }

  /** Driver query: id-midpoint cut (the [[incrementalQuery]]
    * convention), Jaccard >= 0.7 like [[minhashQuery]], served from the
    * materialized signature asset.
    */
  def minhashIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = docs.agg(expr("max(doc_id) div 2").cast("long")).head().getLong(0)
    minhashIncrementalOn(corpusMinhashSignatures(spark, dir), split)
  }

  // --------------------------------------------------------------------
  // SimHash near-dedup: 64-bit signature, candidates = equal signature
  // band (4x16-bit chunks, Hamming<=3 within chunk-collision candidates).
  // --------------------------------------------------------------------

  /** SimHash pairs: chunk the 64-bit signature into 4 16-bit bands; by
    * pigeonhole, any pair within Hamming distance 3 agrees on at least
    * one full band — so unlike MinHash banding this candidate generation
    * is EXACT over the signature space, not probabilistic. Verify with
    * exact Hamming distance (bit_count).
    *
    * `md5Hash = true` (default, the driver query) votes with the
    * md5-derived token hash ([[graft.functions.SimHashMd5]]), which a
    * DuckDB oracle recomputes bit-for-bit; `false` uses the faster xxh64
    * kernel — identical dataflow, for when SQL parity is not needed.
    * Blank docs are excluded: every empty token array hashes to
    * signature 0 and a corpus of blanks would form one giant all-pairs
    * cluster (the same failure mode exact-dup pre-collapse avoids in
    * [[minhashPairs]]); blank-dedup belongs to the exact operator.
    */
  /** (doc_id, sim) SimHash signatures of token-bearing docs — the one
    * expression both pair queries and the durable asset build share.
    */
  private def simhashSignatures(docs: DataFrame, md5Hash: Boolean): DataFrame = {
    val toks = text.tokens(col("text"))
    docs
      .filter(size(toks) > 0)
      .select(
        col("doc_id"),
        (if (md5Hash) sketch.simhashMd5(toks) else sketch.simhash(toks)).as("sim"))
  }

  // asset-id -> path handle cache + build counter, the minhashsig contract
  private val simhashSigTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] val simhashAssetBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The corpus's SimHash signature table as a DURABLE content-addressed
    * asset (round 16 — the [[corpusMinhashSignatures]] pattern applied
    * to the signature family): the per-token md5 voting is the
    * expensive half of every SimHash query, paid ONCE per corpus here
    * and never again — dedup_simhash and dedup_simhash_incremental
    * both serve from the skinny (doc_id, sim) scan, and a midpoint cut
    * is an id slice of the one standing table (the banded-asset
    * convention). The signature kernel has no tunable parameters
    * beyond the layout version, so the address is just version +
    * corpus fingerprint.
    */
  def corpusSimhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val assetId = simhashSigAssetId(spark, dir)
    val path = simhashSigTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          simhashAssetBuilds.incrementAndGet()
          simhashSignatures(Tables.documents(spark, dir), md5Hash = true)
            .write.mode("overwrite").parquet(staging)
        }))
    spark.read.parquet(path)
  }

  private def simhashSigAssetId(spark: SparkSession, dir: String): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
    s"simhashsig_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  /** [[simhashPairs]]' tail over a prebuilt (doc_id, sim) signature
    * table — the asset entry point.
    */
  def simhashPairsOn(s: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunked = simhashChunked(s)
    val a = chunked.select(col("chunk"), col("ck"), col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("ck"), col("doc_id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk", "ck"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** The 4×16-bit pigeonhole band projection of a signature table. */
  private def simhashChunked(s: DataFrame): DataFrame = {
    val chunkCols = (0 until 4).map { c =>
      struct(
        lit(c).as("chunk"),
        shiftrightunsigned(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL)).as("ck")
      )
    }
    s.select(col("doc_id"), col("sim"), explode(array(chunkCols: _*)).as("b"))
      .select(col("doc_id"), col("sim"), col("b.chunk"), col("b.ck"))
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, md5Hash: Boolean = true): DataFrame =
    simhashPairsOn(simhashSignatures(docs, md5Hash), maxHamming)

  def simhashQuery(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOn(corpusSimhashSignatures(spark, dir))
      .orderBy(asc("hamming"), asc("id_a"), asc("id_b"))
      .limit(200)

  /** SIMHASH INCREMENTAL (round 16) — the signature family's member of
    * the incremental tier (exact / minhash / ngram / cdc / embed all
    * have one): each batch doc's best STANDING near-match by SimHash
    * Hamming distance, the midpoint-cut admission shape. Candidates
    * come from the same pigeonhole band join as [[simhashPairs]]
    * (4×16-bit chunks — EXACT for Hamming ≤ 3, not probabilistic),
    * restricted to standing×batch; best match = min Hamming, then min
    * standing id (the [[minhashIncrementalOn]] tiebreak).
    *
    * Scale shape: signatures are one narrow pass; the candidate join
    * is band-keyed standing×batch (never batch×batch or all-pairs);
    * the verdict rollup keys on the batch doc.
    */
  def simhashIncremental(docs: DataFrame, splitId: Long, maxHamming: Int = 3): DataFrame = {
    val s = simhashSignatures(docs, md5Hash = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.Caching.handoff(simhashIncrementalOn(s, splitId, maxHamming), s)
  }

  /** [[simhashIncremental]]'s tail over a prebuilt (doc_id, sim)
    * signature table (no persist needed for a parquet-backed `s` —
    * the [[minhashPairsOn]] argument).
    */
  def simhashIncrementalOn(s: DataFrame, splitId: Long, maxHamming: Int = 3): DataFrame = {
    val chunked = simhashChunked(s)
    val standing = chunked.filter(col("doc_id") < splitId)
      .select(col("chunk"), col("ck"), col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val batch = chunked.filter(col("doc_id") >= splitId)
      .select(col("chunk"), col("ck"), col("doc_id").as("id_b"), col("sim").as("sim_b"))
    standing.join(batch, Seq("chunk", "ck"))
      .select("id_a", "id_b", "sim_a", "sim_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(struct(col("hamming").as("h"), col("id_a").as("m"))).as("best"))
      .select(col("doc_id"), col("best.m").as("match_id"), col("best.h").as("hamming"))
      .orderBy("doc_id")
  }

  /** Driver query: id-midpoint cut, Hamming ≤ 3 like [[simhashQuery]],
    * served from the materialized signature asset (both sides of the
    * cut slice the one standing table — nothing re-signs at query
    * time).
    */
  def simhashIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(expr("max(doc_id) div 2")).head().getLong(0)
    simhashIncrementalOn(corpusSimhashSignatures(spark, dir), cut)
  }

  // --------------------------------------------------------------------
  // N-gram Jaccard (exact, via inverted index on shingles)
  // --------------------------------------------------------------------

  /** EXACT n-gram Jaccard similarity join with PREFIX FILTERING
    * (AllPairs/PPJoin family): instead of indexing every shingle of
    * every doc, index only each doc's `floor((1-t)·|A|) + 1`
    * globally-RAREST shingles (rarest-first total order by document
    * frequency, shingle value as tiebreak).
    *
    * Why that is still exact: `J(A,B) >= t` implies
    * `|A∩B| >= t·max(|A|,|B|)`, and the standard prefix lemma says two
    * sets with overlap >= α, both sorted by one global order, must
    * collide within their first `|X| - α + 1` elements — so every
    * qualifying pair shares at least one INDEXED shingle. Candidates
    * are then verified with the exact set Jaccard, so false positives
    * cost a join row, never a wrong answer.
    *
    * Why it scales: without the prefix, cost is sum over shingles of
    * df² and ONE corpus-common shingle (boilerplate header, license
    * blurb) makes the join quadratic in corpus size. Rarest-first
    * prefixes systematically exclude exactly those hot keys — a shingle
    * present in every doc sorts LAST in every doc's order and is never
    * indexed (unless a doc is so small the prefix is the whole set).
    * The bound is structural, not a tuning knob like a df cap, and
    * recall stays exact — the probabilistic MinHash path remains the
    * fallback when even prefixes blow up.
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.2): DataFrame =
    ngramJaccardPairs(docs, k, threshold, None)

  /** As above, with an optional PRECOMPUTED shingle document-frequency
    * table (`g`, `__df`) — the corpus-stats amortization path: the df
    * stage is the heaviest part of the prefix index (a full shingle
    * shuffle), and a pipeline that runs the exact join more than once
    * per corpus (standalone dedup + curation's near-dup stage today)
    * rebuilds it identically each time. Reusing a df table computed over
    * a SUPERSET corpus (or a stale snapshot) stays EXACT: the AllPairs
    * prefix lemma needs only a consistent total order on shingles, not
    * the true frequencies — rarest-first is an efficiency heuristic, and
    * verification is exact Jaccard regardless. At 100 TB this table is a
    * materialized corpus asset (like an IDF table), refreshed on corpus
    * rebuilds, not recomputed per query.
    */
  def ngramJaccardPairs(
      docs: DataFrame, k: Int, threshold: Double, dfTable: Option[DataFrame]): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "prefix filtering needs threshold in (0, 1]")
    val idx = ngramIndex(docs, k, dfTable)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = verifiedJaccardIdx(prefixCandidatesIdx(idx, threshold), idx)
      .filter(col("jaccard") >= threshold)
    graft.engine.Caching.handoff(pairs, idx)
  }

  /** The exact join over a PREBUILT (typically materialized — see
    * [[corpusNgramIndex]]) per-doc index: no shingling, no df join, no
    * per-doc sort at query time. The caller owns the index's lifetime.
    */
  def ngramJaccardPairsIndexed(idx: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "prefix filtering needs threshold in (0, 1]")
    verifiedJaccardIdx(prefixCandidatesIdx(idx, threshold), idx)
      .filter(col("jaccard") >= threshold)
  }

  /** Per-doc n-gram index — THE corpus asset behind the exact join:
    * `(doc_id, n, pg, hs)` where `n` = |shingle set|, `pg` = xxhash64 of
    * each shingle in corpus-rarest-first `(df, gram)` order (prefix
    * source: any threshold's prefix is a slice of it), and `hs` = the
    * same hashes sorted ascending (verification form). Gram STRINGS
    * never leave this builder: posting keys and verification both run
    * on 8-byte hashes. A hash collision can only MERGE two shingles —
    * adding a candidate pair or (with probability < n̄²·n_docs/2^64,
    * ~1e-10 at sf0.1) nudging one set size — never lose a qualifying
    * pair, so recall stays exact and verification is exact modulo that
    * bound. `dfTable` optionally supplies a superset corpus order (see
    * [[ngramJaccardPairs]]).
    */
  def ngramIndex(docs: DataFrame, k: Int = 3, dfTable: Option[DataFrame] = None): DataFrame =
    ngramIndexFromShingles(
      docs.select(col("doc_id"), sketch.tokenShingles(col("text"), k).as("s"))
        .filter(size(col("s")) > 0),
      dfTable)

  private def ngramIndexFromShingles(sh: DataFrame, dfTable: Option[DataFrame]): DataFrame = {
    val inv = sh.select(col("doc_id"), size(col("s")).as("n"), explode(col("s")).as("g"))
    // global document frequency per shingle: one shuffle on the gram key
    // (or zero, when a precomputed corpus table is supplied)
    // a supplied table may carry extra stats columns (gramDf also
    // publishes first_doc) — prune to the two the index consumes so
    // they don't ride the doc_id exchange below
    val dfs = dfTable.map(_.select(col("g"), col("__df")))
      .getOrElse(inv.groupBy("g").agg(count(lit(1)).as("__df")))
    // rank each doc's shingles rarest-first ((df, g) is a total order)
    // ARRAY-SIDE: fold each doc's (df, g) pairs with one hash aggregate,
    // sort the ~doc-length array, then hash. Replaces a row_number
    // window whose doc_id exchange had to SORT every row by
    // (doc_id, df, g) — per-doc array sorts beat the partition sort, and
    // rows per doc are bounded by doc length, so no skew hazard.
    // LEFT join + df=1 default so a df table that doesn't cover every
    // shingle (sub-corpus drift) degrades to "treat as rarest", never
    // drops a shingle row (an inner join here would silently break the
    // prefix lemma's coverage guarantee).
    inv.hint("shuffle_hash").join(dfs, Seq("g"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(1L)))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("__df"), col("g"))).as("dg"), first(col("n")).as("n"))
      .select(col("doc_id"), col("n"),
        expr("transform(array_sort(dg), x -> xxhash64(x.g))").as("pg"))
      .withColumn("hs", array_sort(array_distinct(col("pg"))))
  }

  // (corpus dir, k) -> parquet path of the materialized per-doc index.
  // A MATERIALIZED, DURABLE table, not a cache: consumer plans skip
  // shingling, the df aggregation and the per-doc rarest-first sort
  // entirely, and the artifact survives JVM teardown — published via
  // [[graft.engine.AssetStore]] under a warehouse-relative,
  // content-addressed path, exactly like a managed search index living
  // next to the corpus and refreshed on corpus rebuild.
  // Keyed by the FULL asset id (params + corpus fingerprint): the
  // fingerprint is recomputed on every call (metadata listing, no data
  // scan), so a same-JVM corpus rebuild misses the old handle and
  // resolves the new address instead of serving the stale index.
  private val ngramIndexTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Builds this JVM ran for the two n-gram corpus assets — the test
    * seam for the load-instead-of-rebuild contract.
    */
  private[graft] val ngramAssetBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Test seam: forget the in-JVM asset paths (simulates a fresh JVM). */
  private[graft] def dropInMemoryNgramTables(): Unit = {
    ngramIndexTables.clear(); gramDfTables.clear(); chunkDigestTables.clear()
    minhashSigTables.clear(); minhashPairTables.clear(); simhashSigTables.clear()
  }

  /** The materialized [[ngramIndex]] for `dir`'s documents, built ONCE
    * per (corpus, k) per WAREHOUSE (loaded, not rebuilt, by later JVMs);
    * every exact-ngram consumer afterwards (standalone query, curation
    * near-dup stage, any session) reads the materialized copy.
    * Sub-corpus consumers semi-join their doc ids against it — the
    * corpus-wide rarest-first order stays exact for any subset (the
    * prefix lemma needs only a consistent order).
    */
  def corpusNgramIndex(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val assetId = ngramIdxAssetId(spark, dir, k)
    val path = ngramIndexTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          ngramAssetBuilds.incrementAndGet()
          ngramIndex(Tables.documents(spark, dir), k).write.mode("overwrite").parquet(staging)
        }))
    spark.read.parquet(path)
  }

  private def ngramIdxAssetId(spark: SparkSession, dir: String, k: Int): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
    s"ngramidx_k${k}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  private def ngramOrderAssetId(spark: SparkSession, dir: String, k: Int): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
    s"ngramidxord_k${k}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  /** Marker file the INCREMENT writes inside the index asset, binding
    * the order provenance to the index itself: present = the postings
    * were built under the pinned `ngramidxord` order; absent = a full
    * build, whose order is the corpus's own df. Spark ignores
    * underscore files on read. Without the marker, a crash between the
    * order publish and the index publish followed by a direct FULL
    * build at the same address would leave a committed order asset
    * next to a current-order index — and a consumer trusting the order
    * asset alone would probe with the wrong order.
    */
  private val NgramOrderMarker = "_GRAFT_DFORDER"

  /** THE (df, gram) TOTAL ORDER `dir`'s prefix index is built under —
    * the consistency contract every cross-index consumer must share
    * (round 18). The prefix lemma's exactness needs one CONSISTENT
    * total order across all indexed and probing documents, not fresh
    * frequencies; an increment-built index therefore pins the order
    * its FOUNDING full build used and carries it forward verbatim
    * across appends (the `ngramidxord` asset), while a full-built
    * index's order is simply the corpus's own df table. Consumers that
    * index NEW text against the corpus asset (the near-dup ingest
    * gate, [[ngramIncrementalPairs]] callers) must take their
    * `dfTable` from HERE — taking the current [[corpusGramDf]] against
    * an increment-built index would mix two orders and silently lose
    * candidate pairs. The verdict comes from the INDEX's own
    * provenance marker, so a committed order asset next to a
    * full-built index (a crashed-increment residue) is correctly
    * ignored.
    */
  def corpusNgramOrder(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    pinnedOrderPath(spark, dir, k)
      .map(p => spark.read.parquet(p))
      .getOrElse(corpusGramDf(spark, dir, k).select(col("g"), col("__df")))

  /** The committed pinned-order path for `dir`'s index, iff the index
    * itself declares it (provenance marker) — shared by the consumer
    * lookup and the increment's standing-side resolution.
    *
    * A marker WITHOUT its order asset is a hard error (round 19): the
    * index swears its postings were ranked under a pinned order, and
    * that order is gone (e.g. the warehouse was pruned of the
    * `ngramidxord` asset but not the index). Degrading to the
    * current-df order here would be exactly the order mixing the
    * contract forbids — a consumer would probe an increment-built
    * index with a DIFFERENT total order and silently lose candidate
    * pairs. Fail with the remedy instead: rebuild the index (a full
    * build carries no marker and needs no order asset).
    */
  private def pinnedOrderPath(spark: SparkSession, dir: String, k: Int): Option[String] =
    graft.engine.AssetStore.resolveIfCommitted(spark, ngramIdxAssetId(spark, dir, k))
      .filter { idx =>
        val p = new org.apache.hadoop.fs.Path(idx, NgramOrderMarker)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      .map { idx =>
        graft.engine.AssetStore.resolveIfCommitted(spark, ngramOrderAssetId(spark, dir, k))
          .getOrElse(throw new IllegalStateException(
            s"ngram index at $idx declares a pinned order (marker " +
              s"$NgramOrderMarker) but the ${ngramOrderAssetId(spark, dir, k)} " +
              "asset is missing — probing it under the current df order " +
              "would silently lose candidate pairs. Rebuild the index " +
              "(corpusNgramIndex after clearing the committed asset) or " +
              "restore the order asset."))
      }

  /** NGRAM-ORDER STALENESS (round 19 — the r18 verdict's "rebuild the
    * index now" number). An increment chain keeps answers EXACT under
    * the pinned founding order, but pruning efficiency drifts as true
    * frequencies move away from the pin; until now nothing measured
    * that drift, so an operator on a long append chain had no signal
    * for WHEN a rebuild pays. This returns, for a pinned index only
    * (`None` when the index is full-built — its order IS the current
    * df):
    *
    *   - `ngram_order_rare_overlap_bp` — overlap (basis points) between
    *     the `topK` RAREST grams under the pinned order and under the
    *     current df order, measured over the SHARED vocabulary. The
    *     rare end is what the prefix lemma prunes with (each doc is
    *     indexed under its rarest prefixes), so displacement there is
    *     exactly the drift that costs candidates-verified; reordering
    *     among common grams is harmless. 10000 = the pin still ranks
    *     the rare end correctly.
    *   - `ngram_order_collision_bp` — the metric the r19 CALIBRATION
    *     (tools/StalenessCalib, SCALING.md) showed actually prices the
    *     drift: Σ df_current² over the PINNED rare head vs over the
    *     current rare head, in basis points (10000 = the pin's prefix
    *     grams are as selective as a rebuild's). Overlap measures
    *     displacement BREADTH; candidate cost is driven by DEPTH — a
    *     handful of formerly-rare grams going viral reads ~9950
    *     overlap ("healthy") while generating 765× the candidate
    *     volume, and this ratio is what catches it (df² is the
    *     posting-list collision mass a prefix gram generates).
    *   - `ngram_order_new_gram_bp` — share of the current vocabulary
    *     absent from the pin. Context, not drift: unseen grams take
    *     the documented df=1 rarest-fallback (maximal selectivity), so
    *     a high new-gram share with high rare overlap is healthy
    *     vocabulary growth — UNLESS the new grams are themselves
    *     common (batch template boilerplate), which the collision
    *     ratio does not see (new grams are outside the pin); that
    *     corner is the next metric's job.
    *   - `ngram_order_new_collision_bp` (round 20 — the r19
    *     calibration's named blind spot, thresholded): Σ df_current²
    *     over the `kEff` WORST new grams (absent from the pin, top by
    *     current df — under the df=1 fallback EVERY new gram outranks
    *     every pinned gram, so a doc's new grams land in its prefixes
    *     whatever their true frequency), vs the current rare head's
    *     mass. Healthy growth (new grams genuinely rare) reads ≈10000;
    *     template boilerplate arriving common reads orders of
    *     magnitude above it while `collision_bp` stays at a clean
    *     10000 (the shared vocabulary never moved) — the
    *     arrives-common case only this row catches. Calibrated by the
    *     StalenessCalib template rung (SCALING.md).
    *
    * Cost: vocabulary-sized — three bounded TakeOrdered heads (never an
    * unpartitioned window), two semi-joins, three counts over the two
    * committed gram tables. The current-df side is `dir`'s gram-stats
    * asset ([[corpusGramDf]]); the `assets_increment` flow publishes it
    * before this probe runs, and an uncommitted asset triggers the one
    * corpus-sized shingle build, WARN-logged with the cost named —
    * never silently. Computed at
    * `assets_increment` time and returned in the rows map
    * (`Graft.incrementAssets`); runbook threshold guidance in
    * SCALING.md (rebuild at collision_bp > ~30000 or
    * new_collision_bp > ~30000; rare overlap < 7000 secondary). The
    * head is clamped to HALF the shared vocabulary — with heads
    * spanning the whole vocabulary the two sets coincide by
    * construction and the metric reads a vacuous 10000 whatever the
    * reordering. Collision masses are summed in decimal and ratioed in
    * BigInt (round 20, advice fix): the viral-drift case this metric
    * exists to catch pushes Σ df² × 10⁴ past Long range on large
    * corpora, and an overflowed bp is exactly the garbage reading the
    * runbook must never act on.
    */
  def ngramOrderStaleness(spark: SparkSession, dir: String, k: Int = 3,
      topK: Int = 1024): Option[Map[String, Long]] =
    pinnedOrderPath(spark, dir, k).map { ordPath =>
      val pinned = spark.read.parquet(ordPath).select(col("g"), col("__df"))
      if (graft.engine.AssetStore.resolveIfCommitted(spark, gramDfAssetId(spark, dir, k)).isEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ngram staleness at $dir: gram-stats asset not committed — the " +
            "full corpus shingle pass runs now; publish the gram_stats " +
            "family first to keep this probe vocabulary-sized")
      val current = corpusGramDf(spark, dir, k).select(col("g"), col("__df"))
      val shared = current.join(pinned.select("g"), Seq("g"), "left_semi")
      val currentVocab = current.count()
      val sharedVocab = shared.count()
      val kEff = math.min(topK.toLong, math.max(1L, sharedVocab / 2)).toInt
      def rareHead(df: DataFrame) =
        df.orderBy(col("__df").asc, col("g").asc).limit(kEff).select("g")
      // pinned head restricted to still-shared grams: a gram can leave
      // the vocabulary only through a rebuild (appends never remove),
      // so the comparison population is the shared set on both sides
      val pinnedShared = pinned.join(shared.select("g"), Seq("g"), "left_semi")
      val overlap = rareHead(pinnedShared)
        .join(rareHead(shared), Seq("g"), "left_semi").count()
      // collision mass of each head at CURRENT frequencies: Σ df² over
      // the kEff grams each order would put in prefixes. Summed in
      // decimal(38,0): 1024 grams × df² at df ~1e9 overflows int64
      def headMass(head: DataFrame): BigInt =
        BigInt(graft.engine.DriverBudget.collect("Dedup.ngramOrderStaleness.mass", 1L)(
          head.join(current, Seq("g"))
            .agg(coalesce(
              sum(col("__df").cast("decimal(38,0)") * col("__df")),
              lit(0).cast("decimal(38,0)"))))
          .head.getDecimal(0).toBigInteger)
      // the pinned head ranked by the PIN's dfs, priced at current dfs
      val pinnedMass = headMass(rareHead(pinnedShared))
      val currentMass = headMass(rareHead(shared))
      // the worst NEW grams: under the fallback every unseen gram is
      // "rarest", so the ones that arrived COMMON are prefix grams with
      // collision mass the shared-vocab ratio never sees
      val newMass = headMass(
        current.join(pinned.select("g"), Seq("g"), "left_anti")
          .orderBy(col("__df").desc, col("g").asc).limit(kEff).select("g"))
      val newGrams = currentVocab - sharedVocab
      // BigInt ratio, clamped: a bp reading is 4-6 significant digits —
      // precision is free, overflow is the only way to get it wrong
      def bp(num: BigInt, den: BigInt, whenZero: Long): Long =
        if (den == 0) whenZero
        else (num * 10000 / den).min(BigInt(Long.MaxValue)).toLong
      Map(
        "ngram_order_rare_overlap_bp" ->
          (if (sharedVocab == 0) 10000L else overlap * 10000L / kEff),
        "ngram_order_collision_bp" -> bp(pinnedMass, currentMass, 10000L),
        // an empty current head with non-zero new mass is the most
        // drifted reading there is — never a clean 10000
        "ngram_order_new_collision_bp" ->
          bp(newMass, currentMass, if (newMass == 0) 10000L else Long.MaxValue),
        "ngram_order_new_gram_bp" ->
          (if (currentVocab == 0) 0L else newGrams * 10000L / currentVocab))
    }

  /** Increment-path publishes / detected fallbacks of the prefix-index
    * asset — spec seams.
    */
  private[graft] val ngramIdxIncrementBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val ngramIdxIncrementFallbacks = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Publish `dir`'s PREFIX INDEX asset by INCREMENT from `oldDir`'s
    * (round 18 — the last second-tier asset without one). Postings are
    * per-document, so standing part files move by byte copy; the one
    * corpus-shaped input the derivation has — the global (df, gram)
    * order the prefixes are ranked under — is PINNED rather than
    * refreshed: the batch is indexed under the order the standing
    * index was built with (committed `ngramidxord` asset when the
    * chain has one, else the standing corpus's own df table, which IS
    * a full-built index's order), and that order is re-published
    * verbatim at the new address so any chain of appends stays
    * mutually consistent. Exactness is unchanged — the prefix lemma
    * holds under ANY fixed total order (unseen batch grams take the
    * df=1 "rarest" fallback the index already defines), so candidate
    * generation stays complete and the exact verify makes every
    * consumer's ANSWER identical to a from-scratch rebuild's; only
    * pruning efficiency drifts as true frequencies move, which a
    * periodic rebuild resets. Same precondition discipline as the
    * pair increment; below `minStandingBytes` of standing documents
    * the cold build runs instead ([[IncrementMinStandingBytes]]).
    */
  def corpusNgramIndexIncrement(spark: SparkSession, oldDir: String, dir: String,
      k: Int = 3, minStandingBytes: Long = IncrementMinStandingBytes): DataFrame = {
    val assetId = ngramIdxAssetId(spark, dir, k)
    // already published? serve it with zero builds
    graft.engine.AssetStore.resolveIfCommitted(spark, assetId).foreach { d =>
      ngramIndexTables.putIfAbsent(assetId, d)
      return spark.read.parquet(d)
    }
    // crossover gate: below the measured threshold the rebuild's corpus
    // pass beats the increment's fixed costs (one text scan vs listing
    // + copies)
    if (graft.engine.AssetStore.tableBytes(spark, oldDir, "documents.parquet")
        < minStandingBytes) {
      incrementRebuildSelections.incrementAndGet()
      return corpusNgramIndex(spark, dir, k)
    }
    val meta = graft.engine.AssetStore.pureAppendByMetadata(
      spark, oldDir, dir, "documents.parquet", "doc_id")
    if (meta.isEmpty && docsPureAppendViolated(spark, oldDir, dir)) {
      ngramIdxIncrementFallbacks.incrementAndGet()
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ngram index increment $oldDir -> $dir is not a pure append; rebuilding")
      // the rebuild resets the chain: no order asset is published, so
      // corpusNgramOrder(dir) falls back to dir's own df — exactly the
      // order the rebuilt index encodes
      return corpusNgramIndex(spark, dir, k)
    }
    // standing assets BEFORE the handle map (recursive-update guard)
    val oldPath = {
      corpusNgramIndex(spark, oldDir, k)
      ngramIndexTables.get(ngramIdxAssetId(spark, oldDir, k))
    }
    // marker-aware: a committed order asset next to a FULL-built
    // standing index (crashed-increment residue) must be ignored — the
    // standing postings are ranked under the corpus's own df then
    val oldOrderCommitted = pinnedOrderPath(spark, oldDir, k)
    // re-publish the pinned order at the new address: a byte copy when
    // the chain already carries one, else one vocabulary-sized write of
    // the standing corpus's df table (= the full-built index's order)
    val conf = spark.sparkContext.hadoopConfiguration
    def copyDataFiles(from: String, to: String): Unit = {
      val src = new org.apache.hadoop.fs.Path(from)
      val fs = src.getFileSystem(conf)
      fs.listStatus(src).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
            new org.apache.hadoop.fs.Path(to, n), false, conf)
      }
    }
    val ordPath = graft.engine.AssetStore.resolve(spark, ngramOrderAssetId(spark, dir, k),
      staging => oldOrderCommitted match {
        case Some(src) => copyDataFiles(src, staging)
        case None => corpusGramDf(spark, oldDir, k).select(col("g"), col("__df"))
          .write.mode("overwrite").parquet(staging)
      })
    val order = spark.read.parquet(ordPath)
    val path = ngramIndexTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          ngramIdxIncrementBuilds.incrementAndGet()
          copyDataFiles(oldPath, staging)
          val batch = meta match {
            case Some(files) if files.nonEmpty => spark.read.parquet(files: _*)
            case _ => Tables.documents(spark, dir)
              .join(Tables.documents(spark, oldDir).select("doc_id"),
                Seq("doc_id"), "left_anti")
          }
          ngramIndex(batch, k, Some(order)).write.mode("append").parquet(staging)
          // order-provenance marker: this index's postings are ranked
          // under the pinned order asset, not the corpus's current df
          val mk = new org.apache.hadoop.fs.Path(staging, NgramOrderMarker)
          val out = mk.getFileSystem(conf).create(mk, true)
          try out.write(ngramOrderAssetId(spark, dir, k).getBytes("UTF-8"))
          finally out.close()
        }))
    spark.read.parquet(path)
  }

  /** Shingle stats table (`g`, `__df`, `first_doc`) for a corpus — the
    * shareable stats artifact behind the prefix index AND the novelty
    * pair. `__df` is the document frequency (the prefix-index order
    * key); `first_doc` is the gram's first corpus occurrence
    * (min doc id), which is all the novelty queries need: the min
    * rides the SAME map-side-combined aggregate as the count, so the
    * extra column is free at build time and replaces a second
    * corpus-wide join on hot grams at query time (round-15 fix for the
    * round-14 sf1 watch item). Skinny three-column output;
    * materialized by [[corpusGramDf]] for cross-run reuse.
    */
  def gramDf(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), sketch.tokenShingles(col("text"), k).as("s"))
      .filter(size(col("s")) > 0)
      .select(col("doc_id"), explode(col("s")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("__df"), min(col("doc_id")).as("first_doc"))

  // (corpus dir, k) -> parquet path of the materialized df table. A
  // MATERIALIZED, DURABLE table, not a cache: every consumer plan
  // replaces the full-corpus shingle aggregation (a map-side combine
  // over every exploded gram row + an exchange) with a scan of the
  // skinny stats table, published via [[graft.engine.AssetStore]] like
  // a managed IDF table living next to the corpus, refreshed on corpus
  // rebuild.
  // Keyed by the full asset id — same rationale as [[ngramIndexTables]].
  private val gramDfTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The corpus-wide df table for `dir`'s documents, built ONCE per
    * (corpus, k) per WAREHOUSE (loaded, not rebuilt, by later JVMs);
    * every exact-ngram consumer afterwards (standalone query, curation
    * near-dup stage, any session) reads the materialized copy.
    */
  /** Content address of [[corpusGramDf]]'s asset — shared with the
    * staleness probe's committed-only resolution (round 20).
    * Family id bumped gramdf -> gramdffd when first_doc joined the
    * schema (round 15): a same-id schema change would serve the stale
    * two-column table from any warehouse published by an older build.
    */
  private[graft] def gramDfAssetId(spark: SparkSession, dir: String, k: Int): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
    s"gramdffd_k${k}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  def corpusGramDf(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val assetId = gramDfAssetId(spark, dir, k)
    val path = gramDfTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          ngramAssetBuilds.incrementAndGet()
          gramDf(Tables.documents(spark, dir), k).write.mode("overwrite").parquet(staging)
        }))
    spark.read.parquet(path)
  }

  /** HEAPS-LAW VOCABULARY GROWTH CURVE (round 19) — distinct grams
    * bucketed by the id-decile of their FIRST corpus occurrence, read
    * straight off the durable gram-stats asset (`first_doc` joined the
    * schema in r15 for the novelty family — this is its corpus-level
    * rollup). A Heaps-ish curve (front-loaded but never dying) is
    * healthy lexical growth; a flat-then-spike tail says a late batch
    * brought a vocabulary regime change (new language, new template,
    * junk) — the chart tokenizer planning and ingest-novelty
    * thresholds are calibrated against, and the corpus-level twin of
    * text_ngram_novelty's per-doc number.
    *
    * Scale shape: a vocabulary-sized scan of the skinny asset, one
    * 1-row max broadcast (scalar bound), a 10-key map-side-combined
    * rollup. The corpus shingle pass ran at asset-publish time, never
    * here.
    */
  def heapsCurve(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val grams = corpusGramDf(spark, dir, k).select(col("first_doc"))
    val bound = Tables.documents(spark, dir).agg((max(col("doc_id")) + 1L).as("__n"))
    grams.crossJoin(broadcast(bound))
      .groupBy(expr("(first_doc * 10) DIV __n").as("decile"))
      .agg(
        count(lit(1)).as("n_new_grams"),
        min(col("first_doc")).as("first_doc_min"),
        max(col("first_doc")).as("first_doc_max"))
      .orderBy("decile")
  }

  /** Documents-side pure-append validation (the embeddings-side twin
    * lives in Similarity): every old doc_id present in `dir` with
    * unchanged text, compared by DIGEST so the validation join
    * shuffles 16-byte hashes instead of document bodies — the check
    * stays scan-bound at any corpus size. Equality is modulo md5
    * collisions (~2⁻¹²⁸), the engine's standing text-grouping
    * contract; null and empty text share a digest deliberately (both
    * shingle to nothing, so the guarded asset cannot tell them apart
    * either).
    */
  // verdict memo keyed by both fingerprints: two derived-asset
  // families (minhash pairs, ngram index) validate the same documents
  // pair per append publish —
  // the corpus digest join runs once, not once per family; the
  // fingerprints content-address the verdict (same contract as
  // AssetStore's proof memo)
  private val docsAppendVerdicts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def docsPureAppendViolated(spark: SparkSession, oldDir: String, dir: String): Boolean = {
    def fp(d: String) =
      graft.engine.AssetStore.corpusFingerprint(spark, d, "documents.parquet")
    docsAppendVerdicts.computeIfAbsent(s"$oldDir|$dir|${fp(oldDir)}|${fp(dir)}", _ =>
      !Tables.documents(spark, oldDir)
        .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("__old"))
        .join(
          Tables.documents(spark, dir)
            .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("__new")),
          Seq("doc_id"), "left")
        .filter(col("__new").isNull || col("__old") =!= col("__new"))
        .isEmpty)
  }

  /** Candidate (id_a, id_b) pairs from the rarest-first prefix index of
    * `sh` = (doc_id, s: array<shingle>). Exposed for the spec that
    * demonstrates the candidate bound under a corpus-common shingle.
    * `dfTable`, when given, replaces the in-plan df aggregation (see
    * [[ngramJaccardPairs]] for why a superset/stale table stays exact);
    * shingles absent from it default to df=1 — (df, g) stays a total
    * order, so the prefix bound still holds for every doc pair.
    */
  private[graft] def prefixCandidates(
      sh: DataFrame, threshold: Double, dfTable: Option[DataFrame] = None): DataFrame =
    prefixCandidatesIdx(ngramIndexFromShingles(sh, dfTable), threshold)

  /** Candidates from a prebuilt [[ngramIndex]].
    *
    * Prefix length = n - ceil(t*n) + 1 (the AllPairs lemma bound),
    * computed IN SQL from the threshold literal: interpolating the
    * Scala double 1.0-t bakes in its binary error (1.0-0.8 =
    * 0.1999...96 -> a one-too-SHORT prefix at t=0.8, i.e. silently
    * missed pairs from an operator documented exact). The 1e-9 guard
    * absorbs the remaining representation noise in ceil's argument in
    * the SAFE direction only (a razor-edge t*n may lengthen the prefix
    * by one, never shorten it).
    *
    * Grouped emission, not a self-join: one shuffle folds the per-gram
    * posting list and ordered array combinations emit the candidate
    * pairs — a self-join would shuffle (and recompute) the prefix index
    * on BOTH sides for the identical pair set. Prefix keys are by
    * construction the LOW-df ones, so posting lists stay short.
    *
    * POSITIONAL filter (PPJoin, Xiao et al. WWW'08): a shared gram at
    * 1-based positions (i, j) of the two docs' sorted shingle orders
    * bounds the intersection by min(i,j)-1 (common elements that can
    * precede it) + 1 (itself) + min(n_a-i, n_b-j) (common elements
    * that can follow), so a pair every one of whose shared prefix
    * grams fails `bound >= ceil(t/(1+t) * (n_a+n_b))` cannot reach
    * Jaccard t and is pruned BEFORE the verification join. Exactness:
    * if the pair qualifies, its FIRST common gram in the global order
    * is in both prefixes (the AllPairs lemma) and passes the bound
    * (nothing common precedes it), so the pair survives. The -1e-9
    * ceil guard errs toward a smaller required overlap — keeping a
    * razor-edge candidate, never dropping one. (At low thresholds the
    * bound degenerates toward a length filter; it bites hardest at the
    * high thresholds curation uses.)
    */
  private[graft] def prefixCandidatesIdx(idx: DataFrame, threshold: Double): DataFrame = {
    // posexplode: the 0-based slot of each prefix shingle in the doc's
    // FULL rarest-first order (the slice starts at element 1, so slot
    // p means position i = p + 1) — position feeds the PPJoin bound
    val prefix = idx.select(col("doc_id"), col("n"), posexplode(expr(
      s"slice(pg, 1, int(n - ceil($threshold * n - 1e-9) + 1))")).as(Seq("p", "g")))
    val minOverlapScale = threshold / (1.0 + threshold)
    prefix
      .select(col("g"),
        struct(col("doc_id"), col("n"), (col("p") + 1).as("i")).as("e"))
      // collect_list, not collect_set: a doc contributes each prefix
      // gram once by construction (shingles are a set), and list skips
      // the per-element dedup hashing in the aggregation buffer
      .groupBy("g").agg(sort_array(collect_list(col("e"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(orderedPairs("ids").as("pr"))
      // id_a != id_b: two distinct shingles of ONE doc colliding in 64
      // bits would put the doc twice in a posting list and emit a
      // self-pair (jaccard 1) — astronomically unlikely, but free to
      // exclude structurally
      .filter(expr(
        s"pr.id_a.doc_id != pr.id_b.doc_id AND " +
          s"least(pr.id_a.i, pr.id_b.i) + least(pr.id_a.n - pr.id_a.i, pr.id_b.n - pr.id_b.i)" +
          s" >= ceil($minOverlapScale * (pr.id_a.n + pr.id_b.n) - 1e-9)"))
      .select(col("pr.id_a.doc_id").as("id_a"), col("pr.id_b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle sets; only candidate rows carry the wide arrays.
    *
    * Verification runs on xxhash64-HASHED shingle arrays, not strings:
    * the second join below ships each surviving pair's first-side array
    * through an exchange, and 8-byte sorted longs cut that payload ~3x
    * and compare in one branch ([[graft.functions.SketchKernels
    * .sortedIntersectLong]]) instead of a byte-wise UTF8 compare.
    * Set cardinalities and intersections are preserved exactly unless
    * two distinct shingles of a compared pair collide in 64 bits —
    * P < n_docs·n̄²/2^64 ≈ 1e-10 at sf0.1 and still < 1e-4 for a
    * billion-doc corpus of 10k-shingle docs — and `array_distinct`
    * guards the sorted-distinct input contract even then, so a
    * collision can only merge two shingles, never double-count.
    */
  private def verifiedJaccard(candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val hashed = sh.select(
      col("doc_id"),
      sort_array(array_distinct(transform(col("s"), g => xxhash64(g)))).as("hs"))
    candidates
      .join(hashed.select(col("doc_id").as("id_a"), col("hs").as("s_a")), Seq("id_a"))
      .join(hashed.select(col("doc_id").as("id_b"), col("hs").as("s_b")), Seq("id_b"))
      // exact: integer-valued doubles divide identically on any engine;
      // the sorted sets merge-count in linear time (no per-row hash sets,
      // no union array — |a∪b| = |a|+|b|-|a∩b|)
      .withColumn("__i", sketch.sortedIntersectCountLong(col("s_a"), col("s_b")))
      .withColumn(
        "jaccard",
        col("__i").cast("double") / (size(col("s_a")) + size(col("s_b")) - col("__i"))
      )
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** [[verifiedJaccard]]'s twin over a prebuilt [[ngramIndex]], whose
    * `hs` column already carries the sorted hashed sets — no per-call
    * re-hash. Threshold cut left to the caller.
    */
  private def verifiedJaccardIdx(candidates: DataFrame, idx: DataFrame): DataFrame =
    candidates
      .join(idx.select(col("doc_id").as("id_a"), col("hs").as("s_a")), Seq("id_a"))
      .join(idx.select(col("doc_id").as("id_b"), col("hs").as("s_b")), Seq("id_b"))
      .withColumn("__i", sketch.sortedIntersectCountLong(col("s_a"), col("s_b")))
      .withColumn(
        "jaccard",
        col("__i").cast("double") / (size(col("s_a")) + size(col("s_b")) - col("__i"))
      )
      .select("id_a", "id_b", "jaccard")

  def ngramJaccardQuery(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsIndexed(corpusNgramIndex(spark, dir, 3), threshold = 0.2)
      .orderBy(asc("id_a"), asc("id_b"))

  /** Cross-side prefix candidates: PPJoin's prefix lemma is
    * side-agnostic (any pair with Jaccard >= t shares a prefix shingle
    * under ONE global order), so an old-corpus posting stream joined
    * against only the NEW side's prefixes yields exactly the
    * qualifying cross pairs — old-old and new-new pairs are never
    * generated, not generated-then-filtered. BOTH indexes must be
    * built under the same df order ([[ngramIndex]]'s `dfTable` hook;
    * the left-join df=1 fallback keeps shingles the table has never
    * seen consistently "rarest" on both sides).
    */
  private[graft] def prefixCandidatesCross(
      idxOld: DataFrame, idxNew: DataFrame, threshold: Double): DataFrame = {
    def prefix(idx: DataFrame, side: String) = idx
      .select(col("doc_id"), col("n"), posexplode(expr(
        s"slice(pg, 1, int(n - ceil($threshold * n - 1e-9) + 1))")).as(Seq("p", "g")))
      .select(col("g"),
        struct(col("doc_id"), col("n"), (col("p") + 1).as("i")).as(side))
    val minOverlapScale = threshold / (1.0 + threshold)
    prefix(idxOld, "a").hint("shuffle_hash").join(prefix(idxNew, "b"), Seq("g"))
      .filter(expr(
        s"a.doc_id != b.doc_id AND " +
          s"least(a.i, b.i) + least(a.n - a.i, b.n - b.i)" +
          s" >= ceil($minOverlapScale * (a.n + b.n) - 1e-9)"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Incremental NEAR-dedup: the exact n-gram Jaccard join of an
    * incoming batch against the existing corpus — the ingest-time
    * counterpart of [[ngramJaccardPairs]] the same way
    * [[incrementalDedup]] is exact dedup's. Emits each qualifying
    * (old doc, new doc) pair with its exact Jaccard; a gate keeps a
    * new doc iff it has no pair (policy stays with the caller, like
    * dedup_ngram).
    *
    * Dataflow at 100 TB: the old side's index and df table are the
    * MATERIALIZED corpus assets ([[corpusNgramIndex]] /
    * [[corpusGramDf]]) — only the new batch is shingled at ingest
    * time, under the corpus df order (exactness needs the shared total
    * order, not fresh frequencies — stale-df candidates stay a
    * superset). The posting join's new side carries only the batch's
    * prefixes, so candidate volume scales with the BATCH, not the
    * corpus; verification joins each side's own skinny index. No
    * corpus re-scan anywhere.
    */
  /** Verified exact-Jaccard cross pairs off two side indexes, renamed
    * to the (id_old, id_new) contract.
    */
  private[graft] def verifiedCrossPairs(
      oldIdx: DataFrame, newIdx: DataFrame, threshold: Double): DataFrame =
    prefixCandidatesCross(oldIdx, newIdx, threshold)
      .join(oldIdx.select(col("doc_id").as("id_a"), col("hs").as("s_a")), Seq("id_a"))
      .join(newIdx.select(col("doc_id").as("id_b"), col("hs").as("s_b")), Seq("id_b"))
      .withColumn("__i", sketch.sortedIntersectCountLong(col("s_a"), col("s_b")))
      .withColumn(
        "jaccard",
        col("__i").cast("double") / (size(col("s_a")) + size(col("s_b")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("id_old"), col("id_b").as("id_new"), col("jaccard"))

  def ngramIncrementalPairs(
      oldIdx: DataFrame, newDocs: DataFrame, dfTable: DataFrame,
      k: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "prefix filtering needs threshold in (0, 1]")
    val newIdx = ngramIndex(newDocs, k, Some(dfTable))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.Caching.handoff(
      verifiedCrossPairs(oldIdx, newIdx, threshold), newIdx)
  }

  /** Driver query: the dedup_incremental snapshot cut (old = doc_id
    * below half-max) as the standing corpus, the rest as the incoming
    * batch. BOTH sides are doc_id slices of the ONE materialized
    * corpus index ([[corpusNgramIndex]]) — a snapshot cut shares the
    * corpus df order by construction, so no per-query shingling, df
    * aggregation, or index sort at all; the pushed-down doc_id filter
    * does the slicing on the skinny parquet asset. By the exactness
    * argument the result equals dedup_ngram's pair set restricted to
    * old x new — the oracle states exactly that. (A true ingest batch,
    * absent from the corpus asset, takes [[ngramIncrementalPairs]]
    * instead — DedupSpec pins both paths to the same answer.)
    */
  def ngramIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val idx = corpusNgramIndex(spark, dir, 3)
    verifiedCrossPairs(
      idx.filter(col("doc_id") < cut), idx.filter(col("doc_id") >= cut),
      threshold = 0.2)
      .orderBy(asc("id_old"), asc("id_new"))
  }

  // --------------------------------------------------------------------
  // Embedding-cosine near-dup (see Similarity for the LSH machinery)
  // --------------------------------------------------------------------

  /** LSH-bucketed near-dup pairs ([[Similarity.cosineNearDupMulti]]):
    * per-bucket join cost instead of [[Similarity.cosineAllPairs]]'s
    * O(n²) broadcast nested loop, so the same plan survives a corpus
    * that no longer fits a broadcast. The oracle recomputes the
    * bucketing from the same seeded plane constants (see
    * [[Similarity.planesSqlValues]]), so the row set — including LSH's
    * inherent recall loss vs the exact all-pairs baseline, which the
    * test suite measures separately — is deterministic and
    * hash-checkable.
    */
  def embeddingNearDupQuery(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .cosineNearDupMulti(Tables.embeddings(spark, dir), threshold = 0.2, bits = 4, tables = 8)
      .orderBy(asc("id_a"), asc("id_b"))

  // --------------------------------------------------------------------
  // Exact SUBSTRING dedup: duplicated k-token spans ACROSS documents —
  // the span-level exact dedup that whole-doc and line-level dedup both
  // miss (quoted paragraphs, syndicated passages, license blocks mid-
  // document). The published formulation builds a corpus suffix array;
  // the distributed re-expression is a hashed rolling-window inverted
  // index: same duplicated-span semantics for spans >= k tokens, two
  // corpus passes, no global sort.
  // --------------------------------------------------------------------

  /** Per-document duplicated-span report: every maximal token span made
    * of k-token windows that also occur in at least one OTHER document
    * (cross-doc by contract — within-doc repetition is
    * [[TextAnalysis.repetitionQuery doc_repetition]]'s job).
    *
    * Shape at 100 TB: the window stage is ~n_tokens rows per doc but
    * each row is a skinny (hash, doc_id, pos) triple — the window TEXT
    * itself never shuffles (the kernel's rolled 64-bit polynomial hash
    * before the exchange, the [[lineDups]] trick at span granularity;
    * the composed spec path uses xxhash64 — equality classes agree, the
    * VALUES differ). Pass 1 groups window
    * hashes with map-side min/max partials (distinct-doc witness:
    * min(doc_id) != max(doc_id) — no countDistinct state); pass 2
    * joins occurrences back to the (much smaller) duplicated-hash set
    * on the SAME key, so AQE plans both exchanges hash-partitioned on
    * `h`. A boilerplate window shared by millions of docs contributes
    * its occurrence rows and nothing more — no pair emission, no
    * quadratic term anywhere. The island merge runs per doc (window
    * partitioned by doc_id, bounded by doc length).
    */
  /** (doc_id, pos, h) occurrence rows of every k-token window. The
    * kernel path is ONE fused codegen pass per doc
    * ([[graft.functions.TokenWindowHashes]]: rolled polynomial over
    * per-token hashes, no window text materialized); the composed path
    * is the executable spec of the same window semantics (HOF slice +
    * join + xxhash64) — DedupSpec asserts both mark the identical
    * duplicated (doc_id, pos) set.
    */
  private[operators] def windowOccurrences(
      docs: DataFrame, k: Int, kernel: Boolean): DataFrame =
    if (kernel)
      docs.select(
        col("doc_id"),
        posexplode(sketch.tokenWindowHashes(col("text"), k)).as(Seq("pos", "h")))
    else
      docs
        .select(col("doc_id"), text.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= k)
        .select(
          col("doc_id"),
          // tokens contain no whitespace (split on \s+), so a single-space
          // join is collision-free and matches the oracle's reconstruction
          explode(expr(
            s"transform(sequence(0, size(t) - $k), i -> " +
              s"struct(i AS pos, xxhash64(array_join(slice(t, i + 1, $k), ' ')) AS h))")).as("w"))
        .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))

  def substringSpans(docs: DataFrame, k: Int = 8, kernel: Boolean = true): DataFrame = {
    require(k >= 2, s"window k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val wins = windowOccurrences(docs, k, kernel)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = wins
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("h")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(byDoc)
    val spans = wins
      .join(dupHashes, Seq("h"))
      .select("doc_id", "pos")
      // windows at pos p cover tokens [p, p+k-1]; merge overlap-or-touch
      .withColumn("__new", when(prev.isNull || col("pos") > prev + k, 1).otherwise(0))
      .withColumn("__span", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__span"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k - 1)).as("e"))
    val out = spans
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"),
        min(col("s")).cast("long").as("first_pos"))
    graft.engine.Caching.handoff(out, wins)
  }

  def substringQuery(spark: SparkSession, dir: String): DataFrame =
    substringSpans(Tables.documents(spark, dir), k = 8).orderBy("doc_id")

  /** Substring SCRUB — act on [[substringSpans]]'s report: every
    * duplicated k-token window occurrence is REMOVED from every doc
    * except the window's min-doc_id owner (keep-one semantics, the
    * published exact-substring-dedup contract, with the survivor pinned
    * deterministically — symmetric removal would destroy the text in
    * every copy). Output per doc: token counts before/after and an
    * md5 fingerprint of the cleaned text (space-joined kept tokens), so
    * the redaction itself is oracle-checkable, like text_pii.
    *
    * Dataflow: the two skinny window passes of [[substringSpans]], then
    * removable token positions (explode to (doc_id, tokpos), distinct —
    * bounded by corpus token count), collected SORTED per AFFECTED doc
    * only and joined back to the corpus (untouched docs carry a null
    * set and skip the rewrite). The rewrite is the fused
    * [[graft.functions.ScrubJoin]] kernel: one text pass per doc with a
    * two-pointer merge against the sorted removal positions —
    * O(tokens + removed), where the `filter + array_contains` HOF twin
    * (kept as the property-test oracle in DedupSpec) pays
    * O(tokens × removed) on heavily-duplicated docs. Doc text still
    * never shuffles: only int position sets move.
    */
  def substringScrub(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"window k must be >= 2, got $k")
    val wins = windowOccurrences(docs, k, kernel = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val minDoc = wins.groupBy(col("h")).agg(min(col("doc_id")).as("__mn"))
    val remSet = wins
      .join(minDoc, Seq("h"))
      .filter(col("doc_id") > col("__mn"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("tp"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("tp"))).as("rem"))
    val out = docs
      .select(col("doc_id"), col("text"))
      .filter(sketch.tokenCount(coalesce(col("text"), lit(""))) > 0)
      .join(remSet, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        sketch.tokenCount(col("text")).cast("long").as("n_tokens"),
        when(col("rem").isNull, 0L).otherwise(size(col("rem")).cast("long")).as("n_removed"),
        md5(sketch.scrubJoin(
          col("text"),
          coalesce(col("rem"), expr("cast(array() as array<int>)")))).as("clean_fp"))
    graft.engine.Caching.handoff(out, wins)
  }

  def substringScrubQuery(spark: SparkSession, dir: String): DataFrame =
    substringScrub(Tables.documents(spark, dir), k = 8).orderBy("doc_id")

  /** Cross-source LEAKAGE matrix: for every duplicated k-token window
    * occurrence outside its min-doc owner, attribute one count to
    * (owner's source -> duplicating source) — the "how much of source B
    * is copied from source A" diagnostic that decides whether a new
    * crawl actually adds tokens or re-ingests an existing slice (and
    * the generalized form of train/eval contamination, which the
    * `contamination` operator covers for a broadcast eval set).
    *
    * Same two skinny passes as [[substringScrub]]; the doc_id->source
    * side joins touch only the LEAKING occurrence subset, and the
    * output is |sources|² rows at most. n_docs is per-pair distinct
    * duplicating docs (one extra partial-aggregated shuffle).
    */
  def leakageMatrix(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"window k must be >= 2, got $k")
    val meta = docs.select(col("doc_id"), col("source"))
    val wins = windowOccurrences(docs, k, kernel = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val owner = wins.groupBy(col("h")).agg(min(col("doc_id")).as("owner_id"))
    val out = wins
      .join(owner, Seq("h"))
      .filter(col("doc_id") =!= col("owner_id"))
      .select("doc_id", "owner_id")
      .join(
        meta.select(col("doc_id").as("owner_id"), col("source").as("src_owner")),
        Seq("owner_id"))
      .join(meta.select(col("doc_id"), col("source").as("src_dup")), Seq("doc_id"))
      .groupBy(col("src_owner"), col("src_dup"))
      .agg(
        count(lit(1)).as("n_window_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("src_owner", "src_dup")
    graft.engine.Caching.handoff(out, wins)
  }

  def leakageQuery(spark: SparkSession, dir: String): DataFrame =
    leakageMatrix(Tables.documents(spark, dir), k = 8)

  /** Content-defined-chunking dedup (the LBFS/rsync storage-dedup
    * pattern applied to corpus text): split every document into
    * variable-size chunks whose boundaries are a LOCAL rolling-hash
    * rule ([[graft.functions.CdcChunks]]) — stable under insertions,
    * unlike fixed-width blocks — then measure, per document, how much
    * of it is chunk-identical to OTHER documents. The chunk-level
    * complement to [[substringSpans]]' fixed-k windows: chunks align
    * with content edges, so a shared span is found as a handful of
    * shared chunks instead of every overlapping k-window.
    *
    * Dataflow at 100 TB: raw text leaves the plan at the first
    * projection (chunks are digested to md5 immediately); the only
    * corpus-sized exchange carries skinny (digest, len) rows — chunk
    * df is a map-side-combined digest aggregation, joined back on the
    * same digest partitioning. Output is per-doc
    * (n_chunks, dup_chunks, dup_chars): chunks (distinct within the
    * doc) whose digest appears in >= 2 documents, and the chars they
    * cover.
    */
  /** PERSISTED per-doc distinct chunk digests `(doc_id, digest, len)` —
    * the one chunking pass shared by [[cdcDedup]] and [[cdcIncremental]]
    * (a chunk repeated WITHIN a doc counts once: df semantics and dup
    * accounting both work on the distinct set). Text leaves the plan
    * here — only digests travel. Caller releases via
    * `Caching.handoff(out, thisFrame)`.
    */
  private def chunkDigests(docs: DataFrame, k: Int, divisor: Int): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.sketch.cdcChunks(col("text"), k, divisor)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("digest"),
        length(col("chunk")).cast("long").as("len"))
      .groupBy(col("doc_id"), col("digest"))
      .agg(max(col("len")).as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  // full asset id -> path; fingerprint recomputed per call (the
  // [[ngramIndexTables]] contract)
  private val chunkDigestTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The corpus's per-doc distinct chunk digests `(doc_id, digest,
    * len)` as a DURABLE content-addressed asset — the standing side of
    * CDC accounting materialized, so incremental probes slice a skinny
    * parquet table instead of re-chunking the corpus (the
    * [[corpusNgramIndex]] pattern; text never reaches the artifact).
    * Address carries the chunking parameters: a changed boundary rule
    * can never be served stale chunks.
    */
  def corpusChunkDigests(spark: SparkSession, dir: String,
      k: Int = 8, divisor: Int = 64): DataFrame = {
    val assetId = cdcDigestAssetId(spark, dir, k, divisor)
    val path = chunkDigestTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          ngramAssetBuilds.incrementAndGet()
          val ch = chunkDigests(Tables.documents(spark, dir), k, divisor)
          try ch.write.mode("overwrite").parquet(staging)
          finally { ch.unpersist(blocking = false); () }
        }))
    spark.read.parquet(path)
  }

  private def cdcDigestAssetId(spark: SparkSession, dir: String,
      k: Int, divisor: Int): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "documents.parquet")
    s"cdcdigests_k${k}_w${divisor}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  /** The accounting half over any (doc_id, digest, len) frame — fed by
    * the in-plan chunking pass (batch API) or a slice of the
    * materialized [[corpusChunkDigests]] asset (driver query).
    */
  private def cdcDedupOn(ch: DataFrame): DataFrame = {
    val df = ch.groupBy(col("digest"))
      .agg(countDistinct(col("doc_id")).as("chunk_df"))
    ch
      .join(df, Seq("digest"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_df") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("chunk_df") >= 2, col("len")).otherwise(0L)).as("dup_chars"))
      .orderBy("doc_id")
  }

  def cdcDedup(docs: DataFrame, k: Int = 8, divisor: Int = 64): DataFrame = {
    val persisted = chunkDigests(docs, k, divisor)
    graft.engine.Caching.handoff(cdcDedupOn(persisted), persisted)
  }

  /** Driver query: the accounting runs off the materialized digest
    * asset — the corpus is chunked once per (corpus, k, divisor) per
    * warehouse, not per query.
    */
  def cdcQuery(spark: SparkSession, dir: String): DataFrame =
    cdcDedupOn(corpusChunkDigests(spark, dir, k = 8, divisor = 64))

  /** CDC CHUNK OCCUPANCY PROFILE (round 17) — per occurrence-count
    * doubling bucket (`k = floor(log2(chunk_df))`, the repo's
    * float-free log axis): how many DISTINCT chunks occur in that many
    * documents, their byte mass, and the bytes a content-addressed
    * store SAVES by holding each chunk once (`len·(df−1)` summed).
    * This is the capacity-planning report behind the chunk store and
    * every `dedup_cdc*` tier: the k=0 bucket is the unique tail
    * (stored but never deduplicating), the high-k buckets are
    * boilerplate — a spike there says "CDC is carrying this corpus"
    * before anyone commits storage budget.
    *
    * Scale shape: one scan of the skinny materialized
    * [[corpusChunkDigests]] asset (digest, len rows — no text), a
    * digest-keyed count (map-side combined, the same exchange every
    * CDC tier already pays), then a ≤64-row doubling rollup.
    */
  def cdcChunkStats(spark: SparkSession, dir: String,
      k: Int = 8, divisor: Int = 64): DataFrame =
    corpusChunkDigests(spark, dir, k, divisor)
      .groupBy(col("digest"))
      // len is digest-determined (mod the md5 collision contract);
      // max() is the engine-independent way to say "any"
      .agg(countDistinct(col("doc_id")).as("chunk_df"), max(col("len")).as("len"))
      .groupBy((length(bin(col("chunk_df"))) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("len")).as("total_chars"),
        sum(col("len") * (col("chunk_df") - 1)).as("dedup_saved_chars"),
        max(col("chunk_df")).as("max_df"))
      .orderBy("k")

  /** GRAM DOCUMENT-FREQUENCY PROFILE (round 17) — doubling histogram
    * of the shingle df table: grams per df bucket, their posting mass,
    * and the bucket's share of all postings in basis points. This is
    * the sizing audit for EVERY gram-keyed path here — the n-gram
    * prefix index's candidate bound is Σ df² over prefix grams, the
    * novelty queries' join cost tracks posting mass — so it is the
    * chart a deployment reads before sizing any of them.
    *
    * Scale shape: one scan of the skinny materialized gram-stats asset
    * (`gramdffd`, built once per corpus); the rollup keys on ≤64
    * doubling buckets, map-side combined; the share denominator comes
    * from a 1-row broadcast over the same ≤64-row rollup.
    */
  def gramDfHist(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val buckets = corpusGramDf(spark, dir, k)
      .groupBy((length(bin(col("__df"))) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("__df")).as("total_postings"),
        max(col("__df")).as("max_df"))
    val total = buckets.agg(sum(col("total_postings")).as("__t"))
    buckets.crossJoin(broadcast(total))
      .withColumn("posting_share_bp", expr("(10000 * total_postings) DIV __t"))
      .drop("__t")
      .orderBy("k")
  }

  /** NEAR-DUP RATE BY SOURCE (round 17) — the [[dedupRateBySource]]
    * attribution for the MINHASH tier: per source, how many of its
    * distinct-text representatives sit in at least one cross-document
    * near-dup pair at Jaccard ≥ `threshold`. Exact dups answer "who
    * re-posts verbatim"; this answers "who paraphrases/templates" —
    * the two rates together are the per-source curation scorecard.
    *
    * Scale shape: a consumer of the materialized minhash PAIR asset;
    * the hit-set broadcast is SIZE-GATED on the pair asset's listing
    * bytes ([[graft.engine.Skew.gatedBroadcast]] — near-dup mass is a
    * corpus property, so the hint is earned per corpus, not assumed);
    * the representative set is the one md5-keyed exchange every exact
    * tier already pays; the rollup is sources-sized.
    */
  def neardupRateBySource(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val reps = docs.groupBy(md5(col("text")).as("__h")).agg(min(col("doc_id")).as("doc_id"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val pairBytes = graft.engine.AssetStore.pathBytes(spark,
      minhashPairAssetPath(spark, dir, threshold = threshold))
    val pairs = corpusMinhashPairs(spark, dir, threshold = threshold)
    val hit = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
      .distinct()
      .withColumn("__hit", lit(1L))
    reps.join(graft.engine.Skew.gatedBroadcast(hit, pairBytes), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_reps"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_neardup"))
      .withColumn("neardup_bp", expr("(10000 * n_neardup) DIV n_reps"))
      .orderBy("source")
  }

  /** NEAR-DUP SIMILARITY PROFILE (round 18) — the verified pair graph
    * rolled into Jaccard deciles: pair count, exact integer-quantized
    * Jaccard mass and the decile's max. This is the threshold-tuning
    * chart ("how much near-dup mass sits just above my cut?") and the
    * paraphrase-vs-template discriminator (mass at 0.9+ is templated
    * boilerplate, mass near the cut is paraphrase) — read before
    * moving a dedup threshold, because the docs a 0.05 shift removes
    * live exactly in these buckets.
    *
    * Scale shape: the ninth consumer of the materialized pair asset —
    * a pairs-sized column-pruned scan into a ≤4-key map-side-combined
    * rollup; no joins, nothing corpus-shaped.
    */
  def neardupJaccardHist(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    corpusMinhashPairs(spark, dir, threshold)
      .select(floor(col("jaccard") * 10).cast("long").as("decile"),
        floor(col("jaccard") * 10000 + 0.5).cast("long").as("jq"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("jq")).as("jaccard_q_sum"),
        max(col("jq")).as("max_jq"))
      .orderBy("decile")

  /** CROSS-LANGUAGE NEAR-DUP MATRIX (round 19) — verified near-dup
    * pair mass rolled up by canonicalized language pair, off the
    * durable pair asset: the language-axis complement of
    * [[dedup_cross_source]]'s provenance matrix. The diagonal is
    * within-language templating; OFF-diagonal mass is
    * translation/transliteration near-duplication — the cross-lingual
    * contamination heads-up a multilingual mix design reads before
    * trusting per-language dedup to be independent. Tenth consumer of
    * the pair asset.
    *
    * Scale shape: a pairs-sized column-pruned scan, two doc-keyed
    * equi-joins against the skinny (doc_id, lang) projection, a
    * ≤langs²-key map-side-combined rollup. Nothing corpus-shaped
    * shuffles; the banding/verify ran at publish time.
    */
  def neardupLangMatrix(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val langs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    corpusMinhashPairs(spark, dir, threshold)
      .select(col("id_a"), col("id_b"),
        floor(col("jaccard") * 10000 + 0.5).cast("long").as("jq"))
      .join(langs.select(col("doc_id").as("id_a"), col("lang").as("__la")), Seq("id_a"))
      .join(langs.select(col("doc_id").as("id_b"), col("lang").as("__lb")), Seq("id_b"))
      .select(least(col("__la"), col("__lb")).as("lang_a"),
        greatest(col("__la"), col("__lb")).as("lang_b"), col("jq"))
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("jq")).as("jaccard_q_sum"))
      .orderBy("lang_a", "lang_b")
  }

  /** Ingest-batch CDC accounting — "how much of this delivery is
    * content we already store?", the transfer-suppression question a
    * chunk store answers before accepting a batch (rsync's premise at
    * corpus scale). Batch chunks LEFT-join the standing corpus's
    * distinct chunk digests; per batch doc: total chunks, chunks whose
    * digest the store already holds, and the novel chars that would
    * actually need ingesting.
    *
    * Scale shape: both sides reduce to skinny (digest[, len]) rows;
    * the join is digest-keyed, and the driver query slices the
    * MATERIALIZED chunk-digest asset ([[corpusChunkDigests]]) on both
    * sides — the corpus is chunked once per warehouse, never per probe.
    * The exact join is the one mechanism; the `dedup_cdc_incremental_bloom*`
    * query names route here.
    */
  private def cdcIncrementalOn(ch: DataFrame, splitId: Long): DataFrame = {
    val standing = ch.filter(col("doc_id") < splitId)
      .select("digest").distinct().withColumn("known", lit(true))
    ch.filter(col("doc_id") >= splitId)
      .join(standing, Seq("digest"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("known"), 1L).otherwise(0L)).as("known_chunks"),
        sum(when(col("known"), 0L).otherwise(col("len"))).as("novel_chars"))
      .orderBy("doc_id")
  }

  def cdcIncremental(docs: DataFrame, splitId: Long,
      k: Int = 8, divisor: Int = 64): DataFrame = {
    val ch = chunkDigests(docs, k, divisor)
    graft.engine.Caching.handoff(cdcIncrementalOn(ch, splitId), ch)
  }

  /** Driver query: id midpoint as the ingest cut (the
    * [[incrementalQuery]] convention); BOTH sides slice the
    * materialized digest asset — a snapshot cut is a doc_id slice of
    * the one standing table (the [[ngramIncrementalQuery]] pattern),
    * so nothing is re-chunked at probe time.
    */
  def cdcIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = docs.agg(expr("max(doc_id) div 2").cast("long")).head().getLong(0)
    cdcIncrementalOn(corpusChunkDigests(spark, dir), split)
  }
}
