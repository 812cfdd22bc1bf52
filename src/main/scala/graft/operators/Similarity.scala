package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.{vec, vecagg}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths, mirroring how a 100 TB pipeline would run them:
  *   - [[bruteForceTopK]]: exact top-k. The small query side is broadcast,
  *     so the corpus streams through one codegen'd stage with zero
  *     shuffle of the big side; the only exchange is the per-query top-k
  *     reduction. This is the correctness baseline.
  *   - [[annLsh]] / [[cosineNearDup]]: sign-random-projection LSH. Both
  *     sides hash to sketch buckets; the join is on the bucket key, so
  *     cost is per-bucket, not all-pairs. Probabilistic recall, verified
  *     against the brute-force baseline in the test suite.
  */
object Similarity {

  /** Deterministic random hyperplane values (seeded). Kept as floats so
    * the Spark plan embeds float literals (the [[vec.dot]] kernel reads
    * float elements); the SQL twin uses each float's exact double value,
    * so both engines multiply identical doubles.
    */
  def planeValues(bits: Int, dim: Int, seed: Long): IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(bits)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** The hyperplanes as literal array columns — the plan embeds the
    * planes, so executors need no side channel.
    */
  private def planes(bits: Int, dim: Int, seed: Long): Seq[Column] =
    planeValues(bits, dim, seed).map(p => array(p.toIndexedSeq.map(lit(_)): _*))

  /** DuckDB `VALUES` rows `(t, i, plane)` for `tables` hash tables of
    * `bits` planes each (seed = seedBase + t) — the oracle twin
    * recomputes the LSH bucketing from these exact constants.
    * `Float.toDouble.toString` round-trips: DuckDB parses the decimal
    * back to the identical double the Spark kernel widens the float to.
    */
  def planesSqlValues(bits: Int, tables: Int, dim: Int, seedBase: Long): String =
    (0 until tables).flatMap { t =>
      planeValues(bits, dim, seedBase + t).zipWithIndex.map { case (p, i) =>
        p.map(_.toDouble.toString)
          .mkString(s"($t, $i, CAST([", ",", "] AS DOUBLE[]))")
      }
    }.mkString(", ")

  /** Sign-random-projection bucket id: bit i = sign(dot(v, plane_i)). */
  def lshBucket(v: Column, bits: Int, dim: Int, seed: Long = 42L): Column =
    planes(bits, dim, seed).zipWithIndex
      .map { case (p, i) =>
        when(vec.dot(v, p) >= 0, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** Per-query (rank, vec_id, cosine) top-k via the bounded-memory
    * aggregate ([[graft.functions.TopKOrdTie]], rank = cosine DESC then
    * vec_id ASC — identical output to the `row_number` window it
    * replaces). Map-side partial top-k means the exchange carries
    * `queries x k` rows instead of EVERY scored candidate, and no task
    * ever sorts a whole query's candidate set — the shape that survives
    * a 100 TB corpus where the per-query window sort cannot.
    */
  private def topKByCosine(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.agg.topKOrdTie(col("cosine"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.tie").as("vec_id"),
        col("col.ord").as("cosine"))

  /** Shared multi-table banding: one struct (t, bucket) per hash table. */
  private[graft] def tableBuckets(
      v: Column, bits: Int, tables: Int, dim: Int, seedBase: Long): Column =
    array(
      (0 until tables).map(t =>
        struct(lit(t).as("t"), lshBucket(v, bits, dim, seedBase + t).as("b"))
      ): _*
    )

  /** Exact cosine top-k: broadcast the query set, stream the corpus. */
  def bruteForceTopK(
      queries: DataFrame, // (query_id, q_vec)
      corpus: DataFrame,  // (vec_id, embedding)
      k: Int
  ): DataFrame = {
    val joined = corpus
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cosine", vec.cosine(col("q_vec"), col("embedding")))
    topKByCosine(joined, k)
  }

  /** ANN via multi-table LSH: `tables` independent sign-projection hash
    * tables of `bits` bits each; a corpus vector is a candidate if it
    * shares a bucket with the query in ANY table (explode over tables,
    * one equi-join, dedup). Exact cosine + top-k over the candidate set.
    *
    * Recall/cost curve: per-table collision prob for angle θ is
    * (1-θ/π)^bits; tables union to 1-(1-p)^L. Fewer bits or more tables
    * -> higher recall, more candidates verified. (Single-table LSH at
    * bits=4 measured only ~8% recall@5 on the near-uniform test vectors;
    * 8 tables x 4 bits lifts it to a usable level while still scanning
    * only a fraction of the corpus per query.)
    */
  def annLsh(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bits: Int,
      tables: Int = 8,
      dim: Int = 64,
      seedBase: Long = 42L
  ): DataFrame = {
    def buckets(v: Column): Column = tableBuckets(v, bits, tables, dim, seedBase)
    val qb = queries.select(col("query_id"), col("q_vec"), explode(buckets(col("q_vec"))).as("bk"))
      .select(col("query_id"), col("q_vec"), col("bk.t"), col("bk.b"))
    val cb = corpus.select(col("vec_id"), col("embedding"), explode(buckets(col("embedding"))).as("bk"))
      .select(col("vec_id"), col("embedding"), col("bk.t"), col("bk.b"))
    val candidates = cb
      .join(broadcast(qb), Seq("t", "b"))
      .filter(col("query_id") =!= col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val joined = candidates
      .withColumn("cosine", vec.cosine(col("q_vec"), col("embedding")))
    topKByCosine(joined, k)
  }

  /** IVF (inverted-file) ANN — the other standard scale path.
    *
    * Index: `nlist` centroid vectors (tiny model state, collected to the
    * driver and embedded in the plan as literals); every corpus vector is
    * assigned to its nearest centroid — one narrow codegen'd pass, then
    * the corpus is effectively partitioned by cluster id.
    * Query: probe the `nprobe` nearest centroids and search only those
    * inverted lists — the scan fraction is ~nprobe/nlist instead of 1.
    *
    * Centroid selection here is a deterministic spread sample (every
    * N/nlist-th vector) — a k-means refinement would drop in without
    * changing any of the dataflow.
    */
  /** The deterministic IVF coarse-centroid seed set shared by
    * [[annIvf]] and [[ivfCellStats]]: every (n/nlist)-th vector by id —
    * a reproducible, engine-independent choice the oracle replicates
    * verbatim (a trained codebook would diverge between engines at the
    * float level; the ivfpq family layers the Lloyd refinement on the
    * integer grid instead).
    */
  private def ivfCoarseCentroids(corpus: DataFrame, nlist: Int): Array[(Int, Array[Float])] = {
    val n = corpus.count()
    val stride = math.max(1L, n / nlist)
    graft.engine.DriverBudget.collect("Similarity.ivfCoarseCentroids", nlist.toLong)(
      corpus
        // a null vector can never be a centroid (r17 degenerate-corpus
        // hardening; identical selection on null-free corpora, where
        // the oracle replicates the stride verbatim)
        .filter(pmod(col("vec_id"), lit(stride)) === 0 && col("embedding").isNotNull)
        .orderBy("vec_id")
        .limit(nlist)
        .select("embedding"))
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0).toArray) }
  }

  /** struct-array argmax over the centroid literals: array_sort picks
    * the lexicographically largest struct, i.e. the centroid with the
    * highest cosine (ties to the larger cid, mirrored in the oracle).
    */
  private def ivfNearest(centroids: Array[(Int, Array[Float])], v: Column, take: Int): Column = {
    // zero centroids (a corpus with no usable vectors): a typed null
    // array keeps the plan analyzable; downstream element_at/getField
    // yield null and the caller's non-null corpus filter makes the
    // result honestly empty (r17 degenerate-corpus hardening)
    if (centroids.isEmpty)
      return lit(null).cast("array<struct<cos:double,cid:int>>")
    def centroidLit(c: Array[Float]): Column = array(c.toIndexedSeq.map(lit(_)): _*)
    val scored = array(centroids.toIndexedSeq.map { case (cid, cv) =>
      struct(vec.cosine(v, centroidLit(cv)).as("cos"), lit(cid).as("cid"))
    }: _*)
    slice(sort_array(scored, asc = false), 1, take)
  }

  def annIvf(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4
  ): DataFrame = {
    val centroids = ivfCoarseCentroids(corpus, nlist)
    val assigned = corpus.withColumn(
      "cluster", element_at(ivfNearest(centroids, col("embedding"), 1), 1).getField("cid")
    )
    val probed = queries.withColumn(
      "cluster", explode(ivfNearest(centroids, col("q_vec"), nprobe).getField("cid"))
    )
    val joined = assigned
      .join(broadcast(probed), Seq("cluster"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", vec.cosine(col("q_vec"), col("embedding")))
    // no dedup needed: each corpus vector has exactly ONE cluster, so a
    // (query, vec) pair can match through at most one probed cluster
    topKByCosine(joined, k)
  }

  /** EXACT all pairs above a cosine threshold — one broadcast nested-loop
    * pass, every pair scored by the fused [[vec.cosine]] kernel. O(n²):
    * this is the small-corpus correctness baseline the test suite
    * verifies LSH recall against; the shipped driver query is
    * [[cosineNearDupMulti]] (per-bucket cost, oracle-checked from the
    * same seeded planes).
    */
  def cosineAllPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val l = corpus.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val r = corpus.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    l.join(broadcast(r), col("id_a") < col("id_b"))
      .withColumn("cosine", vec.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        // basis points, not the raw double: Spark and DuckDB may
        // associate the float sums differently at the last ulp
        floor(col("cosine") * 10000 + 0.5).cast("long").as("cos_bp")
      )
  }

  /** All pairs above a cosine threshold, via LSH bucketing + in-bucket
    * verification (the embedding near-dup operator).
    */
  def cosineNearDup(corpus: DataFrame, threshold: Double, bits: Int, dim: Int = 64): DataFrame = {
    val b = corpus.withColumn("bucket", lshBucket(col("embedding"), bits, dim))
    val l = b.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val r = b.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("v_b"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", vec.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Multi-table LSH near-dup: a pair is a candidate if it shares a
    * bucket in ANY of `tables` independent sign-projection tables
    * (union recall 1-(1-p)^L vs a single table's p), then exact cosine
    * verifies — so false candidates cost only the verify join and never
    * a wrong row.
    *
    * Scale shape (the reason this is the shipped driver query and the
    * O(n²) [[cosineAllPairs]] is only the test baseline): banding rows
    * are SKINNY (t, bucket, vec_id) so the `tables`-way explode never
    * shuffles the vectors; the self-join keys on (t, bucket) — a
    * per-bucket cost, not all-pairs; the wide embedding arrays move only
    * for deduplicated candidate pairs. `bits` scales with corpus size
    * (bits ≈ log2(n / targetBucketSize)), keeping buckets bounded as n
    * grows.
    */
  def cosineNearDupMulti(
      corpus: DataFrame,
      threshold: Double,
      bits: Int,
      tables: Int,
      dim: Int = 64,
      seedBase: Long = 42L
  ): DataFrame = {
    def buckets(v: Column): Column = tableBuckets(v, bits, tables, dim, seedBase)
    val banded = corpus
      .select(col("vec_id"), explode(buckets(col("embedding"))).as("bk"))
      .select(col("vec_id"), col("bk.t"), col("bk.b"))
    // NOTE (r21): grouped emission (the dedup_ngram posting-list fold)
    // was tried here and MEASURED 1.33x SLOWER on interleaved A/B runs:
    // sign-projection buckets are large (n / 2^bits ids, ~125 at sf0.1)
    // where rarest-first prefix postings are short, and orderedPairs'
    // slice-per-element combination explode loses to the codegen'd hash
    // join at that occupancy. The self-join stays deliberately.
    val candidates = banded.select(col("t"), col("b"), col("vec_id").as("id_a"))
      .join(banded.select(col("t"), col("b"), col("vec_id").as("id_b")), Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(corpus.select(col("vec_id").as("id_a"), col("embedding").as("v_a")), Seq("id_a"))
      .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("v_b")), Seq("id_b"))
      .withColumn("cosine", vec.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        // basis points, not the raw double: Spark and DuckDB may
        // associate the float sums differently at the last ulp
        floor(col("cosine") * 10000 + 0.5).cast("long").as("cos_bp")
      )
  }

  /** INGEST-BATCH semantic near-dup accounting — the embedding member
    * of the incremental family (exact digests → n-gram Jaccard →
    * chunk containment → minhash; this is the one that catches a
    * PARAPHRASE of standing content, where every lexical tier is
    * blind). Per batch vector with at least one standing LSH-bucket
    * match at cosine >= `threshold`: its best standing match (highest
    * cosine in basis points, smallest id tiebreak).
    *
    * Scale shape = [[cosineNearDupMulti]] with the bucket join CUT to
    * standing × batch: the split prunes both banded sides before the
    * join (candidates scale with the batch × bucket occupancy, never
    * corpus²); embeddings move only for candidate pairs; the argmax is
    * a min(struct) aggregate with map-side partials. The standing
    * side's banded table IS a materialized asset
    * ([[corpusBandedEmbeddings]], wired in the driver query) — the
    * probe never re-bands the corpus, only the batch.
    */
  def cosineIncremental(
      corpus: DataFrame,
      splitId: Long,
      threshold: Double,
      bits: Int,
      tables: Int,
      dim: Int = 64,
      seedBase: Long = 42L,
      bandedTable: Option[DataFrame] = None
  ): DataFrame = {
    def buckets(v: Column): Column = tableBuckets(v, bits, tables, dim, seedBase)
    val emb = corpus.filter(col("embedding").isNotNull)
    val banded = bandedTable.getOrElse(
      emb
        .select(col("vec_id"), explode(buckets(col("embedding"))).as("bk"))
        .select(col("vec_id"), col("bk.t"), col("bk.b")))
    val standing = banded.filter(col("vec_id") < splitId)
      .select(col("t"), col("b"), col("vec_id").as("id_a"))
    val batch = banded.filter(col("vec_id") >= splitId)
      .select(col("t"), col("b"), col("vec_id").as("id_b"))
    val candidates = standing.join(batch, Seq("t", "b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b")), Seq("id_b"))
      .withColumn("cos_bp",
        floor(vec.cosine(col("v_a"), col("v_b")) * 10000 + 0.5).cast("long"))
      .filter(col("cos_bp") >= (threshold * 10000).toLong)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(struct((-col("cos_bp")).as("nc"), col("id_a").as("m"))).as("best"))
      .select(col("vec_id"), col("best.m").as("match_id"), (-col("best.nc")).as("cos_bp"))
      .orderBy("vec_id")
  }

  // asset id (params + fingerprint) -> path; fingerprint recomputed per
  // call, same contract as [[knnEdgeTables]]
  private val bandedTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] val bandedAssetBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The corpus's LSH band table (vec_id, t, b) as a DURABLE
    * content-addressed asset — the standing side every semantic-ingest
    * probe joins against. Banding is deterministic under the seeded
    * plane constants, so the address needs exactly the corpus
    * fingerprint plus the LSH parameter vector; a corpus rebuild or a
    * changed constant retires the table automatically. Skinny three
    * longs per (vector, table) row — `tables` × corpus rows on disk,
    * scanned with vec_id pruning by consumers.
    */
  private def bandedAssetId(spark: SparkSession, dir: String, bits: Int,
      tables: Int, dim: Int, seedBase: Long, partWidth: Long): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "embeddings.parquet")
    s"embbands_b${bits}_t${tables}_d${dim}_sd${seedBase}" +
      s"_w${partWidth}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  /** Band-asset path: resolve (load or build) `dir`'s LSH band table.
    * Written `partitionBy(pt)` with the SAME id-range bucketing as the
    * edge asset (round 16) so the incremental publisher can move
    * untouched ranges by file copy.
    */
  private[graft] def corpusBandedEmbeddingsPath(spark: SparkSession, dir: String,
      bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, partWidth: Long = 1024L): String = {
    val assetId = bandedAssetId(spark, dir, bits, tables, dim, seedBase, partWidth)
    bandedTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          bandedAssetBuilds.incrementAndGet()
          val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
          emb.select(col("vec_id"),
              explode(tableBuckets(col("embedding"), bits, tables, dim, seedBase)).as("bk"))
            .select(col("vec_id"), col("bk.t"), col("bk.b"))
            .transform(writeByPt(_, partWidth))
            .write.partitionBy("pt").mode("overwrite").parquet(staging)
        }))
  }

  def corpusBandedEmbeddings(spark: SparkSession, dir: String,
      bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, partWidth: Long = 1024L): DataFrame =
    spark.read
      .parquet(corpusBandedEmbeddingsPath(spark, dir, bits, tables, dim, seedBase, partWidth))
      .drop("pt")

  /** Band-asset increments ran this JVM — spec seam. */
  private[graft] val bandedIncrementBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Publish `dir`'s band asset by INCREMENT from `oldDir`'s
    * (round 16): bands are PER-VECTOR deterministic under the seeded
    * plane constants, so an append never changes a standing vector's
    * rows — the merged table is literally (old asset ∪ batch bands).
    * Every old id range is therefore moved by FILE COPY and only the
    * batch's ranges are computed and written: a 10% append pays ~10%
    * of the banding scan and ~10% of the write, with NO affected-set
    * computation at all (the edge asset's harder problem does not
    * exist here).
    *
    * Same pure-append precondition as the edge increment — a removed
    * or mutated vector falls back to the full rebuild, because a
    * stale band row would poison every candidate join served from
    * this address. Publishes under the exact address
    * [[corpusBandedEmbeddings]] resolves; spec-pinned row-identical.
    */
  def corpusBandedEmbeddingsIncrement(spark: SparkSession, oldDir: String, dir: String,
      bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, partWidth: Long = 1024L): DataFrame = {
    val meta = embAppendByMetadata(spark, oldDir, dir)
    if (meta.isEmpty && pureAppendViolated(spark, oldDir, dir)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"band increment $oldDir -> $dir is not a pure append; rebuilding")
      corpusBandedEmbeddings(spark, dir, bits, tables, dim, seedBase, partWidth)
    } else {
      publishBandIncrementUnchecked(spark, oldDir, dir, bits, tables, dim, seedBase, partWidth, meta)
      corpusBandedEmbeddings(spark, dir, bits, tables, dim, seedBase, partWidth)
    }
  }

  /** Metadata-first append validation for the embeddings table (r17):
    * Some(batch files) = proven pure append with ZERO data jobs
    * ([[graft.engine.AssetStore.pureAppendByMetadata]] — listing
    * subset + footer id-range disjointness under the fingerprint
    * trust model); None = ambiguous, run [[pureAppendViolated]]'s
    * digest join as ground truth. The proven batch file list also
    * replaces the new-rows anti-join (a standing-corpus id scan) with
    * a direct read of just the appended files.
    */
  private def embAppendByMetadata(
      spark: SparkSession, oldDir: String, dir: String): Option[Seq[String]] =
    graft.engine.AssetStore.pureAppendByMetadata(
      spark, oldDir, dir, "embeddings.parquet", "vec_id")

  /** The increment publishers' shared pure-append validation: every
    * old vec_id present in `dir` with an unchanged embedding, compared
    * by DIGEST (xxhash64 over the array plus an explicit null flag, so
    * null and value-bearing rows can never collide) — the join
    * shuffles 8-byte hashes instead of 64-float vectors and stays
    * scan-bound at any corpus size. Equality is modulo xxhash64
    * collisions (~2⁻⁶⁴), the engine's standing digest contract.
    */
  // verdict memo keyed by both fingerprints (r17): the edge and band
  // publishers validate the same embeddings pair per append — the
  // digest join runs once per corpus pair, content-addressed so a
  // changed directory can never serve a stale verdict
  private val embAppendVerdicts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def pureAppendViolated(spark: SparkSession, oldDir: String, dir: String): Boolean = {
    def fp(d: String) =
      graft.engine.AssetStore.corpusFingerprint(spark, d, "embeddings.parquet")
    embAppendVerdicts.computeIfAbsent(s"$oldDir|$dir|${fp(oldDir)}|${fp(dir)}", _ => {
      def dig(df: DataFrame, as: String) = df.select(col("vec_id"),
        xxhash64(col("embedding"), col("embedding").isNull).as(as))
      !dig(Tables.embeddings(spark, oldDir), "__old")
        .join(dig(Tables.embeddings(spark, dir), "__new"), Seq("vec_id"), "left")
        .filter(col("__new").isNull || col("__old") =!= col("__new"))
        .isEmpty
    })
  }

  /** Copy-forward band publish WITHOUT the precondition check — the
    * caller has already validated the append (shared with the edge
    * increment, which co-publishes the band asset so the NEXT append's
    * standing side is also served incrementally). Appends never change
    * a standing vector's bands, so EVERY old range moves by file copy
    * and a boundary range simply gains the batch's extra part files —
    * mixing copied and appended files inside one `pt` directory is
    * row-correct because no copied row is ever superseded.
    */
  private def publishBandIncrementUnchecked(spark: SparkSession, oldDir: String, dir: String,
      bits: Int, tables: Int, dim: Int, seedBase: Long, partWidth: Long,
      batchFiles: Option[Seq[String]] = None): Unit = {
    val assetId = bandedAssetId(spark, dir, bits, tables, dim, seedBase, partWidth)
    // already published? nothing to do — neither asset needs resolving
    graft.engine.AssetStore.resolveIfCommitted(spark, assetId).foreach { d =>
      bandedTables.putIfAbsent(assetId, d)
      return
    }
    // resolve the standing asset BEFORE computeIfAbsent — the builder
    // would otherwise recursively update bandedTables, which
    // ConcurrentHashMap forbids (a fresh JVM with the old asset
    // committed on disk but not yet in the map could crash with
    // "Recursive update" when the two keys share a bin; r17 review fix)
    val oldPath = corpusBandedEmbeddingsPath(spark, oldDir,
      bits, tables, dim, seedBase, partWidth)
    bandedTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          bandedIncrementBuilds.incrementAndGet()
          val fs = new org.apache.hadoop.fs.Path(staging)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.listStatus(new org.apache.hadoop.fs.Path(oldPath))
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("pt="))
            .foreach { st =>
              org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath,
                fs, new org.apache.hadoop.fs.Path(staging, st.getPath.getName),
                false, spark.sparkContext.hadoopConfiguration)
            }
          // metadata-proven appends read the batch files directly —
          // the anti-join below scans both corpora's id columns and is
          // only needed when the batch membership wasn't proven (r17)
          val newVecs = (batchFiles match {
            case Some(files) if files.nonEmpty => spark.read.parquet(files: _*)
            case _ => Tables.embeddings(spark, dir)
              .join(Tables.embeddings(spark, oldDir).select("vec_id"), Seq("vec_id"), "left_anti")
          }).filter(col("embedding").isNotNull)
          writeByPt(bandsOf(newVecs, bits, tables, dim, seedBase), partWidth)
            .write.partitionBy("pt").mode("append").parquet(staging)
        }))
    ()
  }

  /** Driver query: id-midpoint cut, same LSH constants as
    * `embed_neardup`; BOTH sides slice the materialized band asset
    * (the [[graft.operators.Dedup.ngramIncrementalQuery]] convention —
    * a snapshot cut is a doc_id slice of the one standing table, so
    * nothing is re-banded at probe time). The threshold cut runs in
    * BASIS POINTS on both engines (the floor(·10⁴+0.5) grid), so the
    * boundary is exact — a raw-double cut could disagree at the last
    * ulp between Spark's and DuckDB's float summation order.
    */
  def cosineIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val split = emb.agg(expr("max(vec_id) div 2").cast("long")).head().getLong(0)
    cosineIncremental(emb, split, threshold = 0.2, bits = 4, tables = 8,
      bandedTable = Some(corpusBandedEmbeddings(spark, dir)))
  }

  /** k-NN GRAPH over the corpus — every vector's `kTop` nearest
    * neighbors among its LSH-bucket candidates: the graph primitive
    * under graph-based semantic dedup, diversity sampling, and label
    * propagation (each consumes "who is near whom", not a one-off
    * query answer).
    *
    * Scale shape — the [[cosineNearDupMulti]] candidate machinery with
    * a bounded-memory ranking tail: skinny (t, bucket, vec_id) bands
    * self-join per bucket (LSH bounds bucket occupancy, never
    * all-pairs), embeddings join back by id, distances on the exact
    * integer grid ([[vec.sqDistLong]] — hash-stable ranks, no float
    * ulp lottery at ANY dim/scale: the ranking runs through the
    * long-ord [[graft.functions.agg.topKLongOrdTie]], never a double),
    * and per-source top-k via that map-side-partial aggregate so the
    * final exchange carries
    * `vecs × kTop` rows, not the candidate set. Directed: `rank` is
    * per source vector; a vector sharing no bucket with anyone emits
    * no rows (LSH contract — raise `tables` for denser graphs).
    */
  def knnGraph(
      corpus: DataFrame,
      kTop: Int = 5,
      bits: Int = 4,
      tables: Int = 8,
      dim: Int = 64,
      seedBase: Long = 42L,
      scale: Int = 1000
  ): DataFrame = {
    val emb = corpus.filter(col("embedding").isNotNull)
    val banded = bandsOf(emb, bits, tables, dim, seedBase)
    // the (t, b) self-join is deliberate — see cosineNearDupMulti's r21
    // note (grouped emission measured slower at LSH bucket occupancy)
    val candidates = banded.select(col("t"), col("b"), col("vec_id").as("id_a"))
      .join(banded.select(col("t"), col("b"), col("vec_id").as("id_b")), Seq("t", "b"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    rankCandidatesTopK(candidates, emb, kTop, scale)
      .orderBy("vec_id", "rank")
  }

  /** The (vec_id, t, b) LSH band projection — the one expression both
    * the full build and the incremental maintenance band with (bands
    * are per-vector deterministic, so a batch's bands ARE the merged
    * table's rows for those vectors).
    */
  private def bandsOf(emb: DataFrame, bits: Int, tables: Int,
      dim: Int, seedBase: Long): DataFrame =
    emb
      .select(col("vec_id"),
        explode(tableBuckets(col("embedding"), bits, tables, dim, seedBase)).as("bk"))
      .select(col("vec_id"), col("bk.t"), col("bk.b"))

  /** [[knnGraph]]'s exact ranking tail over an explicit candidate-pair
    * set — shared verbatim by the incremental path so "refreshed rows
    * equal rebuilt rows" is structural.
    */
  private def rankCandidatesTopK(candidates: DataFrame, emb: DataFrame,
      kTop: Int, scale: Int): DataFrame =
    candidates
      .join(emb.select(col("vec_id").as("id_a"),
        quantizedCol(col("embedding"), scale).as("q_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"),
        quantizedCol(col("embedding"), scale).as("q_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), vec.sqDistLong(col("q_a"), col("q_b")).as("dist"))
      .groupBy(col("id_a").as("vec_id"))
      // LONG-ord top-k: the squared grid distance stays in int64
      // arithmetic through the ranking (the double-ord variant is exact
      // only below 2^53 — a silent rank swap past dim·(scale·max)²)
      .agg(graft.functions.agg.topKLongOrdTie(-col("dist"), col("id_b"), kTop).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(
        col("vec_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.tie").as("nbr_id"),
        (-col("col.ord")).as("dist"))

  /** INCREMENTAL k-NN EDGE MAINTENANCE (round 15) — extend a standing
    * edge table with a batch of NEW vectors without rebuilding the
    * graph. The exactness argument: a source's top-k can change only
    * if its LSH candidate set changed, bands are per-vector
    * deterministic, and appending a batch only ADDS candidate pairs —
    * each involving at least one new vector. So the affected sources
    * are exactly (old vectors sharing ≥1 bucket with a new vector) ∪
    * (the batch); those re-rank over their FULL merged candidate sets
    * through [[knnGraph]]'s own ranking tail (same total order, same
    * ties), and every other standing edge row is kept verbatim —
    * pinned equal to the full rebuild on the merged corpus in
    * SimilaritySpec.
    *
    * Scale shape: the batch is banded once (batch-sized); the affected
    * set comes from one band-keyed join of the standing band ASSET
    * against the batch's bands (bounded by bucket occupancy, never
    * corpus×corpus); re-ranking is bounded by |affected| × occupancy.
    * The untouched majority of the edge asset moves by anti-join —
    * no distance is recomputed for it. This is the
    * `dedup_minhash_incremental` pattern applied to the graph asset
    * with NINE downstream consumers.
    */
  /** The increment's working pieces — (refreshed rows, affected source
    * set, persisted stages the caller must release after its action).
    * Shared by [[knnEdgesIncrement]] (whole-frame form) and
    * [[corpusKnnEdgesIncrement]] (partition-level publish, which needs
    * `affected` separately to decide which `pt` ranges to rewrite).
    */
  private def knnIncrementPieces(
      oldBands: DataFrame,
      mergedEmb: DataFrame,
      newVecs: DataFrame,
      kTop: Int, bits: Int, tables: Int, dim: Int, seedBase: Long, scale: Int
  ): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val newBands = bandsOf(newVecs.filter(col("embedding").isNotNull),
        bits, tables, dim, seedBase)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val standingBands = oldBands.select("vec_id", "t", "b")
    val mergedBands = standingBands.unionByName(newBands)
    // affected = standing sources sharing a bucket with the batch, plus
    // the batch itself; everyone else's candidate set is unchanged
    val affected = standingBands
      .join(newBands.select(col("t"), col("b")).distinct(), Seq("t", "b"))
      .select("vec_id")
      .unionByName(newBands.select("vec_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = mergedBands.join(affected, Seq("vec_id"))
      .select(col("t"), col("b"), col("vec_id").as("id_a"))
      .join(mergedBands.select(col("t"), col("b"), col("vec_id").as("id_b")), Seq("t", "b"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val refreshed = rankCandidatesTopK(
      candidates, mergedEmb.filter(col("embedding").isNotNull), kTop, scale)
    (refreshed, affected, Seq(newBands, affected))
  }

  def knnEdgesIncrement(
      oldEdges: DataFrame,
      oldBands: DataFrame,
      mergedEmb: DataFrame,
      newVecs: DataFrame,
      kTop: Int = 5,
      bits: Int = 4,
      tables: Int = 8,
      dim: Int = 64,
      seedBase: Long = 42L,
      scale: Int = 1000
  ): DataFrame = {
    val (refreshed, affected, stages) = knnIncrementPieces(
      oldBands, mergedEmb, newVecs, kTop, bits, tables, dim, seedBase, scale)
    val out = oldEdges.join(affected, Seq("vec_id"), "left_anti")
      .unionByName(refreshed)
      .orderBy("vec_id", "rank")
    graft.engine.Caching.handoff(out, stages: _*)
  }

  // asset id (already fingerprint- and parameter-qualified) -> path.
  // The FINGERPRINT IS IN THE KEY: it is recomputed on every call (one
  // metadata listStatus — no data scan), so a corpus rebuilt under the
  // same directory path WITHIN one JVM stops hitting the old handle and
  // resolves (builds or loads) the new address immediately. Cross-JVM
  // the content address was always honest; this makes same-JVM match.
  private val knnEdgeTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Test seam: how many times the k-NN edge asset was actually BUILT
    * (a second consumer in the same or a fresh JVM must load, not
    * rebuild — the [[graft.engine.AssetStore]] contract).
    */
  private[graft] val knnAssetBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The k-NN edge table as a MATERIALIZED CORPUS ASSET (the
    * [[graft.operators.Dedup.corpusNgramIndex]] pattern): built once
    * per (corpus fingerprint, full parameter vector) under the
    * warehouse's content-addressed store, then every consumer — the
    * graph query itself, PageRank, graph dedup, diversity sampling —
    * scans the skinny (vec_id, rank, nbr_id, dist) parquet instead of
    * re-running candidate generation and distance ranking. A corpus
    * rebuild changes the address and naturally retires the old edges.
    *
    * The asset id folds in EVERY edge-shaping parameter (k, LSH bits,
    * table count, seed, dim, quantization scale), not just k: edges
    * built under one LSH constant must never be served for another —
    * the same parameter-complete addressing the PQ family uses
    * ([[loadOrBuild]]).
    */
  private def knnEdgesAssetId(spark: SparkSession, dir: String, kTop: Int,
      bits: Int, tables: Int, dim: Int, seedBase: Long, scale: Int,
      partWidth: Long): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "embeddings.parquet")
    s"knnedges_k${kTop}_b${bits}_t${tables}_d${dim}_sd${seedBase}_s${scale}" +
      s"_w${partWidth}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  /** Edge-asset STORAGE LAYOUT (round 16): the table is written
    * `partitionBy("pt")` with `pt = vec_id div partWidth` — a fixed
    * id-range bucketing folded into the content address. Appends
    * follow the log-structured convention (new vectors take ids above
    * the standing max), so a batch's OWN rows land in O(batch/W) fresh
    * `pt` directories and only the collision-affected standing sources
    * touch existing ones — which is exactly what lets the incremental
    * publish COPY the untouched ranges' files forward instead of
    * rewriting the whole table ([[corpusKnnEdgesIncrement]]).
    * `partWidth` is sized so one range's rows (≤ W·kTop edges) make a
    * healthy parquet file; a 100 TB deployment raises it to the
    * 10⁶–10⁷ range for multi-hundred-MB files.
    */
  private def ptCol(partWidth: Long): Column =
    expr(s"vec_id div ${partWidth}L").as("pt")

  /** Cluster rows by `pt` before a partitionBy write: without this,
    * EVERY write task holds rows of every range and the store gets
    * tasks × ranges small files — the difference between ~1 file and
    * ~32 files per range directory, which is also what keeps the
    * increment's copy-forward a handful of file moves per range
    * (measured: the sf1 band build dropped ~4× with the clustering).
    * One narrow shuffle of the skinny table buys it.
    */
  private def writeByPt(df: DataFrame, partWidth: Long): DataFrame =
    df.withColumn("pt", ptCol(partWidth)).repartition(col("pt"))

  /** The published asset path for `dir`'s edge table — resolve (load
    * or build) and return the directory; `corpusKnnEdges` reads it.
    * Split out so the incremental publisher can file-copy from the old
    * asset's directory.
    */
  private[graft] def corpusKnnEdgesPath(spark: SparkSession, dir: String, kTop: Int = 5,
      bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000, partWidth: Long = 1024L): String = {
    val assetId = knnEdgesAssetId(spark, dir, kTop, bits, tables, dim, seedBase, scale, partWidth)
    knnEdgeTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          knnAssetBuilds.incrementAndGet()
          writeByPt(
              knnGraph(Tables.embeddings(spark, dir), kTop, bits, tables, dim, seedBase, scale),
              partWidth)
            .write.partitionBy("pt").mode("overwrite").parquet(staging)
        }))
  }

  def corpusKnnEdges(spark: SparkSession, dir: String, kTop: Int = 5,
      bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000, partWidth: Long = 1024L): DataFrame =
    spark.read
      .parquet(corpusKnnEdgesPath(spark, dir, kTop, bits, tables, dim, seedBase, scale, partWidth))
      .drop("pt")

  /** Builds the increment path ran this JVM — spec seam. */
  private[graft] val knnIncrementBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Times the increment detected a non-append delta and fell back to
    * the full rebuild — spec seam for the precondition contract.
    */
  private[graft] val knnIncrementFallbacks = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Times the saturation pre-check chose the degraded merged write —
    * spec seam.
    */
  private[graft] val knnIncrementSaturatedWrites = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Publish `dir`'s k-NN edge asset by INCREMENT from `oldDir`'s
    * (round 15; partition-level publish round 16): the standing edge
    * and band assets are loaded, the vectors `dir` added are detected
    * by id anti-join, and [[knnIncrementPieces]] refreshes only the
    * affected sources. The result is published under the SAME content
    * address `corpusKnnEdges(spark, dir, …)` would build into — every
    * downstream consumer (all ten) loads the incremented table with
    * no code change, and the equality pin (increment ≡ full rebuild)
    * means the address is honest. A corpus append workflow calls this
    * once after landing the batch; the full rebuild remains the
    * fallback when no prior asset exists.
    *
    * WRITE SHAPE (round 16): the old asset's `pt` ranges
    * ([[ptCol]] — id-range directories) that contain NO affected
    * source are FILE-COPIED into the staging directory (no decode, no
    * shuffle, no distance — a metadata-plus-bytes move the filesystem
    * can satisfy server-side on HDFS/object stores); only ranges
    * holding an affected source, plus the batch's own new ranges, are
    * computed and written as parquet. Under the log-structured append
    * convention (batch ids above the standing max) a 10% append at
    * deployment LSH width therefore WRITES O(affected sources + batch)
    * data instead of re-serializing the full merged table — the write
    * half of the increment win the compute half earned in r15.
    *
    * PRECONDITION (round 16, [[knnIncrementFallbacks]]): the increment
    * is exact ONLY for a pure append — the affected-set argument
    * assumes every old vector is present, unchanged, in `dir`. That is
    * now VALIDATED before incrementing (one vec_id equi-join over the
    * corpora comparing embeddings null-safely — no banding, no
    * distances, far cheaper than the rebuild it guards); a removed
    * vector or a changed embedding under a reused vec_id triggers the
    * full rebuild instead of silently publishing stale edges under
    * `dir`'s honest-looking content address.
    *
    * Degenerate-delta guard: when EVERY standing range holds an
    * affected source (saturated buckets — the documented bits=4
    * regime), copy-forward buys nothing and the publisher simply
    * writes the whole merged frame in one job, same as r15. Any
    * untouched range is worth copying: the copy is a byte move the
    * filesystem can satisfy without decode or shuffle.
    *
    * `affectedPtBudget` caps the affected-range set the increment
    * tracks individually; above it the publisher degrades to the
    * one-job merged write instead of collecting the range list (the
    * over-budget case never pulls more than budget+1 rows to the
    * driver). 2²⁰ ranges ≈ 10⁹ vectors at the default width.
    */
  def corpusKnnEdgesIncrement(spark: SparkSession, oldDir: String, dir: String,
      kTop: Int = 5, bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000, partWidth: Long = 1024L,
      affectedPtBudget: Long = 1L << 20): DataFrame = {
    val assetId = knnEdgesAssetId(spark, dir, kTop, bits, tables, dim, seedBase, scale, partWidth)
    // already published? serve it with zero builds
    graft.engine.AssetStore.resolveIfCommitted(spark, assetId).foreach { d =>
      knnEdgeTables.putIfAbsent(assetId, d)
      return spark.read.parquet(d).drop("pt")
    }
    // resolve the STANDING edge asset before entering the handle map:
    // corpusKnnEdgesPath(oldDir) runs computeIfAbsent on this same map,
    // and ConcurrentHashMap forbids recursive mapping-function updates
    // (r17 review fix — a fresh JVM whose old asset is committed on
    // disk but absent from the map could crash "Recursive update")
    val oldPath = corpusKnnEdgesPath(spark, oldDir,
      kTop, bits, tables, dim, seedBase, scale, partWidth)
    val path = knnEdgeTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          val merged = Tables.embeddings(spark, dir)
          val oldEmb = Tables.embeddings(spark, oldDir)
          // pure-append precondition, metadata-first (r17): the file
          // listing + footer id stats prove the append with zero data
          // jobs; only an ambiguous listing (compaction, rewrite,
          // missing stats) pays the digest join, which stays the
          // ground-truth validator (<=> is null-safe, so a null
          // embedding row must still be PRESENT — presence is checked
          // via the join marker, not the embedding column)
          val meta = embAppendByMetadata(spark, oldDir, dir)
          if (meta.isEmpty && pureAppendViolated(spark, oldDir, dir)) {
            knnIncrementFallbacks.incrementAndGet()
            knnAssetBuilds.incrementAndGet()
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"knn edge increment $oldDir -> $dir is not a pure append; " +
                "falling back to the full rebuild")
            writeByPt(knnGraph(merged, kTop, bits, tables, dim, seedBase, scale), partWidth)
              .write.partitionBy("pt").mode("overwrite").parquet(staging)
          } else {
            knnIncrementBuilds.incrementAndGet()
            // co-publish dir's BAND asset by the same copy-forward
            // increment (append already validated): the next append's
            // standing side then loads instead of re-banding the
            // merged corpus
            publishBandIncrementUnchecked(spark, oldDir, dir,
              bits, tables, dim, seedBase, partWidth, meta)
            val oldEdges = spark.read.parquet(oldPath).drop("pt")
            val oldBands = corpusBandedEmbeddings(spark, oldDir,
              bits, tables, dim, seedBase, partWidth)
            // metadata-proven appends read the batch files directly;
            // the anti-join (both corpora's id columns) only runs for
            // digest-validated appends (r17)
            val newVecs = meta match {
              case Some(files) if files.nonEmpty => spark.read.parquet(files: _*)
              case _ => merged.join(oldEmb.select("vec_id"), Seq("vec_id"), "left_anti")
            }
            val (refreshed, affected, stages) = knnIncrementPieces(
              oldBands, merged, newVecs, kTop, bits, tables, dim, seedBase, scale)
            try {
              def fullMergedWrite(): Unit =
                writeByPt(
                    oldEdges.join(affected, Seq("vec_id"), "left_anti")
                      .unionByName(refreshed),
                    partWidth)
                  .write.partitionBy("pt").mode("overwrite").parquet(staging)
              // the ranges that must be (re)written: every range holding
              // an affected source. Bounded by |affected| (and in the
              // append convention mostly the batch's contiguous tail).
              // SATURATION GUARD (r17): DriverBudget fetches at most
              // budget+1 rows, so a corpus whose affected-range set
              // exceeds the budget (>2²⁰ ranges ≈ >10⁹ vectors at the
              // default width — the saturated bits=4 regime at scale)
              // throws the TYPED BudgetExceeded with O(budget) driver
              // memory; the publisher then degrades to the documented
              // one-job merged write instead of aborting — one Spark
              // job either way, never a count + re-collect pass.
              val affectedPtsDf = affected.select(ptCol(partWidth).as("pt")).distinct()
              val affectedPtsOpt =
                try Some(graft.engine.DriverBudget.collect(
                    "Similarity.corpusKnnEdgesIncrement.affectedPts", affectedPtBudget)(
                    affectedPtsDf)
                  .map(_.getLong(0)).toSet)
                catch { case _: graft.engine.DriverBudget.BudgetExceeded =>
                  knnIncrementSaturatedWrites.incrementAndGet()
                  None
                }
              affectedPtsOpt match {
                case None => fullMergedWrite()
                case Some(affectedPts) =>
              val fs = new org.apache.hadoop.fs.Path(staging)
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
              val oldPts = fs.listStatus(new org.apache.hadoop.fs.Path(oldPath))
                .filter(st => st.isDirectory && st.getPath.getName.startsWith("pt="))
                .map(st => st.getPath.getName.stripPrefix("pt=").toLong -> st.getPath)
                .toMap
              val untouched = oldPts.filter { case (pt, _) => !affectedPts.contains(pt) }
              if (untouched.isEmpty) {
                // saturated delta (every range holds an affected
                // source — the bits=4 regime): copying buys nothing,
                // write it all in one job
                fullMergedWrite()
              } else {
                untouched.foreach { case (pt, src) =>
                  org.apache.hadoop.fs.FileUtil.copy(fs, src,
                    fs, new org.apache.hadoop.fs.Path(staging, s"pt=$pt"),
                    false, spark.sparkContext.hadoopConfiguration)
                }
                // rewritten ranges: their surviving old rows + every
                // refreshed row (all affected sources live here, and the
                // batch's fresh ranges exist only here)
                val ptValues = affectedPts.toSeq.sorted
                writeByPt(
                    oldEdges.withColumn("__pt0", ptCol(partWidth))
                      .filter(col("__pt0").isin(ptValues: _*))
                      .drop("__pt0")
                      .join(affected, Seq("vec_id"), "left_anti")
                      .unionByName(refreshed),
                    partWidth)
                  .write.partitionBy("pt").mode("append").parquet(staging)
              }
              }
            } finally stages.foreach(_.unpersist(blocking = false))
          }
        }))
    spark.read.parquet(path).drop("pt")
  }

  /** Driver query: 5-NN graph under the shared LSH constants, served
    * from the materialized edge asset.
    */
  def knnGraphQuery(spark: SparkSession, dir: String): DataFrame =
    corpusKnnEdges(spark, dir).orderBy("vec_id", "rank")

  /** GRAPH-EXPANSION ANN — the expand-and-refine step every graph ANN
    * index (HNSW/NSG) is built from, run over the materialized k-NN
    * edge asset: a query's candidates are its direct graph neighbors
    * plus their neighbors (2-hop closure), exact-reranked on the
    * integer grid to top-k. Recall beats the flat LSH shortlist
    * wherever the true neighbor shares no bucket with the query but is
    * adjacent to something that does — the "navigate, then refine"
    * property that makes graph indexes work.
    *
    * Scale shape: a fourth consumer of the durable edge asset (zero
    * candidate generation at query time); both hops are equi-joins on
    * the skinny (src, dst) edge table — bounded fan-out k per hop, so
    * candidates ≤ k + k² per query; the re-rank pays exact distances
    * on candidates only and ranks through the long-ord top-k aggregate
    * (groups × k exchange).
    */
  def annGraphExpand(spark: SparkSession, dir: String,
      kTop: Int = 5, scale: Int = 1000, bits: Int = 4, tables: Int = 8,
      dim: Int = 64, seedBase: Long = 42L): DataFrame = {
    // the edge asset and the re-rank share ONE parameter vector: edges
    // expanded at kTop=k must be k-NN edges, and the exact re-rank must
    // use the quantization grid the edges were ranked under — a
    // different kTop/scale here resolves (builds or loads) the matching
    // asset address rather than silently serving the default one
    val edges = corpusKnnEdges(spark, dir, kTop, bits, tables, dim, seedBase, scale)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    val q = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), quantizedCol(col("embedding"), scale).as("qq"))
    val e1 = edges.as("e1")
    val e2 = edges.as("e2")
    val hop1 = e1.join(q.select(col("query_id")), col("e1.src") === col("query_id"))
      .select(col("query_id"), col("e1.dst").as("cand"))
    val hop2 = hop1.as("h1").join(e2, col("h1.cand") === col("e2.src"))
      .select(col("h1.query_id").as("query_id"), col("e2.dst").as("cand"))
    val cands = hop1.unionByName(hop2)
      .filter(col("cand") =!= col("query_id"))
      .distinct()
    cands.join(q, "query_id")
      .join(emb.select(col("vec_id").as("cand"), quantizedCol(col("embedding"), scale).as("qc")),
        "cand")
      .select(col("query_id"), col("cand"), vec.sqDistLong(col("qq"), col("qc")).as("dist"))
      .groupBy("query_id")
      .agg(graft.functions.agg.topKLongOrdTie(-col("dist"), col("cand"), kTop).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.tie").as("vec_id"),
        (-col("col.ord")).as("dist"))
      .orderBy("query_id", "rank")
  }

  /** PER-DIMENSION EMBEDDING STATS — the feature-health table run
    * before any whitening/normalization decision (a dead dimension,
    * a clipped range, or a wildly off-center mean shows up here first):
    * per dimension, count + integer-grid sum / sum-of-squares / min /
    * max. All aggregates are int64 over the quantization grid (the
    * [[quantizedCol]] convention), so the table is exact and
    * engine-independent — mean/variance are one division away for the
    * reader, left undone to keep every cell integral.
    *
    * Scale shape: one corpus pass, posexplode to skinny (dim, q) pairs,
    * map-side combined aggregation to d rows — the exchange carries
    * dims × partials, never vectors.
    */
  def embedDimStatsQuery(spark: SparkSession, dir: String, scale: Int = 1000): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(posexplode(quantizedCol(col("embedding"), scale)).as(Seq("dim", "q")))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sumsq_q"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"))
      .select(col("dim").cast("long").as("dim"), col("n"), col("sum_q"),
        col("sumsq_q"), col("min_q"), col("max_q"))
      .orderBy("dim")

  /** Per-label MEDOID — the member vector nearest its label's centroid
    * (exact integer grid, smallest-vec_id tie): the cluster-prototype
    * primitive behind "show me a representative document per cluster"
    * curation views and medoid-seeded k-means restarts.
    *
    * Scale shape: one [[vecagg.vecSumLong]] pass builds the labels × d
    * centroid table IN THE DATA PLANE (re-quantized floor(sum/n + 0.5),
    * the engine grid convention); it BROADCASTS back onto the corpus
    * scan, and the per-label argmin is `min(struct(dist, vec_id))` with
    * map-side partials — the corpus never shuffles, the exchanges carry
    * labels-sized rows.
    */
  def medoids(embeddings: DataFrame, scale: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val emb = embeddings.filter(col("embedding").isNotNull)
    val cent = emb
      .groupBy(col("label"))
      .agg(vecagg.vecSumLong(quantized(scale)).as("qsum"), count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("qsum"), x => floor(x.cast(DoubleType) / col("n") + lit(0.5)).cast(LongType))
          .as("qc"))
    emb.select(col("label"), col("vec_id"), quantized(scale).as("qe"))
      .join(broadcast(cent), Seq("label"))
      .select(col("label"), vec.sqDistLong(col("qe"), col("qc")).as("dist"), col("vec_id"))
      .groupBy(col("label"))
      .agg(min(struct(col("dist"), col("vec_id"))).as("m"))
      .select(col("label"), col("m.vec_id").as("medoid_id"), col("m.dist").as("dist"))
      .orderBy("label")
  }

  /** Driver query: one representative vector per corpus label. */
  def medoidsQuery(spark: SparkSession, dir: String): DataFrame =
    medoids(Tables.embeddings(spark, dir))

  /** Per-label OUTLIERS — [[medoids]]' argmin flipped to a top-k
    * argmax: the members FARTHEST from their label's centroid, the
    * embedding-QA screen for suspected label noise and out-of-domain
    * contamination (with [[pageRankOnKnn]]'s hubs and
    * [[embedHardNegatives]]' cross-label neighbors this completes the
    * labeled-corpus diagnostic set). Exact integer-grid distances,
    * rank ties broken by smallest vec_id.
    *
    * Scale shape: identical to [[medoids]] — the centroid table builds
    * in the data plane ([[vecagg.vecSumLong]], map-side partials),
    * broadcasts back onto one corpus scan, and the per-label top-k
    * rides the long-ord bounded aggregate: the final exchange carries
    * labels × k rows, the corpus never shuffles.
    */
  def outliers(embeddings: DataFrame, kTop: Int = 3, scale: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val emb = embeddings.filter(col("embedding").isNotNull)
    val cent = emb
      .groupBy(col("label"))
      .agg(vecagg.vecSumLong(quantized(scale)).as("qsum"), count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("qsum"), x => floor(x.cast(DoubleType) / col("n") + lit(0.5)).cast(LongType))
          .as("qc"))
    emb.select(col("label"), col("vec_id"), quantized(scale).as("qe"))
      .join(broadcast(cent), Seq("label"))
      .select(col("label"), vec.sqDistLong(col("qe"), col("qc")).as("dist"), col("vec_id"))
      .groupBy(col("label"))
      .agg(graft.functions.agg.topKLongOrdTie(col("dist"), col("vec_id"), kTop).as("top"))
      .select(col("label"), posexplode(col("top")))
      .select(
        col("label"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.tie").as("vec_id"),
        col("col.ord").as("dist"))
      .orderBy("label", "rank")
  }

  /** Driver query: the 3 farthest members per label. */
  def outliersQuery(spark: SparkSession, dir: String): DataFrame =
    outliers(Tables.embeddings(spark, dir))

  /** SEMANTIC COMPONENTS — connected components over the k-NN edge
    * asset restricted to edges under a distance ceiling: the
    * graph-clustering view of semantic dedup (semdedup's threshold
    * test made transitive), and the fifth consumer of the durable edge
    * table. Emits one row per clustered vector with its min-id cluster
    * label and the cluster size; vectors with no qualifying edge are
    * not "clusters of one" — they are simply unclustered (the
    * dedup_clusters contract).
    *
    * Scale shape: the edge filter is a scan predicate on the skinny
    * materialized asset (no candidate generation, no distances
    * recomputed); the closure is [[graft.operators.Clustering]]'s
    * star iteration with its driver fast path — edge sets here are
    * near-dup-graph sized, orders below the corpus.
    */
  def semanticComponents(spark: SparkSession, dir: String,
      maxDist: Long = 1280000L): DataFrame = {
    val edges = corpusKnnEdges(spark, dir)
      .filter(col("dist") <= maxDist)
      .select(col("vec_id").as("id_a"), col("nbr_id").as("id_b"))
    val labels = graft.operators.Clustering.connectedComponents(edges)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("cluster_id"), col("doc_id").as("vec_id"), col("cluster_size"))
      .orderBy("cluster_id", "vec_id")
  }

  /** PageRank over the [[knnGraph]] edges — graph CENTRALITY for a
    * document/embedding corpus: high-rank nodes sit in dense
    * neighborhoods (hub/boilerplate detection, influence-weighted
    * sampling); with [[graft.operators.Clustering]]'s connected
    * components and the k-NN graph itself this completes the graph
    * toolkit.
    *
    * All-INTEGER iteration, hash-exact on any engine: ranks live on a
    * 1e6 grid, contributions are `pr DIV out_degree` (floor), damping
    * is `150000 + (85 · Σcontrib) DIV 100` — no float accumulation
    * anywhere, so the result is independent of partitioning and join
    * order. Per iteration: one src-keyed join (edges × ranks) and one
    * dst-keyed aggregation — bounded-degree edges (≤ k per source)
    * keep both exchanges at edges-size; the iteration count is a
    * constant, not data-dependent.
    */
  def pageRankOnKnn(embeddings: DataFrame, iters: Int = 2, kTop: Int = 5): DataFrame =
    pageRank(
      knnGraph(embeddings, kTop = kTop).select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      embeddings.filter(col("embedding").isNotNull).select("vec_id"),
      iters)

  /** The iteration core over an arbitrary (src, dst) edge table —
    * production consumes the materialized [[corpusKnnEdges]] asset, so
    * iterations scan a skinny parquet instead of re-ranking neighbors.
    */
  def pageRank(edgeTable: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val edges = edgeTable
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var pr = nodes.withColumn("pr", lit(1000000L))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(deg, "src")
        .join(pr.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst").as("vec_id"), expr("pr DIV deg").as("c"))
        .groupBy("vec_id")
        .agg(sum(col("c")).as("s"))
      pr = nodes.join(contribs, Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) DIV 100")).as("pr"))
    }
    graft.engine.Caching.handoff(pr.orderBy("vec_id"), edges)
  }

  /** HARD-NEGATIVE mining — for every vector, its nearest neighbor
    * carrying a DIFFERENT label: the pairs-that-almost-confuse set a
    * contrastive/metric-learning pipeline trains against (and a label-
    * noise detector reads — a rank-1 cross-label neighbor at tiny
    * distance is usually a mislabel). Third consumer of the
    * [[corpusKnnEdges]] asset: the graph is ranked once; mining is a
    * label join plus a per-source `min(struct(rank, ...))` aggregate
    * with map-side partials — no distance is ever recomputed.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"))
    corpusKnnEdges(spark, dir)
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("nbr_id"), col("label").as("neg_label")),
        Seq("nbr_id"))
      .filter(col("label") =!= col("neg_label"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("rank"), col("nbr_id").as("neg_id"),
        col("neg_label"), col("dist"))).as("m"))
      .select(col("vec_id"), col("label"), col("m.neg_id").as("neg_id"),
        col("m.neg_label").as("neg_label"), col("m.rank").as("rank"),
        col("m.dist").as("dist"))
      .orderBy("vec_id")
  }

  /** MUTUAL k-NN pairs — edges present in BOTH directions of the
    * directed graph (a ranks b among its top-k AND b ranks a): the
    * standard robustness filter over approximate neighbor graphs —
    * one-directional edges are where hubness and LSH-bucket asymmetry
    * concentrate, so semantic-dedup and clustering pipelines gate on
    * reciprocity before trusting an edge. Emits each mutual pair once
    * (`id_a < id_b`) with both ranks and the shared integer-grid
    * distance (symmetric by construction — [[vec.sqDistLong]]).
    *
    * Scale shape: a self-equi-join of the skinny materialized
    * [[corpusKnnEdges]] asset on the reversed key — both sides are
    * `n·k` rows, the join key is (id, id), and the output is bounded
    * by the forward edge count. No distances recomputed, no candidate
    * generation; at 100 TB this is two scans of one parquet asset.
    */
  def mutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = corpusKnnEdges(spark, dir)
    val fwd = e.select(col("vec_id").as("id_a"), col("nbr_id").as("id_b"),
      col("rank").as("rank_ab"), col("dist"))
    val rev = e.select(col("vec_id").as("rid_b"), col("nbr_id").as("rid_a"),
      col("rank").as("rank_ba"))
    fwd.join(rev, col("id_a") === col("rid_a") && col("id_b") === col("rid_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("rank_ab"), col("rank_ba"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  /** The UNDIRECTED view of the k-NN edge asset: one row per unordered
    * adjacent pair, canonicalized `a < b`. Shared by the triangle and
    * neighbor-Jaccard operators so both sides of an oracle comparison
    * symmetrize identically.
    */
  private def undirectedKnn(spark: SparkSession, dir: String): DataFrame =
    corpusKnnEdges(spark, dir)
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .dropDuplicates("a", "b")

  /** TRIANGLE COUNTS + local clustering coefficient per node over the
    * symmetrized k-NN graph — the density diagnostic of a semantic
    * neighborhood: near-duplicate clumps close their triangles
    * (coefficient → 1), topic-boundary nodes don't, so the coefficient
    * ranks "how redundant is this vector's neighborhood" without any
    * new distance computation. Sixth consumer of the durable edge
    * asset.
    *
    * Scale shape — DEGREE-ORDERED orientation (the compact-forward
    * algorithm): every undirected edge is oriented from its lower
    * (degree, id) endpoint to its higher, wedges are built only from
    * a node's HIGHER-ordered neighbors, and each triangle is counted
    * exactly once at its lowest-ordered vertex. The wedge join is then
    * bounded by Σ out_deg², where out-degree under degree ordering is
    * bounded by the graph arboricity (O(√edges) worst case) — NOT by
    * the max in-degree, which in k-NN graphs is exactly where hub
    * vectors explode an id-oriented join. All three steps are
    * equi-joins on the skinny pair table; the per-node rollup is a
    * map-side-partial count. lcc is emitted in integer basis points
    * (`20000·T DIV (deg·(deg-1))`) so the aggregate is engine- and
    * order-independent.
    */
  def triangleStats(spark: SparkSession, dir: String): DataFrame =
    triangleStatsOn(undirectedKnn(spark, dir))

  /** [[triangleStats]]' body over a prebuilt undirected `(a, b)` edge
    * table — [[corpusTriangleStats]] runs it over the edge asset at an
    * explicit parameter vector.
    */
  private[graft] def triangleStatsOn(und0: DataFrame): DataFrame = {
    val und = und0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("vec_id"))
      .unionAll(und.select(col("b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    // Orient each edge from lower (degree, id) to higher (degree, id).
    val withDeg = und
      .join(deg.select(col("vec_id").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("vec_id").as("b"), col("degree").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val degKey = deg.select(col("vec_id"), col("degree"))
    // Wedges (u; v, w) from u's out-neighbors with ord(v) < ord(w),
    // closed by the oriented edge (v, w).
    val e1 = oriented.select(col("u"), col("v"))
    val e2 = oriented.select(col("u"), col("v").as("w"))
    val wedges = e1.join(e2, Seq("u"))
      .join(degKey.select(col("vec_id").as("v"), col("degree").as("dv")), Seq("v"))
      .join(degKey.select(col("vec_id").as("w"), col("degree").as("dw")), Seq("w"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    val triangles = wedges
      .join(oriented.select(col("u").as("u2"), col("v").as("v2")),
        col("v") === col("u2") && col("w") === col("v2"))
      .select(col("u"), col("v"), col("w"))
    val perNode = triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
    val out = deg.join(perNode, Seq("vec_id"), "left")
      .select(col("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_bp",
        when(col("degree") >= 2,
          expr("(20000 * n_triangles) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .orderBy("vec_id")
    graft.engine.Caching.handoff(out, und, oriented)
  }

  /** CLUSTERING COEFFICIENT BY DEGREE (round 17) — [[triangleStats]]'
    * per-node report rolled up to the grain a deployment actually
    * reads: per undirected degree, node count, triangle mass, and the
    * mean local clustering coefficient in basis points. The
    * degree-conditioned curve is the standard graph-health fingerprint
    * (real similarity graphs show lcc falling with degree; a FLAT high
    * curve at high degree is the near-duplicate-clump signature, and a
    * collapsed curve says the LSH width is shredding neighborhoods).
    * Twelfth consumer of the durable edge asset.
    *
    * Scale shape: exactly [[triangleStats]]' audited plan (degree-
    * ordered wedges, arboricity-bounded) plus a degree-keyed map-side-
    * combined rollup — degrees are bounded by the k-NN fan-in, so the
    * final exchange is tiny. The mean is `Σ lcc_bp DIV n` on int64
    * (engine- and order-independent).
    */
  def ccByDegree(spark: SparkSession, dir: String): DataFrame =
    corpusTriangleStats(spark, dir)
      .groupBy("degree")
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(col("n_triangles")).as("total_triangles"),
        sum(col("lcc_bp")).as("__s"))
      .withColumn("avg_lcc_bp", expr("__s DIV n_nodes"))
      .drop("__s")
      .orderBy("degree")

  /** DIMENSION CORRELATION AUDIT (round 17) — the `topK` most
    * correlated embedding-dimension PAIRS by |n·Σxy − Σx·Σy| (the
    * covariance numerator on the exact integer grid — no float
    * variance, no ulp lottery). [[embedDimStatsQuery]] reads each
    * dimension alone; this is the off-diagonal: strongly coupled
    * dimensions mean the model wastes capacity (PCA would fold them)
    * and — the curation angle — that a PQ subspace split straddling
    * them loses accuracy, so this table is read when choosing the
    * pq/ivfpq subspace layout.
    *
    * Scale shape: ONE corpus scan emitting d(d−1)/2 products per row
    * (d=64 → 2016 int64s — a fused array comprehension, no self-join
    * of the exploded corpus), map-side combined into a 2016-row
    * rollup; per-dim sums ride a 64-row broadcast. The head cut is a
    * bounded TakeOrderedAndProject. At 10⁹ rows the int64 bound holds
    * through Σxy (≤ n·scale²·max²) — past ~10¹² rows the sums need
    * decimal(38), noted here because the audit is corpus-wide by
    * design.
    *
    * GUARDS (round 18): the per-row blowup is d(d−1)/2 — 2016 at d=64
    * but ~8.4 M at d=4096, a 4000× expansion real embedding widths
    * would hit silently. A bounded probe (first [[DimCorrProbeRows]]
    * rows — embeddings are fixed-d by contract; the probe exists to
    * catch a WIDE corpus, not a ragged one) fails fast past
    * [[MaxDimCorrDims]] with the remedy: select a top-variance
    * subspace via [[embedDimStatsQuery]] first, then audit pairs
    * within it. Rows with fewer than 2 dimensions are dropped from
    * BOTH the per-dim sums and the product rollup (one population —
    * the covariance numerator stays consistent); under ANSI mode an
    * unguarded `sequence(0, size−2)` on such a row is a runtime
    * INVALID_ARRAY_INDEX, not a no-op.
    */
  val MaxDimCorrDims = 256
  val DimCorrProbeRows = 4096

  def embedDimCorr(spark: SparkSession, dir: String,
      scale: Int = 1000, topK: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
      .filter(size(col("embedding")) >= 2)
    val probed = graft.engine.DriverBudget.collect("Similarity.dimCorrProbe", 1L)(
      emb.limit(DimCorrProbeRows)
        .agg(coalesce(max(size(col("embedding"))), lit(0)).as("d")))
      .head.getInt(0)
    require(probed <= MaxDimCorrDims,
      s"embedDimCorr: embedding width $probed exceeds the pairwise cap " +
        s"$MaxDimCorrDims (the kernel emits d(d-1)/2 products PER ROW) — " +
        "pick a top-variance subspace from embedDimStatsQuery first, or " +
        "raise the cap deliberately for a width you know is bounded")
    val q = emb.select(quantizedCol(col("embedding"), scale).as("q"))
    val dims = q.select(posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("i").agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    // the per-dim stats are bounded by the MaxDimCorrDims guard above
    // (<= 256 rows) — collect them once (budget-audited); they serve the
    // fixed-width assertion, the flat-index -> (i, j) mapping, AND the
    // stat join (as a literal broadcast frame), retiring the r17 plan's
    // two in-plan broadcast joins of the dims aggregate
    val dimRows = graft.engine.DriverBudget.collect(
        "Similarity.dimCorr.dims", MaxDimCorrDims.toLong + 1)(
        dims.orderBy(col("i")))
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // FIXED-WIDTH assertion (r21, mirrors embedDimCorrTop's r19
    // contract): the flat product index below is only (i, j)-decodable
    // when every (>= 2-dim) row shares one width. A dimension i is
    // present in exactly the rows wider than i, so fixed width <=> every
    // dim's count equals dim 0's. Ragged corpora fail fast with the
    // remedy named instead of silently mis-mapping.
    val widths = dimRows.map(_._3).distinct
    require(widths.size <= 1,
      s"embedDimCorr: ragged embedding widths (per-dim populations " +
        s"${widths.mkString(", ")} differ) — normalize the corpus to one " +
        "width (pad or drop) before auditing dimension correlation.")
    val d = dimRows.length
    // PRODUCT PASS (r21, guide §2.3/§4): one flat array<long> of
    // d(d-1)/2 products per row, elementwise-summed by the VecSumLong
    // imperative aggregate — ONE d(d-1)/2-long buffer per partition.
    // The r17 shape exploded a named_struct per product (16 M struct
    // rows at sf0.1) through a 2016-key hash aggregate; the values are
    // identical (same q[i] * q[j] expression, same long arithmetic),
    // only the aggregation carrier changed.
    val sxyRow = q.select(graft.functions.vecagg.vecSumLong(expr(
      "flatten(transform(sequence(0, size(q) - 2), i -> " +
        "transform(sequence(i + 1, size(q) - 1), j -> q[i] * q[j])))")).as("v"))
    // driver-built flat-index mapping: idx -> (i, j, n, sx_i, sx_j) —
    // lexicographic (i, j) order, exactly the flatten order above
    val spark2 = spark
    import spark2.implicits._
    val mapping = (for {
      a <- 0 until d
      b <- (a + 1) until d
    } yield {
      val (i, sxi, n) = dimRows(a)
      val (j, sxj, _) = dimRows(b)
      (((a * (2 * d - a - 1)) / 2 + (b - a - 1)).toLong, i, j, n, sxi, sxj)
    }).toDF("idx", "i", "j", "n", "sx_i", "sx_j")
    sxyRow
      .select(posexplode(col("v")).as(Seq("__p", "sxy")))
      .select(col("__p").cast("long").as("idx"), col("sxy"))
      .join(broadcast(mapping), Seq("idx"))
      .withColumn("cov_num", col("n") * col("sxy") - col("sx_i") * col("sx_j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"), col("sxy"), col("cov_num"))
      .orderBy(abs(col("cov_num")).desc, col("i"), col("j"))
      .limit(topK)
  }

  /** TOP-VARIANCE-SUBSPACE DIMENSION CORRELATION (round 18) — the
    * production-width remedy [[embedDimCorr]]'s fail-fast names, made
    * a real path: pick the `subDims` highest-variance dimensions from
    * the per-dim moment pass (exact integer variance numerator
    * n·Σx² − (Σx)², ties to the lower dim), then run the exact
    * pairwise covariance audit INSIDE that subspace only. At d=4096
    * the full kernel's d(d−1)/2 = ~8.4 M products per row is a
    * 4000× blowup; this variant is two linear passes plus
    * subDims(subDims−1)/2 = 28 products per row at the default — the
    * shape that survives any embedding width. High-variance dims are
    * where correlated mass lives (a zero-variance dim has zero
    * covariance with everything), so the subspace is the right place
    * to look first; the full kernel remains for bounded widths.
    *
    * Scale shape: one posexplode moment pass (map-side combined,
    * d-keyed), a bounded TakeOrdered + driver collect of `subDims`
    * ints (DriverBudget-audited), one literal-index product pass, a
    * ≤28-key rollup, broadcast stat joins, TakeOrdered top-K.
    *
    * Fixed-width corpus contract, ASSERTED at runtime (round 19,
    * zero-extra-scan round 20): on a ragged corpus this kernel and its
    * SQL twin diverge silently — width-1 rows would be excluded from
    * the moment pass while the SQL keeps them, and rows shorter than
    * the deepest selected dim would drop their in-range (i, j)
    * products that the SQL keeps. The assertion is derived from the
    * kernel's own `dims` frame: a dimension i is present in exactly
    * the rows wider than i, so fixed width ⇔ every dim's count equals
    * dim 0's, and the exact [min, max] widths of a ragged corpus fall
    * out of the same rows (min = the first dim whose count drops, max
    * = the deepest dim + 1) — the r19 separate min/max(size) corpus
    * scan is retired. The width-sized dims collect also serves the
    * subspace pick, so the guard costs literally nothing extra.
    */
  def embedDimCorrTop(spark: SparkSession, dir: String,
      scale: Int = 1000, subDims: Int = 8, topK: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    val q = emb.select(quantizedCol(col("embedding"), scale).as("q"))
    // posexplode_OUTER (r21, ADVICE): a zero-width (empty-array) row
    // emits one (null, null) row instead of vanishing, so width-0 rows
    // surface as a null-dim group in the SAME single pass — the r20
    // inner-explode guard could not see them and silently passed a
    // corpus mixing empty and fixed-width rows. Still zero extra scans.
    val dims = q.select(posexplode_outer(col("q")).as(Seq("i", "x")))
      .groupBy("i").agg(
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        count(lit(1)).as("n"))
    // ONE width-sized driver read serves BOTH the fixed-width guard and
    // the subspace pick: ≤ width rows of four numbers, budget-audited
    val allRows = graft.engine.DriverBudget.collect(
        "Similarity.embedDimCorrTop.dims", 65536L)(
        dims.select(col("i"), col("sx"), col("sxx"), col("n"))
          .orderBy(col("i").asc_nulls_first))
    val zeroWidthRows = allRows.filter(_.isNullAt(0)).map(_.getLong(3)).sum
    val dimRows = allRows.filterNot(_.isNullAt(0))
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    if (dimRows.nonEmpty || zeroWidthRows > 0) {
      val total = dimRows.headOption.map(_._4).getOrElse(0L)
      val lo =
        if (zeroWidthRows > 0) 0
        else dimRows.find(_._4 < total).map(_._1).getOrElse(dimRows.length)
      val hi = dimRows.lastOption.map(_._1 + 1).getOrElse(0)
      // uniform zero-width corpus (ADVICE r21): "[0, 0]" reads as a
      // ragged range when the corpus has exactly one (zero) width —
      // name the real problem instead
      require(!(zeroWidthRows > 0 && dimRows.isEmpty),
        s"embedDimCorrTop: every embedding is empty ($zeroWidthRows " +
          "zero-width rows) — no dimension pairs exist to audit.")
      require(lo == hi && lo >= 2,
        s"embedDimCorrTop: ragged embedding widths [${math.min(lo, hi)}, $hi] — " +
          "the kernel and its oracle diverge on ragged corpora (width-1 rows " +
          "and short-row products). Normalize the corpus to one width (pad or " +
          "drop) before auditing dimension correlation.")
    }
    val sel = dimRows
      .map { case (i, sx, sxx, n) => (i, n * sxx - sx * sx) }
      .sortBy { case (i, varNum) => (-varNum, i) }
      .take(subDims)
      .map(_._1).sorted
    val spark2 = spark
    import spark2.implicits._
    // an empty corpus (no dims at all) has no pairs: empty result with
    // the exact output schema — the pre-r22 struct-explode shape reached
    // the same rows through a degenerate empty-array explode
    if (sel.size < 2)
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("i", "j", "n", "sxy", "cov_num")
    // PRODUCT PASS (r22, mirrors embedDimCorr's r21 rewrite, guide
    // §2.3/§4): one flat array<long> of subDims(subDims−1)/2 products
    // per row in lexicographic (a, b) order — the SAME element_at
    // products, same long arithmetic — elementwise-summed by the
    // VecSumLong imperative aggregate (one ≤28-long buffer per
    // partition) instead of exploding a struct per product through a
    // (i, j) hash aggregate. The per-dim stats are ALREADY on the
    // driver (the guard/subspace collect), so the flat index joins a
    // driver-built literal mapping and the product pass is the only
    // corpus work left after the one dims pass.
    val prodCols = for {
      a <- sel.indices
      b <- (a + 1) until sel.size
    } yield element_at(col("q"), sel(a) + 1) * element_at(col("q"), sel(b) + 1)
    val sxyRow = q.filter(size(col("q")) > sel.lastOption.getOrElse(0))
      .select(graft.functions.vecagg.vecSumLong(array(prodCols: _*)).as("v"))
    val byDim = dimRows.map { case (i, sx, _, n) => i -> (sx, n) }.toMap
    val mapping = (for {
      a <- sel.indices
      b <- (a + 1) until sel.size
    } yield {
      val (sxi, n) = byDim(sel(a))
      val (sxj, _) = byDim(sel(b))
      (sel(a), sel(b), n, sxi, sxj)
    }).zipWithIndex
      .map { case ((i, j, n, sxi, sxj), k) => (k.toLong, i, j, n, sxi, sxj) }
      .toDF("idx", "i", "j", "n", "sx_i", "sx_j")
    sxyRow
      .select(posexplode(col("v")).as(Seq("__p", "sxy")))
      .select(col("__p").cast("long").as("idx"), col("sxy"))
      .join(broadcast(mapping), Seq("idx"))
      .withColumn("cov_num", col("n") * col("sxy") - col("sx_i") * col("sx_j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"), col("sxy"), col("cov_num"))
      .orderBy(abs(col("cov_num")).desc, col("i"), col("j"))
      .limit(topK)
  }

  /** EMBEDDING DRIFT BY LABEL (round 20) — the append-era distribution
    * audit, the semantic complement of the ngram-order staleness rows:
    * did the latest batch MOVE a label's embedding distribution, or
    * did it land where the standing vectors already live? Splits the
    * corpus at the 90%-by-id cut (the same append convention the
    * increment fixtures and `contamination`'s eval slice use; a
    * production run substitutes its real old/new id frontier) and
    * reports, per label, the exact integer L1 centroid drift on the
    * quantized grid: Σ_d |n_new·S_old_d − n_old·S_new_d| — the
    * cross-multiplied difference of the two centroid NUMERATORS, zero
    * iff the standing and batch centroids coincide on the grid, no
    * float means, so the number is engine-independent and comparable
    * across runs. High drift on a label says the batch is not more of
    * the same — retrain/re-cluster signals (IVF cells, PQ codebooks,
    * LSH widths all assume a stationary distribution; this is the
    * per-label stationarity check those assets' retrain cadence reads).
    * A label with no batch vectors reads 0 (no evidence, not "no
    * drift" — n_new says which).
    *
    * Scale shape: one posexplode moment pass (map-side combined,
    * (label, d)-keyed — the same exchange class as embedDimStats), a
    * label-keyed count pass, one broadcast join of the labels-sized
    * count table, a ≤labels·d rollup. Products are computed in
    * decimal(38,0) — n·S_d exceeds int64 comfortably below the target
    * scale — and the final L1 folds back to long (fits through sf1
    * by orders of magnitude; a 100 TB deployment keeps the decimal).
    */
  def embedDriftByLabel(spark: SparkSession, dir: String, scale: Int = 1000): DataFrame = {
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    val cut = emb.agg(expr("max(vec_id) * 9 DIV 10").as("cut"))
    val q = emb.crossJoin(broadcast(cut))
      .select(col("label"), (col("vec_id") <= col("cut")).as("old"),
        posexplode(quantizedCol(col("embedding"), scale)).as(Seq("d", "x")))
    val sums = q.groupBy("label", "d").agg(
      sum(when(col("old"), col("x")).otherwise(lit(0L))).as("s_old"),
      sum(when(!col("old"), col("x")).otherwise(lit(0L))).as("s_new"))
    val counts = emb.crossJoin(broadcast(cut)).groupBy("label").agg(
      sum(when(col("vec_id") <= col("cut"), lit(1L)).otherwise(lit(0L))).as("n_old"),
      sum(when(col("vec_id") > col("cut"), lit(1L)).otherwise(lit(0L))).as("n_new"))
    sums.join(broadcast(counts), Seq("label"))
      .groupBy("label", "n_old", "n_new")
      .agg(sum(abs(
          col("n_new").cast("decimal(38,0)") * col("s_old")
            - col("n_old").cast("decimal(38,0)") * col("s_new")))
        .cast("long").as("drift_l1"))
      .orderBy("label")
  }

  /** SHARED-NEAREST-NEIGHBOR similarity — for every adjacent pair of
    * the symmetrized k-NN graph, the Jaccard overlap of the two
    * endpoints' neighbor sets (each excluding the other endpoint): the
    * SNN weight under Jarvis–Patrick / SNN-DBSCAN clustering, and a
    * sharper near-duplicate signal than raw distance because two
    * near-dups don't just sit close — they agree on WHO ELSE is close.
    * Seventh consumer of the edge asset. Jaccard is emitted in integer
    * basis points (`10000·shared DIV union`), engine-independent.
    *
    * Scale shape: shared-neighbor counts come from joining the edge
    * list's two adjacency directions through the common endpoint c —
    * the per-edge intersect runs as two equi-joins seeded FROM the
    * edge table (never materializing wedges for non-adjacent pairs),
    * with intermediate size Σ_(a,b)∈E deg(a) ≤ E·maxdeg, and the
    * rollup is a map-side-partial count on (a, b). Degrees join in
    * broadcast-sized; nothing corpus-scale shuffles.
    */
  def neighborJaccard(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedKnn(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Full adjacency (both directions) once; reused for both endpoints.
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("degree"))
    val shared = und
      .join(adj.select(col("node").as("a"), col("nbr").as("c")), Seq("a"))
      .join(adj.select(col("node").as("b"), col("nbr").as("c")), Seq("b", "c"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    val out = und
      .join(shared, Seq("a", "b"), "left")
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        (col("da") + col("db") - lit(2) - coalesce(col("shared"), lit(0L)))
          .as("union_n"))
      .withColumn("jacc_bp",
        when(col("union_n") > 0, expr("(10000 * shared) DIV union_n"))
          .otherwise(lit(0L)))
      .orderBy("id_a", "id_b")
    graft.engine.Caching.handoff(out, und)
  }

  /** IN-DEGREE HISTOGRAM of the directed k-NN graph — the hubness
    * audit: out-degree is capped at k by construction, but in-degree
    * is where approximate-neighbor graphs concentrate pathology (a hub
    * vector ranked "near" by thousands inflates downstream joins and
    * poisons graph-ANN recall). One row per in-degree value, including
    * the zero bucket (vectors nobody ranks — the unreachable set a
    * graph-ANN index must re-seed). Eighth consumer of the edge asset.
    *
    * Scale shape: one map-side-combined count on the skinny edge
    * table, a left anti-ish join against the vector ids for the zero
    * bucket, and a histogram rollup whose key cardinality is bounded
    * by the max in-degree — nothing corpus-scale shuffles.
    */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val indeg = corpusKnnEdges(spark, dir)
      .groupBy(col("nbr_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull).select("vec_id")
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy("in_degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("in_degree")
  }

  /** DEGREE ASSORTATIVITY of the 5-NN graph (round 19) — the exact
    * integer covariance numerator between the IN-degrees of an edge's
    * two endpoints over all directed edges: n·Σxy − Σx·Σy plus its two
    * marginal variance numerators, so the Pearson assortativity
    * coefficient is one client-side division away with every operand
    * exact int64. Negative assortativity is the hubness signature (low
    * in-degree vectors rank hubs that rank other hubs' spokes back) —
    * the one-row summary behind [[degreeHistogram]]'s shape and the
    * decision input for the mutual-kNN thinning that
    * [[reciprocityByRank]] calibrates. Fifteenth consumer of the
    * durable edge asset.
    *
    * Scale shape: one skinny edge scan into a vec-keyed in-degree
    * rollup, two vec-keyed equi-joins back onto the edges (k-bounded
    * per source, never corpus × corpus), one single-row map-side
    * combined rollup. Int64 bounds: deg ≤ corpus, so Σxy ≤ n·deg² —
    * safe through ~10¹² edges at real k-NN degree profiles.
    */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = corpusKnnEdges(spark, dir).select("vec_id", "nbr_id")
    val indeg = graft.engine.Caching.handoff(
      edges.groupBy(col("nbr_id").as("id")).agg(count(lit(1)).as("deg")))
    edges
      .join(indeg.select(col("id").as("vec_id"), col("deg").as("x")),
        Seq("vec_id"), "left")
      .join(indeg.select(col("id").as("nbr_id"), col("deg").as("y")),
        Seq("nbr_id"), "left")
      .select(coalesce(col("x"), lit(0L)).as("x"), coalesce(col("y"), lit(0L)).as("y"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n_edges"), col("sx"), col("sy"), col("sxy"),
        (col("n_edges") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        (col("n_edges") * col("sxx") - col("sx") * col("sx")).as("var_x_num"),
        (col("n_edges") * col("syy") - col("sy") * col("sy")).as("var_y_num"))
  }

  /** LABEL CONFUSION MATRIX of the embedding space — k-NN edges rolled
    * up by (source label, neighbor label): the diagonal is class
    * cohesion, the off-diagonal is which classes BLUR into each other
    * — the first chart read when an embedding model ships (high
    * cross-label edge mass between two labels predicts retrieval
    * confusion and semantic-dedup false merges between them). Distance
    * mass is the exact int64 grid sum — a mean is one client-side
    * division away and stays engine-independent because both operands
    * are exact. Ninth consumer of the durable edge asset.
    *
    * Scale shape: two label equi-joins on the skinny edge table and a
    * labels²-keyed map-side-combined rollup; nothing corpus-sized
    * shuffles.
    */
  def labelConfusion(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"))
    corpusKnnEdges(spark, dir)
      .join(labels.select(col("vec_id"), col("label").as("label_a")), Seq("vec_id"))
      .join(labels.select(col("vec_id").as("nbr_id"), col("label").as("label_b")),
        Seq("nbr_id"))
      .groupBy("label_a", "label_b")
      .agg(count(lit(1)).as("n_edges"), sum(col("dist")).as("sum_dist"))
      .orderBy("label_a", "label_b")
  }

  /** Driver queries for the edge-asset graph diagnostics. */
  def mutualKnnQuery(spark: SparkSession, dir: String): DataFrame =
    mutualKnn(spark, dir)
  // (asset id) -> parquet path of the materialized triangle table —
  // the same "derive once per corpus, consume many" contract as the
  // signature/edge assets: the wedge join is the most expensive
  // standing graph computation and three queries consume its output.
  private val triangleTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Wedge joins [[corpusTriangleStats]] ran this JVM — spec seam. */
  private[graft] val triangleAssetBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The materialized [[triangleStats]] table for `dir`: per-node
    * (vec_id, degree, n_triangles, lcc_bp), derived by one wedge join
    * ([[triangleStatsOn]]) over the durable k-NN edge asset under the
    * same parameter vector and published next to it. graph_triangles,
    * graph_cc_by_degree and graph_lcc_hist load the skinny four-long
    * table. Address = edge-asset parameters + corpus fingerprint, so a
    * corpus rebuild or an LSH-constant change retires it; after an
    * append [[corpusTriangleStatsIncrement]] publishes it over the
    * incremented edge asset.
    */
  def corpusTriangleStats(spark: SparkSession, dir: String, kTop: Int = 5,
      bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000, partWidth: Long = 1024L): DataFrame = {
    val assetId = tristatsAssetId(spark, dir, kTop, bits, tables, dim, seedBase, scale)
    val path = triangleTables.computeIfAbsent(assetId, _ =>
      graft.engine.AssetStore.resolve(spark, assetId,
        staging => {
          triangleAssetBuilds.incrementAndGet()
          triangleStatsOn(
            undirectedKnnAt(spark, dir, kTop, bits, tables, dim, seedBase, scale, partWidth))
            .write.mode("overwrite").parquet(staging)
        }))
    spark.read.parquet(path)
  }

  private def tristatsAssetId(spark: SparkSession, dir: String, kTop: Int,
      bits: Int, tables: Int, dim: Int, seedBase: Long, scale: Int): String = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "embeddings.parquet")
    // partWidth deliberately absent: the stats depend on the edge
    // CONTENT, which is identical at every storage width
    s"tristats_k${kTop}_b${bits}_t${tables}_d${dim}_sd${seedBase}" +
      s"_s${scale}_v${graft.engine.AssetStore.FormatVersion}_$fp"
  }

  /** [[undirectedKnn]] at an explicit parameter vector — the publisher
    * reads the edge asset the spec (or deployment) actually published
    * rather than the query defaults.
    */
  private def undirectedKnnAt(spark: SparkSession, dir: String, kTop: Int,
      bits: Int, tables: Int, dim: Int, seedBase: Long, scale: Int,
      partWidth: Long): DataFrame =
    spark.read
      .parquet(corpusKnnEdgesPath(spark, dir, kTop, bits, tables, dim, seedBase, scale, partWidth))
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .dropDuplicates("a", "b")

  /** Publish `dir`'s triangle-stats asset after an append from
    * `oldDir`: an already-committed asset is served with zero builds;
    * otherwise the edge asset is published by
    * [[corpusKnnEdgesIncrement]] (a no-op when already committed, a
    * full rebuild when the append precondition fails) and
    * [[corpusTriangleStats]] runs its one wedge join over it. `oldDir`'s
    * triangle-stats asset is never read: the wedge join is k-bounded
    * (Σ out_deg² over a k-NN graph), and a recompute restricted to the
    * edge delta's closure measured slower at every tested scale
    * (SCALING.md r19/r20).
    */
  def corpusTriangleStatsIncrement(spark: SparkSession, oldDir: String, dir: String,
      kTop: Int = 5, bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000, partWidth: Long = 1024L): DataFrame = {
    val assetId = tristatsAssetId(spark, dir, kTop, bits, tables, dim, seedBase, scale)
    graft.engine.AssetStore.resolveIfCommitted(spark, assetId).foreach { d =>
      triangleTables.putIfAbsent(assetId, d)
      return spark.read.parquet(d)
    }
    corpusKnnEdgesIncrement(spark, oldDir, dir, kTop, bits, tables, dim,
      seedBase, scale, partWidth)
    corpusTriangleStats(spark, dir, kTop, bits, tables, dim, seedBase, scale, partWidth)
  }

  def triangleStatsQuery(spark: SparkSession, dir: String): DataFrame =
    corpusTriangleStats(spark, dir).orderBy("vec_id")

  /** LOCAL-CLUSTERING-COEFFICIENT HISTOGRAM (round 18) — nodes
    * bucketed by lcc decile (basis points DIV 2000: 0..10, the 10th
    * bucket is exactly-1.0 cliques), with node count, triangle mass
    * and the bucket max. The corpus-level redundancy fingerprint: mass
    * at the top deciles is near-duplicate clique structure
    * (semantic-dedup headroom), a bottom-heavy profile is genuine
    * topical diversity. Third consumer of the durable tristats asset —
    * and the chart that says whether running semdedup is worth it
    * BEFORE paying for it.
    *
    * Scale shape: a corpus-rows scan of the skinny four-long asset
    * into an 11-key map-side-combined rollup; the wedge join ran at
    * publish time, never here.
    */
  def lccHist(spark: SparkSession, dir: String): DataFrame =
    corpusTriangleStats(spark, dir)
      .groupBy(expr("lcc_bp DIV 2000").as("decile"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(col("n_triangles")).as("total_triangles"),
        max(col("lcc_bp")).as("max_lcc_bp"))
      .orderBy("decile")

  /** RECIPROCITY BY RANK (round 18) — per k-NN rank, the fraction of
    * directed edges whose reverse edge also exists (basis points).
    * Rank-1 edges in a healthy embedding space reciprocate heavily;
    * reciprocity decaying steeply with rank is hubness (many vectors
    * rank a hub that ranks none of them back) — the one-table summary
    * behind [[mutualKnn]]'s pair listing, and the calibration for how
    * much the mutual-kNN filter will THIN the graph before it runs.
    * Fourteenth consumer of the durable edge asset.
    *
    * Scale shape: one self equi-join of the skinny edge table on the
    * reversed key (k-bounded per source), rolled into a ≤k-key
    * map-side-combined rollup; nothing corpus-wide shuffles beyond the
    * edge-keyed exchange.
    */
  def reciprocityByRank(spark: SparkSession, dir: String): DataFrame = {
    val e = corpusKnnEdges(spark, dir)
    val rev = e.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id"))
      .withColumn("__r", lit(1L))
    e.join(rev, Seq("vec_id", "nbr_id"), "left")
      .groupBy("rank")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(coalesce(col("__r"), lit(0L))).as("n_reciprocal"))
      .withColumn("reciprocity_bp", expr("(10000 * n_reciprocal) DIV n_edges"))
      .orderBy("rank")
  }

  /** EDGE-DISTANCE DOUBLING HISTOGRAM (round 18) — the 5-NN edges
    * bucketed by integer log2 of the exact grid distance (the
    * embed_norm_hist axis applied to edges): edge count, min/max and
    * exact distance mass per doubling. This is the radius-calibration
    * chart for the fixed-radius family — range_search's ceiling and
    * semantic-dedup's threshold should sit where this histogram's
    * near-mass ends — and the drift alarm (the profile shifting right
    * release-over-release means the embedding space is spreading).
    * Thirteenth consumer of the durable edge asset.
    *
    * Scale shape: an edges-sized column-pruned scan of the asset into
    * a ≤64-key map-side-combined rollup; zero-distance edges (exact
    * vector copies) are excluded from the log axis on both engines.
    */
  def edgeDistHist(spark: SparkSession, dir: String): DataFrame =
    corpusKnnEdges(spark, dir)
      .filter(col("dist") >= 1)
      .groupBy((length(bin(col("dist"))) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_edges"),
        min(col("dist")).as("min_dist"),
        max(col("dist")).as("max_dist"),
        sum(col("dist")).as("sum_dist"))
      .orderBy("k")
  def neighborJaccardQuery(spark: SparkSession, dir: String): DataFrame =
    neighborJaccard(spark, dir)
  def degreeHistogramQuery(spark: SparkSession, dir: String): DataFrame =
    degreeHistogram(spark, dir)
  def labelConfusionQuery(spark: SparkSession, dir: String): DataFrame =
    labelConfusion(spark, dir)

  /** 2-HOP REACH — per vector: direct out-degree and how many NEW
    * nodes become reachable at exactly two hops (neighbors-of-neighbors
    * minus self minus direct neighbors), plus the expansion ratio in
    * basis points. This is the navigability diagnostic behind
    * [[annGraphExpand]]: expansion near zero means the 2-hop closure
    * adds no candidates there (a clustered/clique-y neighborhood),
    * expansion near k² means the graph fans out — the number that says
    * whether expand-and-refine will buy recall before you pay for it.
    *
    * Scale shape: a tenth consumer of the durable edge asset — one
    * self-equi-join on the skinny (src, dst) table (fan-out ≤ k per
    * hop, so ≤ k² rows per source pre-distinct), one anti-join against
    * the direct edges, two doc-keyed rollups. No distances, no corpus
    * scan.
    */
  def twoHopReach(spark: SparkSession, dir: String): DataFrame = {
    val e = corpusKnnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val one = e.groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("n_1hop"))
    val h2 = e.as("a").join(e.as("b"), col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("d2"))
      .filter(col("src") =!= col("d2"))
      .distinct()
    val fresh = h2.join(e.select(col("src"), col("dst").as("d2")), Seq("src", "d2"), "left_anti")
      .groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("n_2hop_new"))
    val out = one.join(fresh, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_1hop"),
        coalesce(col("n_2hop_new"), lit(0L)).as("n_2hop_new"))
      .withColumn("expansion_bp", expr("(10000 * n_2hop_new) DIV n_1hop"))
      .orderBy("vec_id")
    graft.engine.Caching.handoff(out, e)
  }

  /** RANGE SEARCH (ε-NN) — every LSH-candidate pair within a squared
    * grid distance ceiling, symmetric (id_a < id_b): the fixed-radius
    * complement to top-k ANN. Top-k answers "the 5 nearest whatever
    * the distance"; range search answers "everything actually CLOSE",
    * which is what semantic-dedup thresholds, near-duplicate audits
    * and density estimates consume (graph_semantic_clusters is exactly
    * this set closed transitively). Distances on the exact int64 grid
    * — the ceiling is an integer compare, no float boundary.
    *
    * Scale shape: candidates from the materialized band asset (no
    * banding at query time), bounded by LSH bucket occupancy — never
    * all-pairs; one exact-distance projection with the ceiling pushed
    * into the same stage, so only qualifying pairs reach the exchange.
    */
  def rangeSearch(spark: SparkSession, dir: String, radius: Long = 1280000L,
      bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000): DataFrame = {
    val bands = corpusBandedEmbeddings(spark, dir, bits, tables, dim, seedBase)
    val cands = bands.select(col("t"), col("b"), col("vec_id").as("id_a"))
      .join(bands.select(col("t"), col("b"), col("vec_id").as("id_b")), Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    cands
      .join(emb.select(col("vec_id").as("id_a"),
        quantizedCol(col("embedding"), scale).as("q_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"),
        quantizedCol(col("embedding"), scale).as("q_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        vec.sqDistLong(col("q_a"), col("q_b")).as("dist"))
      .filter(col("dist") <= radius)
      .orderBy("id_a", "id_b")
  }

  /** SEMANTIC CONTAMINATION (round 18) — the embedding-tier complement
    * of the 8-gram [[graft.operators.TextAnalysis.contamination]]
    * audit: for every EVAL vector (the id-slice convention the lexical
    * audit uses), the corpus vectors within the fixed squared-grid
    * ceiling — match count, the exact minimum distance, and the
    * nearest corpus id. Decontamination pipelines run exactly this
    * pair of audits before a training run: the lexical tier catches
    * verbatim leakage, this tier catches PARAPHRASED eval rows that
    * share no 8-gram but sit on top of an eval embedding.
    *
    * Scale shape: candidates from the materialized band asset with the
    * eval cut pushed into the scan (an eval-sized fraction of bucket
    * rows on one side), bounded by LSH bucket occupancy — never
    * eval × corpus; one exact-distance projection with the ceiling
    * fused; per-eval rollup with the argmin as a lexicographic
    * struct-min in the same exchange.
    */
  def semanticContamination(spark: SparkSession, dir: String,
      radius: Long = 1280000L, evalMax: Long = 64L, bits: Int = 4,
      tables: Int = 8, dim: Int = 64, seedBase: Long = 42L,
      scale: Int = 1000): DataFrame = {
    val bands = corpusBandedEmbeddings(spark, dir, bits, tables, dim, seedBase)
    val cands = bands.filter(col("vec_id") < evalMax)
      .select(col("t"), col("b"), col("vec_id").as("eval_id"))
      .join(bands.filter(col("vec_id") >= evalMax)
        .select(col("t"), col("b"), col("vec_id").as("corpus_id")), Seq("t", "b"))
      .select("eval_id", "corpus_id")
      .dropDuplicates("eval_id", "corpus_id")
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    cands
      .join(emb.select(col("vec_id").as("eval_id"),
        quantizedCol(col("embedding"), scale).as("q_a")), Seq("eval_id"))
      .join(emb.select(col("vec_id").as("corpus_id"),
        quantizedCol(col("embedding"), scale).as("q_b")), Seq("corpus_id"))
      .select(col("eval_id"), col("corpus_id"),
        vec.sqDistLong(col("q_a"), col("q_b")).as("dist"))
      .filter(col("dist") <= radius)
      .groupBy("eval_id")
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("dist")).as("min_dist"),
        min(struct(col("dist"), col("corpus_id"))).getField("corpus_id").as("nearest_id"))
      .orderBy("eval_id")
  }

  /** TABLE-VALUED SEMANTIC CONTAMINATION (round 19 — the r18 verdict's
    * item 3: "a real decontamination run brings an eval TABLE").
    * [[semanticContamination]] with the eval side as its own input
    * frame `(eval_id, embedding)` instead of the id-slice convention:
    * eval vectors are banded AT QUERY TIME under the corpus's exact
    * LSH parameters (eval sets are audit-sized; banding them is a few
    * hyperplane dot products per row) and joined against the
    * MATERIALIZED corpus band asset, so the corpus side still never
    * re-bands. No corpus id is excluded — an eval row that IS in the
    * corpus is maximal contamination (dist 0) and must surface, which
    * the id-slice variant by construction cannot show. Eval ids are
    * the caller's namespace; they are never compared against corpus
    * ids.
    *
    * Scale shape: identical to [[semanticContamination]] — bucket-join
    * bounded by occupancy × |eval|, never eval × corpus; the ceiling
    * and argmin fuse into the per-eval rollup exchange. The id-slice
    * variant stays as the oracle fixture; this is the production
    * entrypoint ([[semanticContaminationAgainst]] reads the eval table
    * from a directory).
    */
  def semanticContaminationOn(spark: SparkSession, dir: String, evalVecs: DataFrame,
      radius: Long = 1280000L, bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000): DataFrame = {
    val eval = evalVecs.select(col("eval_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
    val evalBands = bandsOf(eval.select(col("eval_id").as("vec_id"), col("embedding")),
        bits, tables, dim, seedBase)
      .select(col("vec_id").as("eval_id"), col("t"), col("b"))
    val corpusBands = corpusBandedEmbeddings(spark, dir, bits, tables, dim, seedBase)
    val cands = evalBands
      .join(corpusBands.select(col("t"), col("b"), col("vec_id").as("corpus_id")),
        Seq("t", "b"))
      .select("eval_id", "corpus_id")
      .dropDuplicates("eval_id", "corpus_id")
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    cands
      .join(eval.select(col("eval_id"),
        quantizedCol(col("embedding"), scale).as("q_a")), Seq("eval_id"))
      .join(emb.select(col("vec_id").as("corpus_id"),
        quantizedCol(col("embedding"), scale).as("q_b")), Seq("corpus_id"))
      .select(col("eval_id"), col("corpus_id"),
        vec.sqDistLong(col("q_a"), col("q_b")).as("dist"))
      .filter(col("dist") <= radius)
      .groupBy("eval_id")
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("dist")).as("min_dist"),
        min(struct(col("dist"), col("corpus_id"))).getField("corpus_id").as("nearest_id"))
      .orderBy("eval_id")
  }

  /** [[semanticContaminationOn]] with the eval set read from its own
    * directory's `embeddings.parquet` — the deployment shape (the eval
    * suite lives in its own table, not inside the corpus).
    */
  def semanticContaminationAgainst(spark: SparkSession, dir: String, evalDir: String,
      radius: Long = 1280000L, bits: Int = 4, tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000): DataFrame =
    semanticContaminationOn(spark, dir,
      Tables.embeddings(spark, evalDir)
        .select(col("vec_id").as("eval_id"), col("embedding")),
      radius, bits, tables, dim, seedBase, scale)

  /** RANGE-SEARCH RECALL SCORECARD (round 16) — pair-recall of the
    * LSH-banded candidate generation at each hyperplane width, against
    * exact ground truth on a query slice: `n_true` pairs within the
    * radius (smaller id in the slice), `n_found` of them surfaced by
    * the banding at that width, recall in basis points. This is the
    * number that sizes `bits` for deployment: the ann_range_search
    * ORACLE pins bits=4 (saturated buckets — recall high by
    * occupancy), but at the measured deployment width (bits=12)
    * collisions are sparser and pairs inside the radius CAN be missed
    * (sf0.01 at the default radius: 7254 bp at bits=4 vs 196 bp at
    * bits=12 — the trade the deployment buys its increment win with,
    * now measured instead of assumed); [[annRecall]] plays this role
    * for the top-k family.
    *
    * Scale shape: ground truth is a bounded slice × corpus
    * broadcast-nested-loop (|slice| rows broadcast, never
    * corpus×corpus); each width's candidates come from the
    * MATERIALIZED band asset at that width (r17 — previously the
    * corpus was re-banded per width at query time; now the default
    * width loads the standing `embbands` table every bucketed query
    * serves from, and the deployment width publishes its band table
    * ONCE, which the append increment then maintains), self-joined per
    * bucket (occupancy-bounded); the verdict is a pair-keyed left join
    * rolled into one row per width. The audit is a two-asset scan.
    */
  def rangeRecall(spark: SparkSession, dir: String, radius: Long = 1280000L,
      bitsSettings: Seq[Int] = Seq(4, 12), tables: Int = 8, dim: Int = 64,
      seedBase: Long = 42L, scale: Int = 1000, sliceMax: Long = 64L): DataFrame = {
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    val qs = emb.filter(col("vec_id") < sliceMax)
      .select(col("vec_id").as("id_a"), quantizedCol(col("embedding"), scale).as("q_a"))
    val cs = emb.select(col("vec_id").as("id_b"), quantizedCol(col("embedding"), scale).as("q_b"))
    val truth = broadcast(qs).join(cs, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        vec.sqDistLong(col("q_a"), col("q_b")).as("dist"))
      .filter(col("dist") <= radius)
      .select("id_a", "id_b")
    val truthC = graft.engine.Caching.handoff(truth)
    val perBits = bitsSettings.map { b =>
      val bands = corpusBandedEmbeddings(spark, dir, b, tables, dim, seedBase)
      val cand = bands.select(col("t"), col("b"), col("vec_id").as("id_a"))
        .filter(col("id_a") < sliceMax)
        .join(bands.select(col("t"), col("b"), col("vec_id").as("id_b")), Seq("t", "b"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b")
        .withColumn("__f", lit(1L))
      truthC.join(cand, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_true"),
          // coalesce AFTER the sum too: an empty truth slice must
          // report 0 found, not null (the oracle's count() contract)
          coalesce(sum(coalesce(col("__f"), lit(0L))), lit(0L)).as("n_found"))
        .select(lit(b.toLong).as("bits"), col("n_true"), col("n_found"))
    }
    perBits.reduce(_.unionByName(_))
      .withColumn("recall_bp",
        when(col("n_true") === 0L, lit(null).cast("long"))
          .otherwise(expr("(10000 * n_found) DIV n_true")))
      .orderBy("bits")
  }

  def rangeRecallQuery(spark: SparkSession, dir: String): DataFrame =
    rangeRecall(spark, dir)

  /** LSH BUCKET OCCUPANCY AUDIT (round 16) — per hash table: bucket
    * count in use, vector mass, occupancy range, and the heaviest
    * bucket's share in basis points. The [[ivfCellStats]] health
    * report for the OTHER index family: every similarity path here
    * (near-dup, k-NN edges, range search, semantic ingest) pays
    * occupancy² inside each bucket, so a spiked `top_share_bp` is the
    * first warning that `bits` is undersized for the corpus — read
    * before every deployment resize, the way ivf_cell_stats gates the
    * coarse quantizer retrain.
    *
    * Scale shape: one scan of the skinny materialized band asset,
    * (tables × buckets)-keyed map-side-combined rollup, then a
    * tables-row report. Nothing corpus-wide shuffles.
    */
  def lshBucketStats(spark: SparkSession, dir: String, bits: Int = 4,
      tables: Int = 8, dim: Int = 64, seedBase: Long = 42L): DataFrame =
    corpusBandedEmbeddings(spark, dir, bits, tables, dim, seedBase)
      .groupBy("t", "b").agg(count(lit(1)).as("occ"))
      .groupBy(col("t").cast("long").as("t"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("occ")).as("n_vectors"),
        min(col("occ")).as("min_occupancy"),
        max(col("occ")).as("max_occupancy"))
      .withColumn("top_share_bp", expr("(10000 * max_occupancy) DIV n_vectors"))
      .orderBy("t")

  /** EMBEDDING NORM HISTOGRAM (round 16) — squared grid-norm mass in
    * doubling buckets (`k = floor(log2(‖q‖²))` off the BIGINT's binary
    * width — the repo's float-free log axis): the first chart read
    * when an embedding model ships or a corpus merges. A normalized
    * model concentrates in one or two buckets; mass in distant buckets
    * flags unnormalized batches, truncated vectors or dead inputs
    * BEFORE they poison cosine thresholds downstream (semantic dedup's
    * threshold assumes a norm regime; this is the report that checks
    * it).
    *
    * Scale shape: one corpus scan, a per-row array fold to one int64,
    * map-side-combined ≤64-row rollup.
    */
  def embedNormHist(spark: SparkSession, dir: String, scale: Int = 1000): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(aggregate(quantized(scale), lit(0L), (acc, x) => acc + x * x).as("sqn"))
      .filter(col("sqn") >= 1)
      .groupBy((length(bin(col("sqn"))) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("sqn")).as("min_sq"),
        max(col("sqn")).as("max_sq"))
      .orderBy("k")

  /** EMBEDDING DRIFT BETWEEN CORPUS HALVES (round 16) — per dimension:
    * counts, grid sums, and the milli-grid mean shift between the
    * id-lower and id-upper halves (the incremental family's midpoint
    * cut, standing vs recent). THE model/corpus drift alarm: a new
    * embedding-model version, a source-mix change or a normalization
    * regression shows up as coordinated per-dimension shifts long
    * before recall degrades — read next to [[embedDimStatsQuery]]'s
    * static moments. The shift is sign-explicit truncation toward zero
    * on both engines (the decay_score rule — integer DIV semantics on
    * negatives must never be left to the engine's choice).
    *
    * Scale shape: one corpus scan, posexplode to (dim, q), a d-row
    * map-side-combined rollup carrying both halves in one pass.
    */
  def embedDrift(spark: SparkSession, dir: String, scale: Int = 1000): DataFrame = {
    val all = Tables.embeddings(spark, dir)
    val cut = all.agg(expr("max(vec_id) div 2")).head().getLong(0)
    def truncDiv(num: String, den: String): String =
      s"CASE WHEN $num < 0 THEN -((-($num)) DIV $den) ELSE ($num) DIV $den END"
    all.filter(col("embedding").isNotNull)
      .select((col("vec_id") < cut).as("old"), posexplode(quantized(scale)).as(Seq("dim", "q")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(
        sum(when(col("old"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("old"), col("q")).otherwise(0L)).as("sum_a"),
        sum(when(!col("old"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("old"), col("q")).otherwise(0L)).as("sum_b"))
      .withColumn("shift_mq", expr(
        "CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE " +
          s"(${truncDiv("1000 * sum_b", "n_b")}) - (${truncDiv("1000 * sum_a", "n_a")}) END"))
      .orderBy("dim")
  }

  /** COMPONENT SIZE HISTOGRAM (round 16) — the semantic-cluster report
    * rolled one level up: how many components exist at each size. The
    * eleventh consumer of the durable edge asset, and the number a
    * dedup rollout reads FIRST: total removable mass is
    * Σ (size−1)·n_components, and a giant component at the top of this
    * table means the distance ceiling is merging unrelated material
    * (the transitive-closure failure mode every clustering dedup has).
    *
    * Scale shape: [[semanticComponents]]' label table rolled to one
    * row per (cluster, size) then a sizes-keyed rollup — both
    * exchanges bounded by component count, not corpus.
    */
  def componentSizeHistogram(spark: SparkSession, dir: String,
      maxDist: Long = 1280000L): DataFrame =
    semanticComponents(spark, dir, maxDist)
      .select("cluster_id", "cluster_size").distinct()
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_components"))
      .withColumn("n_vectors", col("cluster_size") * col("n_components"))
      .orderBy("cluster_size")

  /** Driver query: two damped integer iterations over the 5-NN graph,
    * edges served from the materialized asset.
    */
  def pageRankQuery(spark: SparkSession, dir: String): DataFrame =
    pageRank(
      corpusKnnEdges(spark, dir).select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      Tables.embeddings(spark, dir).filter(col("embedding").isNotNull).select("vec_id"),
      iters = 2)

  // -- driver-contract queries ------------------------------------------

  /** Quantize an embedding onto an exact integer grid: floor(x*scale +
    * 0.5) — the repo-wide half-up formulation (floor is exact on both
    * engines; `round()` HALF_UP-vs-std::round tie behavior is exactly
    * the divergence class the oracle rules exclude). Null ELEMENTS
    * quantize to 0 here, BEFORE any consumer: [[graft.functions.VecSumLong]]
    * and [[graft.functions.VecSqDistLong]] both define null-as-zero, and
    * the oracle twins COALESCE at the same point, so every downstream
    * sum/distance sees the identical integer grid on both engines.
    */
  private def quantized(scale: Int): Column = quantizedCol(col("embedding"), scale)

  /** The grid transform on an ARBITRARY float-vector column — the ONE
    * definition of the floor(x·scale + 0.5)/null→0 convention (the
    * hash-parity contract with every SQL oracle; a second copy drifting
    * would break parity only for the operators using it).
    */
  private def quantizedCol(c: Column, scale: Int): Column = transform(
    c,
    e => coalesce(
      floor(e.cast(org.apache.spark.sql.types.DoubleType) * scale + lit(0.5))
        .cast(org.apache.spark.sql.types.LongType),
      lit(0L)))

  /** The integer-sum -> double centroid projection shared by
    * [[centroids]] and [[kmeansStep]]: qs / (scale*n) with the divisor
    * formed as an exact integer and cast once, mirroring the oracle's
    * CAST(scale * n AS DOUBLE) operand for operand.
    */
  private def centroidCol(scale: Int): Column =
    col("qs").cast(org.apache.spark.sql.types.DoubleType) /
      (lit(scale.toLong) * col("n_vecs")).cast(org.apache.spark.sql.types.DoubleType)

  /** Centroid model on the quantized grid, collected to the driver
    * (`labels` rows — tiny by definition; the annIvf precedent): one
    * map-side-combined [[vecagg.vecSumLong]] pass, each centroid
    * re-quantized onto the vector grid via floor(qsum/n + 0.5) — one
    * deterministic double division.
    */
  private def centroidModel(emb: DataFrame, scale: Int): Array[(Int, Seq[Long])] =
    gridCentroids(emb.select(quantized(scale).as("qe"), col("label")), "label")

  /** Re-quantized centroids of a prepared (`qe`, cluster-key) frame: one
    * map-side-combined [[graft.functions.vecagg.vecSumLong]] pass, each
    * centroid back onto the grid via floor(qsum/n + 0.5), collected to
    * the driver (clusters are tiny by contract — the annIvf precedent).
    */
  private def gridCentroids(df: DataFrame, by: String,
      bound: Long = 4096L): Array[(Int, Seq[Long])] = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    graft.engine.DriverBudget.collect(s"Similarity.gridCentroids.$by", bound)(
      df
        .groupBy(col(by).cast(IntegerType).as("c_label"))
        .agg(graft.functions.vecagg.vecSumLong(col("qe")).as("qsum"), count(lit(1)).as("n"))
        .select(
          col("c_label"),
          transform(col("qsum"), s => floor(s.cast(DoubleType) / col("n") + lit(0.5)).cast(LongType))
            .as("qc")))
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
  }

  /** Per-centroid (dist, label) structs over a quantized `qe` column:
    * dist = sum((qe-qc)^2) in exact int64 via the codegen'd
    * [[vec.sqDistLong]] kernel (an interpreted `zip_with`+`aggregate`
    * fold pays a lambda dispatch per element × centroids × rows — the
    * equivalence is pinned in VecSumSpec). `array_min` over these gives
    * the nearest centroid with a smallest-label tiebreak (lexicographic
    * struct ordering).
    */
  /** Nearest-centroid struct `(dist, c_label)` of the `qe` column over
    * driver-collected centroid literals — the codegen-compact argmin
    * ([[graft.functions.VecNearestCode]]: the codebook rides as a
    * reference object and the generated code is one loop, so the
    * expression stays O(1) bytecode however many centroids the model
    * has; the old per-centroid `array_min(array(struct(...)))`
    * unrolling was a janino 64 KB blowout waiting for a larger k).
    */
  private def nearestOf(cents: Array[(Int, Seq[Long])]): Column =
    vec.nearestCode(col("qe"), cents.toIndexedSeq)

  /** Per-label embedding centroids via [[graft.functions.vecagg.vecSumLong]]
    * — the class-prototype aggregate an embedding pipeline runs for
    * cluster seeding, label diagnostics, and nearest-centroid
    * classification. The naive plan (posexplode to (label, dim, value) +
    * groupBy) inflates the corpus d× before its shuffle; the custom
    * vector-sum aggregate keeps ONE d-length buffer per label per
    * partition, so the exchange carries `labels × d` longs total.
    *
    * Elements are quantized to exact integers ([[quantized]], scale 1e3
    * keeps ~2^43 rows-per-label of headroom) BEFORE aggregation:
    * integer addition is order-independent, so the centroid derived from
    * the quantized sum is bit-reproducible under any partitioning and
    * hash-comparable against a single-threaded SQL oracle — a float-sum
    * centroid is neither. The posexplode here runs on the `labels × d`
    * AGGREGATE (tiny), not on the corpus.
    */
  def centroids(embeddings: DataFrame, scale: Int = 1000): DataFrame =
    embeddings
      .filter(col("embedding").isNotNull)
      .groupBy(col("label"))
      .agg(
        graft.functions.vecagg.vecSumLong(quantized(scale)).as("qsum"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"), posexplode(col("qsum")).as(Seq("dim", "qs")))
      .select(
        col("label"),
        col("dim").cast(org.apache.spark.sql.types.LongType).as("dim"),
        col("n_vecs"),
        centroidCol(scale).as("centroid"))

  /** Driver query: the 64-dim centroid of every label, flattened to
    * (label, dim, n_vecs, centroid) rows for the oracle hash.
    */
  def centroidsQuery(spark: SparkSession, dir: String): DataFrame =
    centroids(Tables.embeddings(spark, dir))
      .orderBy("label", "dim")

  /** Nearest-centroid assignment — the k-means assignment step / a
    * nearest-prototype classifier: every vector goes to the label whose
    * centroid is closest in L2, and the output is the label x assigned
    * confusion matrix. Dataflow at 100 TB: the centroid table is
    * `labels` rows (one map-side-combined [[vecagg.vecSumLong]] pass)
    * collected to the driver and embedded as plan literals; the
    * per-vector argmin is `array_min` over per-centroid structs, so the
    * corpus is never shuffled or joined — only the final tiny confusion
    * aggregate exchanges.
    *
    * Every distance is computed in QUANTIZED INTEGER space
    * ([[quantized]] vectors, centroids re-quantized to the same grid),
    * so dist = sum((qe-qc)^2) is exact int64 arithmetic —
    * order-independent, engine-independent, and hence a hash-checkable
    * argmin (float distances would make near-tie assignments an ulp
    * lottery). Ties break to the smallest label.
    */
  def nearestCentroid(embeddings: DataFrame, scale: Int = 1000): DataFrame = {
    val emb = embeddings.filter(col("embedding").isNotNull)
    // the centroid model is driver-collected literals, so the argmin is
    // a NARROW per-row expression: the corpus is scanned once and never
    // shuffled; only the labels² confusion aggregate exchanges
    val best = nearestOf(centroidModel(emb, scale))
    emb.select(col("label"), quantized(scale).as("qe"))
      .select(col("label"), best.as("best"))
      .groupBy(col("label"), col("best.c_label").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned")
  }

  /** CLUSTER QUALITY STATS — per assigned centroid: member count,
    * exact within-cluster distance mass (cohesion) and the squared
    * distance to the nearest OTHER centroid (separation): the
    * integer-grid core of a Davies–Bouldin-style clustering audit —
    * a cluster whose cohesion mass per member approaches its
    * separation is one the next k-means iteration will tear apart.
    * All cells exact int64 (the [[nearestCentroid]] grid argument), so
    * any ratio a client derives is from exact operands.
    *
    * Scale shape: the centroid model is driver-collected literals
    * (clusters tiny by contract), so assignment is a narrow per-row
    * expression — one corpus scan, a clusters-keyed rollup, and a
    * clusters-sized broadcast of the k² driver-computed separations.
    */
  def clusterStats(embeddings: DataFrame, scale: Int = 1000): DataFrame = {
    val spark = embeddings.sparkSession
    val emb = embeddings.filter(col("embedding").isNotNull)
    val cents = centroidModel(emb, scale)
    // a single-centroid corpus has NO "nearest other centroid": the
    // oracle's cross-centroid join produces zero rows and the inner
    // join below drops the lone cluster — minOption mirrors that
    // (min on the empty iterator would throw instead)
    val minSep = cents.flatMap { case (c, v) =>
      cents.iterator.filter(_._1 != c).map { case (_, w) =>
        v.zip(w).map { case (a, b) => val d = a - b; d * d }.sum
      }.minOption.map(sep => (c.toLong, sep))
    }.toSeq
    import spark.implicits._
    val sepDf = minSep.toDF("cluster", "min_sep")
    emb.select(quantized(scale).as("qe"))
      .select(nearestOf(cents).as("best"))
      .groupBy(col("best.c_label").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("best.dist")).as("sum_dist"))
      .join(broadcast(sepDf), Seq("cluster"))
      .select("cluster", "n_members", "sum_dist", "min_sep")
      .orderBy("cluster")
  }

  def clusterStatsQuery(spark: SparkSession, dir: String): DataFrame =
    clusterStats(Tables.embeddings(spark, dir))

  /** Driver query: the true-label x assigned-centroid confusion matrix. */
  def assignQuery(spark: SparkSession, dir: String): DataFrame =
    nearestCentroid(Tables.embeddings(spark, dir))

  /** One Lloyd (k-means) iteration, seeded from the label centroids:
    * re-assign every vector to its nearest centroid (the same
    * driver-collected literal argmin as [[nearestCentroid]] — corpus
    * never shuffles for the assignment), then recompute each cluster's
    * centroid with one [[vecagg.vecSumLong]] pass over the re-assigned
    * corpus. Per iteration the dataflow is two narrow corpus scans plus
    * a `clusters × d`-long exchange — the shape an iterative fit keeps
    * at any corpus size (loop this function for full k-means; each step
    * is independently oracle-checkable because assignment and centroid
    * arithmetic both stay on the exact integer grid).
    */
  def kmeansStep(embeddings: DataFrame, scale: Int = 1000): DataFrame = {
    val emb = embeddings.filter(col("embedding").isNotNull)
    val best = nearestOf(centroidModel(emb, scale))
    emb.select(quantized(scale).as("qe"))
      .select(col("qe"), best.getField("c_label").as("cluster"))
      .groupBy(col("cluster"))
      .agg(graft.functions.vecagg.vecSumLong(col("qe")).as("qsum"), count(lit(1)).as("n_vecs"))
      .select(col("cluster"), col("n_vecs"), posexplode(col("qsum")).as(Seq("dim", "qs")))
      .select(
        col("cluster"),
        col("dim").cast(org.apache.spark.sql.types.LongType).as("dim"),
        col("n_vecs"),
        centroidCol(scale).as("centroid"))
      .orderBy("cluster", "dim")
  }

  /** Driver query: cluster centroids after one Lloyd step. */
  def kmeansStepQuery(spark: SparkSession, dir: String): DataFrame =
    kmeansStep(Tables.embeddings(spark, dir))

  /** Semantic dedup (SemDeDup): cluster the embedding space, then mark
    * every vector that sits within `threshold` cosine of a LOWER-id
    * member of its own cluster as `dup` — deterministic lowest-id-
    * survivor semantics, so the verdict set is engine-independent and
    * hash-checkable (the published method keeps an arbitrary
    * representative per epsilon-ball; pinning the survivor to min id is
    * the same dedup with a reproducible choice).
    *
    * Dataflow at 100 TB: assignment is the [[nearestCentroid]] shape —
    * centroid literals broadcast in-plan, corpus scanned once, NO
    * shuffle to cluster. The pairwise stage joins the corpus to itself
    * on the cluster id (one exchange each side, AQE-planned); the
    * within-cluster compare is quadratic in CLUSTER size by the
    * method's published contract — k scales with the corpus so
    * clusters stay bounded (SemDeDup ran 50k clusters for 5B
    * embeddings), making per-cluster cost flat as the corpus grows.
    * Cosine runs on the raw float vectors via the fused [[vec.cosine]]
    * kernel only for co-clustered pairs.
    */
  def semDedup(embeddings: DataFrame, threshold: Double, scale: Int = 1000): DataFrame = {
    val emb = embeddings.filter(col("embedding").isNotNull)
    val best = nearestOf(centroidModel(emb, scale))
    dupVerdicts(
      emb
        .select(col("vec_id"), col("embedding"), quantized(scale).as("qe"))
        .select(
          col("vec_id"), col("embedding"),
          best.getField("c_label").as("cluster")),
      threshold)
  }

  /** The pairwise stage of SemDeDup over EXPLICIT (vec_id, embedding,
    * cluster) assignments — shared by the label-seeded [[semDedup]] and
    * the k-parameterized [[semDedupKmeans]]. Null vector ELEMENTS are
    * coalesced to 0 before the cosine (matching [[quantized]]'s
    * convention), so a corpus with per-element nulls cannot silently
    * diverge from an oracle that nulls the whole similarity out.
    */
  private def dupVerdicts(assignedIn: DataFrame, threshold: Double): DataFrame = {
    val assigned = assignedIn
      .withColumn("embedding",
        expr("transform(embedding, e -> coalesce(e, CAST(0.0 AS FLOAT)))"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dups = assigned
      .select(col("cluster"), col("vec_id").as("id_b"), col("embedding").as("v_b"))
      .join(
        assigned.select(col("cluster"), col("vec_id").as("id_a"), col("embedding").as("v_a")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(vec.cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
    val out = assigned
      .select("vec_id", "cluster")
      .join(dups.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("cluster"),
        when(col("__dup"), lit("dup")).otherwise(lit("kept")).as("verdict"))
    graft.engine.Caching.handoff(out, assigned)
  }

  /** SemDeDup with k as a real parameter — the published k∝n contract
    * ([[semDedup]]'s clusters are the corpus labels, so its k is pinned
    * to the label cardinality). Clusters come from the k-means
    * machinery: deterministic random-partition seeding (vec_id mod k, a
    * standard init made engine-reproducible), one Lloyd step over the
    * quantized grid ([[kmeansStep]]'s arithmetic — integer sums,
    * floor(qsum/n + 0.5) re-quantization, exact int64 argmin), then the
    * final assignment those step centroids induce feeds the pairwise
    * stage. Every stage stays on the exact grid, so the whole pipeline
    * remains hash-checkable; dataflow is three narrow corpus scans (two
    * assignments + one aggregate) with only `k × d`-long exchanges —
    * the same no-corpus-shuffle shape as [[nearestCentroid]].
    */
  def semDedupKmeans(
      embeddings: DataFrame,
      k: Int,
      threshold: Double,
      scale: Int = 1000
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val emb = embeddings.filter(col("embedding").isNotNull)
    val base = emb
      .select(
        col("vec_id"), col("embedding"), quantized(scale).as("qe"),
        pmod(col("vec_id"), lit(k.toLong)).cast("int").as("c0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val step = base.withColumn(
      "c1", nearestOf(gridCentroids(base, "c0")).getField("c_label"))
    val out = dupVerdicts(
      base.select(
        col("vec_id"), col("embedding"),
        nearestOf(gridCentroids(step, "c1")).getField("c_label").as("cluster")),
      threshold)
    base.unpersist(blocking = false)
    out
  }

  /** Driver query: k-parameterized SemDeDup at k=8 (vs the 10 corpus
    * labels), same 0.35 threshold as [[semDedupQuery]].
    */
  def semDedupKmeansQuery(spark: SparkSession, dir: String): DataFrame =
    semDedupKmeans(Tables.embeddings(spark, dir), k = 8, threshold = 0.35).orderBy("vec_id")

  /** Driver query: per-vector kept/dup verdicts. The synthetic corpus
    * has no planted near-dups (within-cluster cosines top out ~0.47),
    * so the threshold sits at 0.35 to exercise BOTH verdicts; a
    * production near-dup sweep runs the same operator at ~0.9.
    */
  def semDedupQuery(spark: SparkSession, dir: String): DataFrame =
    semDedup(Tables.embeddings(spark, dir), threshold = 0.35).orderBy("vec_id")

  /** Symmetric int8 quantization of the embedding column — the 4x
    * storage/bandwidth compression an embedding store runs before
    * anything else at 100 TB. Per vector: scale = 127/max|x|, q_i =
    * floor(x_i*scale + 0.5) in [-127, 127] (the repo-wide half-up
    * form), plus the reconstruction error — all derived through
    * IEEE-deterministic double ops from the float input, so the DuckDB
    * twin computing the identical expression tree lands on identical
    * bits (the q_anomaly argument). All-zero vectors quantize to scale
    * 0 / error 0 rather than dividing by zero. Narrow per-row HOFs:
    * zero shuffle, scan speed.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .filter(col("embedding").isNotNull)
      .withColumn("__v", expr("transform(embedding, e -> CAST(coalesce(e, CAST(0.0 AS FLOAT)) AS DOUBLE))"))
      .withColumn("max_abs", expr(
        "aggregate(__v, CAST(0.0 AS DOUBLE), (a, e) -> greatest(a, abs(e)))"))
      .withColumn("__s", when(col("max_abs") > 0, lit(127.0) / col("max_abs")).otherwise(lit(0.0)))
      .withColumn("__q", expr("transform(__v, e -> CAST(floor(e * __s + 0.5) AS INT))"))
      .withColumn("__err", when(col("__s") > 0, expr(
        "aggregate(zip_with(__v, __q, (a, b) -> (a - b / __s) * (a - b / __s)), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")).otherwise(lit(0.0)))
      .select(
        col("vec_id"),
        size(col("__q")).cast("long").as("n_dims"),
        expr("CAST(floor(__s * 1000000 + 0.5) AS BIGINT)").as("scale_q"),
        expr("CAST(aggregate(__q, 0L, (a, x) -> a + x) AS BIGINT)").as("sum_q"),
        expr("CAST(array_max(__q) AS BIGINT)").as("max_q"),
        expr("CAST(floor(__err * 1000000000 + 0.5) AS BIGINT)").as("err_q"))

  def quantizeQuery(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8(Tables.embeddings(spark, dir)).orderBy("vec_id")

  /** Brute-force exact top-5 for the first 16 vectors as queries. */
  def annTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "rank", "vec_id")
      .orderBy("query_id", "rank")
  }

  /** IVF ANN for the same query set. */
  def annIvfQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annIvf(queries, emb, k = 5, nlist = 16, nprobe = 4)
      .select("query_id", "rank", "vec_id")
      .orderBy("query_id", "rank")
  }

  /** IVF CELL OCCUPANCY AUDIT — per coarse cell of the [[annIvf]]
    * index: vector count, id range, and the cell's corpus share in
    * basis points. Cell skew is THE health metric of an IVF index:
    * a cell holding 30% of the corpus makes every probe that touches
    * it pay a near-scan, and empty cells waste probe budget — this is
    * the report that says "re-train the coarse quantizer" before a
    * production rollout, the ANN analog of
    * [[graft.engine.Skew.keyHistogram]]. All columns integer-exact
    * once assignment matches, and assignment is the SAME centroid
    * literals + argmax expression ann_ivf runs (shared helpers).
    *
    * Scale shape: centroids are driver-collected literals (nlist-bounded),
    * so assignment is a narrow per-row expression — ONE corpus scan
    * into an nlist-row rollup (persisted: ≤nlist rows), and the share
    * denominator is derived FROM the rollup (`n = Σ n_vectors` exactly,
    * since every non-null vector lands in exactly one cell) — the
    * r16 fix for the avoidable `emb.count()` pre-pass, which at 100 TB
    * was a second full corpus read per audit run. The only remaining
    * corpus passes are the centroid seeding's (amortized into index
    * builds and shared with ann_ivf).
    */
  def ivfCellStats(spark: SparkSession, dir: String, nlist: Int = 16): DataFrame = {
    val corpus = Tables.embeddings(spark, dir)
    val centroids = ivfCoarseCentroids(corpus, nlist)
    val emb = corpus.filter(col("embedding").isNotNull)
    val cells = graft.engine.Caching.handoff(
      emb
        .withColumn("cluster",
          element_at(ivfNearest(centroids, col("embedding"), 1), 1)
            .getField("cid").cast("long"))
        .groupBy("cluster")
        .agg(
          count(lit(1)).as("n_vectors"),
          min(col("vec_id")).as("min_vec_id"),
          max(col("vec_id")).as("max_vec_id")))
    // nlist-row input: this aggregate reads the persisted rollup, not
    // the corpus (driver collect bounded by one scalar). The sum is
    // null on an all-null-embedding corpus (empty rollup) — coalesce
    // so the audit returns its honest empty frame instead of an NPE
    // (r17, ADVICE fix); the DIV never runs because `cells` is empty.
    val nRow = cells.agg(coalesce(sum(col("n_vectors")), lit(0L))).head()
    val n = math.max(nRow.getLong(0), 1L)
    cells
      .withColumn("share_bp", expr(s"(10000 * n_vectors) DIV ${n}L"))
      .orderBy("cluster")
  }

  /** LSH-bucketed ANN for the same query set (the scale path). */
  def annLshQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annLsh(queries, emb, k = 5, bits = 4, tables = 8)
      .select("query_id", "rank", "vec_id")
      .orderBy("query_id", "rank")
  }

  // --------------------------------------------------------------------
  // Product quantization (PQ) — the ANN memory-scale path
  // --------------------------------------------------------------------

  /** Trained PQ state: the corpus with per-subspace quantized
    * subvector columns `__sv0..__sv{m-1}` (persisted — the index
    * builders release it after materializing the code table), the
    * subvector width, and per-subspace codebooks
    * `model(s) = [(code, centroid)]`.
    *
    * PQ (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011) splits each d-dim vector into `m` subvectors
    * and learns an independent k-way codebook per subspace; a vector
    * becomes m small codes (64 floats → 8 bytes at m=8, k≤256) — the
    * compression that lets a 100 TB corpus's ANN index sit in executor
    * memory. Training mirrors [[semDedupKmeans]]'s deterministic
    * recipe, independently per subspace: random-partition seeding
    * (vec_id mod k), one Lloyd step on the quantized integer grid,
    * argmin ties to the smallest code — every stage exact int64, so
    * codes hash-match any engine.
    *
    * Dataflow at 100 TB: seeding centroids are ONE full-vector
    * [[graft.functions.vecagg.vecSumLong]] pass (centroid averaging is
    * per-dim, so subspace slicing commutes with it — m aggregations
    * collapse into one); the refit pass aggregates the m skinny
    * (s, code, subvector) streams exploded off the same scan. The
    * embedding column never shuffles; the exchanges carry `k × d` longs
    * (seed) and `m × k × d/m = k × d` longs (refit), and the collected
    * model is the same k × d — the centroid-literal pattern, so
    * encoding and ADC scoring are narrow per-row expressions.
    */
  private def pqPrepared(embeddings: DataFrame, m: Int, k: Int, scale: Int)
      : (DataFrame, Int, IndexedSeq[IndexedSeq[(Int, Seq[Long])]]) = {
    val emb = embeddings.filter(col("embedding").isNotNull)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val base0 = emb.select(
      col("vec_id"), quantized(scale).as("qe"),
      pmod(col("vec_id"), lit(k.toLong)).cast("int").as("c0"))
    pqTrain(base0, dim, m, k)
  }

  /** Train per-subspace codebooks over an already-quantized base
    * (`vec_id`, `qe`: array<long>, `c0`: seed label; extra columns ride
    * along untouched) — the shared trainer behind [[pqEncode]]/[[annPq]]
    * (whole vectors) and [[annIvfPq]] (coarse-cell residuals).
    */
  private def pqTrain(base0: DataFrame, dim: Int, m: Int, k: Int)
      : (DataFrame, Int, IndexedSeq[IndexedSeq[(Int, Seq[Long])]]) = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    require(k >= 1, s"codebook size must be >= 1, got $k")
    val dsub = dim / m
    val base = (0 until m)
      .foldLeft(base0)((d, s) => d.withColumn(s"__sv$s", slice(col("qe"), s * dsub + 1, dsub)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // release the persisted base if any training action throws — without
    // this the MEMORY_AND_DISK blocks outlive the failed call until the
    // ContextCleaner happens to collect the plan
    try {
      val seed = gridCentroids(base.select(col("qe"), col("c0")), "c0")
      val seedSub = (0 until m).map(s =>
        seed.toIndexedSeq.map { case (c, qc) => (c, qc.slice(s * dsub, (s + 1) * dsub)) })
      val refitDf = base
        .select(explode(array((0 until m).map(s =>
          struct(
            lit(s).as("s"),
            pqArgmin(s, seedSub(s)).getField("c_label").as("c"),
            col(s"__sv$s").as("sv"))): _*)).as("e"))
        .groupBy(col("e.s").as("s"), col("e.c").as("c"))
        .agg(graft.functions.vecagg.vecSumLong(col("e.sv")).as("qsum"), count(lit(1)).as("n"))
        .select(
          col("s"), col("c"),
          transform(col("qsum"), x => floor(x.cast(DoubleType) / col("n") + lit(0.5)).cast(LongType))
            .as("qc"))
      val refit = graft.engine.DriverBudget.collect(
        "Similarity.pqRefit", m.toLong * k)(refitDf)
      val model = (0 until m).map(s =>
        refit.filter(_.getInt(0) == s)
          .map(r => (r.getInt(1), r.getSeq[Long](2)))
          .sortBy(_._1).toIndexedSeq)
      (base, dsub, model)
    } catch {
      case t: Throwable => base.unpersist(blocking = false); throw t
    }
  }

  /** Nearest-code struct argmin over one subspace's codebook, via the
    * codegen-compact [[graft.functions.VecNearestCode]] kernel (exact
    * int64 distances, smallest-code tiebreak — identical semantics to
    * the struct-`array_min` spelling, but O(1) generated bytecode in
    * `k`: the unrolled spelling at m=16 × k=16 blew janino's 64 KB
    * method limit inside the training explode and silently dropped the
    * whole corpus-sized stage to interpreted evaluation).
    */
  private def pqArgmin(s: Int, codebook: IndexedSeq[(Int, Seq[Long])]): Column =
    vec.nearestCode(col(s"__sv$s"), codebook)

  // --------------------------------------------------------------------
  // The PQ index as a materialized corpus asset
  // --------------------------------------------------------------------

  /** A trained PQ index, materialized as a CORPUS ASSET (the
    * [[Dedup.corpusNgramIndex]] pattern): the tiny model state lives on
    * the driver, the per-vector code table is a parquet table on disk.
    *
    * This is the 100 TB deployment shape — index ONCE at corpus-build
    * time, query many: every consumer (code dump, flat ADC, IVFADC,
    * large-batch joined ADC) plans against the materialized code table
    * and never re-reads the embedding column, never retrains. The asset
    * is DURABLE: published under a warehouse-relative, content-addressed
    * directory (corpus fingerprint + params — [[loadOrBuild]]) together
    * with a model table and manifest, so a fresh JVM loads it instead of
    * retraining; a corpus rebuild changes the address and naturally
    * retires the old asset.
    *
    * @param codebooks per-subspace `[(code, centroid)]`, exact int64 grid
    * @param coarse    IVF coarse-cell centroids (empty for flat PQ);
    *                  codes are then RESIDUAL codes and the parquet table
    *                  is partitioned by `cid`, so a probe's
    *                  `cid IN (...)` is literal partition pruning
    * @param codesPath parquet: (vec_id[, cid], __cf0..__cf{m-1},
    *                  __er0..__er{m-1}) — code and quantization error
    *                  per subspace
    */
  final case class PqIndexModel(
      m: Int,
      k: Int,
      dsub: Int,
      scale: Int,
      codebooks: IndexedSeq[IndexedSeq[(Int, Seq[Long])]],
      coarse: IndexedSeq[Seq[Long]],
      codesPath: String) {
    def isIvf: Boolean = coarse.nonEmpty
    /** The materialized code table — a plain parquet scan, m narrow int
      * columns; the embedding column is never touched again.
      */
    def codes(spark: SparkSession): DataFrame = spark.read.parquet(codesPath)
  }

  // (kind | corpus dir | params) -> built index: the in-JVM handle map.
  // The asset itself is DURABLE (see [[loadOrBuild]]): a miss here first
  // tries to LOAD the content-addressed on-disk asset before it ever
  // retrains, so the artifact survives JVM teardown, not just session
  // teardown — "index once, query many" across deployments, the way a
  // production corpus index is refreshed on corpus rebuild, not on
  // process restart.
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqIndexModel]()

  /** Test seam: forget every in-JVM index handle (simulates a fresh JVM
    * so the durable-asset spec can prove the load-instead-of-train
    * branch). The on-disk assets are untouched.
    */
  private[graft] def dropInMemoryIndexes(): Unit = {
    pqIndexCache.clear()
    knnEdgeTables.clear()
    bandedTables.clear()
    triangleTables.clear()
  }

  /** Number of codebook trainings this JVM has run — the test seam for
    * the "second consumer must not retrain" asset contract.
    */
  private[graft] val pqTrainings = new java.util.concurrent.atomic.AtomicInteger(0)

  /** On-disk asset layout version (shared store): part of the content
    * address, so an asset written by an older layout is simply never
    * found by newer code (no migration logic, no stale-format reads).
    */
  private val IndexFormatVersion = graft.engine.AssetStore.FormatVersion

  private def writeCodes(wide: DataFrame, dest: String, partCol: Option[String]): String = {
    val w = wide.write.mode("overwrite")
    partCol.fold(w)(w.partitionBy(_)).parquet(dest)
    dest
  }

  /** Project the trained base to the wide code table: one `pqArgmin`
    * struct per subspace, evaluated once, split into code + error.
    */
  private def wideCodes(base: DataFrame, m: Int,
      model: IndexedSeq[IndexedSeq[(Int, Seq[Long])]], keep: Seq[Column]): DataFrame = {
    val withP = (0 until m).foldLeft(base)((d, s) => d.withColumn(s"__p$s", pqArgmin(s, model(s))))
    withP.select(keep ++ (0 until m).flatMap(s => Seq(
      col(s"__p$s").getField("c_label").as(s"__cf$s"),
      col(s"__p$s").getField("dist").as(s"__er$s"))): _*)
  }

  /** Throwaway code-table location for the one-shot (non-asset) APIs. */
  private def tempCodesDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_pqidx_$tag").toString

  /** Train + materialize a flat PQ index over whole vectors, code table
    * written at `codesDest`.
    */
  private def buildFlatIndex(embeddings: DataFrame, m: Int, k: Int, scale: Int,
      codesDest: String): PqIndexModel = {
    pqTrainings.incrementAndGet()
    val (base, dsub, model) = pqPrepared(embeddings, m, k, scale)
    try {
      val wide = wideCodes(base, m, model, Seq(col("vec_id")))
      PqIndexModel(m, k, dsub, scale, model, IndexedSeq.empty,
        writeCodes(wide, codesDest, None))
    } finally base.unpersist(blocking = false)
  }

  /** Nearest coarse cell by exact int64 sq-distance, smallest-cid tie
    * (the codegen-compact [[graft.functions.VecNearestCode]] argmin —
    * O(1) bytecode in nlist, so a 4096-cell billion-scale coarse
    * quantizer compiles the same as a 16-cell test one).
    */
  private def coarseArgmin(cs: IndexedSeq[Seq[Long]], qe: Column): Column =
    vec.nearestCode(qe, cs.zipWithIndex.map { case (cv, cid) => (cid, cv) })
      .getField("c_label")

  /** Train + materialize an IVF-PQ (IVFADC) index: Lloyd-refined coarse
    * cells, shared residual codebooks, code table PARTITIONED BY `cid`
    * on disk — a probe's `cid IN (...)` predicate prunes whole
    * directories, so the un-probed `(nlist − nprobe)/nlist` of the
    * corpus is never read. See [[annIvfPq]] for the full design notes.
    */
  private def buildIvfIndex(
      corpus: DataFrame, nlist: Int, m: Int, k: Int, scale: Int,
      codesDest: String): PqIndexModel = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    pqTrainings.incrementAndGet()
    val emb = corpus.filter(col("embedding").isNotNull)
    // one job for both scalars (each head()/count() is its own job, and
    // at bench SF the fixed per-job cost dominates index build)
    val (dim, n) = {
      val r = emb.agg(first(size(col("embedding"))), count(lit(1))).head()
      (r.getInt(0), r.getLong(1))
    }
    val stride = math.max(1L, n / nlist)
    // coarse codebook: seed with every stride-th vector on the quantized
    // grid (cid = sample rank), then ONE Lloyd step so each centroid is
    // its cell's MEAN — raw sample vectors would leave the residuals
    // with ~2x the per-dim variance of the originals (vector minus an
    // unrelated vector), and the PQ codebooks downstream would quantize
    // a WIDER distribution than plain PQ, inverting IVFADC's whole
    // accuracy trade (measured at sf0.001, nlist=8: full-probe recall@5
    // 0.125 raw-seed vs 0.275 after the Lloyd step — near-uniform
    // random vectors are PQ's documented worst case; clustered real
    // corpora recover much more). Tiny driver-side model either way,
    // embedded as plan literals.
    val seedCents: IndexedSeq[Seq[Long]] =
      graft.engine.DriverBudget.collect("Similarity.ivfPqSeedCentroids", nlist.toLong)(
        emb
          .filter(pmod(col("vec_id"), lit(stride)) === 0)
          .orderBy("vec_id")
          .limit(nlist)
          .select(quantized(scale).as("qe")))
        .map(_.getSeq[Long](0))
        .toIndexedSeq
    val seeded = emb
      .select(col("vec_id"), quantized(scale).as("__qv"),
        pmod(col("vec_id"), lit(k.toLong)).cast("int").as("c0"))
      .withColumn("cid0", coarseArgmin(seedCents, col("__qv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val centPairs = gridCentroids(seeded.select(col("__qv").as("qe"), col("cid0")), "cid0")
      // byte-identical duplicate seed vectors both assign to the smaller
      // cid, leaving the larger cid's cell EMPTY after the Lloyd step:
      // drop empty cells and relabel the survivors densely (gridCentroids
      // is already label-sorted, so position IS the dense label). The
      // relabel preserves centroid order, hence every distance, argmin
      // and smallest-cid tiebreak — on a corpus with no empty cell it is
      // the identity, keeping the oracle in lockstep.
      val cents: IndexedSeq[Seq[Long]] = centPairs.map(_._2).toIndexedSeq
      val centLit = typedLit(cents.map(_.toSeq))
      val base0 = seeded
        .withColumn("cid", coarseArgmin(cents, col("__qv")))
        .withColumn("qe",
          zip_with(col("__qv"), element_at(centLit, col("cid") + 1), (a, b) => a - b))
        .select(col("vec_id"), col("qe"), col("c0"), col("cid"))
      val (base, dsub, model) = pqTrain(base0, dim, m, k)
      try {
        val wide = wideCodes(base, m, model, Seq(col("vec_id"), col("cid")))
        PqIndexModel(m, k, dsub, scale, model, cents,
          writeCodes(wide, codesDest, Some("cid")))
      } finally base.unpersist(blocking = false)
    } finally seeded.unpersist(blocking = false)
  }

  /** Durable-asset resolution: serve the content-addressed on-disk
    * asset if it exists, otherwise train into a staging directory and
    * publish it with one atomic rename.
    *
    * Layout under [[indexWarehouse]] (all under ONE directory per
    * asset, so publish/GC is a single rename/delete):
    * {{{
    *   <kind>_m16_k16_s1000[_n16]_v1_<corpus-fp>/
    *     codes/         the per-vector code table (parquet; IVF:
    *                    partitioned by cid — layout survives the move)
    *     model/         codebooks + coarse centroids (tiny parquet)
    *     manifest.json  params + fingerprint; written into staging
    *                    LAST, so its presence in a published asset
    *                    means codes+model are complete (commit marker)
    * }}}
    * Concurrent builders race benignly: publish is `rename` guarded by
    * a target-existence check, the loser deletes its staging dir and
    * loads the winner's asset. (Two simultaneous winners would need the
    * exists-check and rename of both to interleave exactly; the rename
    * itself is atomic on one filesystem, and a torn loser leaves only a
    * `.build_*` staging dir that never matches a content address.)
    */
  private def loadOrBuild(spark: SparkSession, kind: String, dir: String,
      m: Int, k: Int, scale: Int, nlist: Int, fp: String,
      build: String => PqIndexModel): PqIndexModel = {
    val ivfTag = if (kind == "ivf") s"_n$nlist" else ""
    val assetId = s"${kind}_m${m}_k${k}_s$scale${ivfTag}_v${IndexFormatVersion}_$fp"
    var built: Option[PqIndexModel] = None
    var published = false
    val assetDir = graft.engine.AssetStore.resolve(spark, assetId, staging => {
      val idx = build(s"$staging/codes")
      writeModel(spark, idx, staging)
      writeManifest(
        new org.apache.hadoop.fs.Path(staging)
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        staging, kind, idx, fp)
      built = Some(idx)
    }, onBuilt = published = _)
    built match {
      // only pair the in-memory model with the codes directory OUR
      // build published; a builder that LOST the publish race must load
      // the winner's model — pairing our codebooks with the winner's
      // code table is only safe while training is deterministic, and
      // that coupling should not be load-bearing
      case Some(idx) if published => idx.copy(codesPath = s"$assetDir/codes")
      case _                      => loadIndex(spark, assetDir, m, k, scale)
    }
  }

  /** The tiny model state as a parquet table next to the codes: one row
    * per (subspace, code) centroid plus one per coarse centroid.
    */
  private def writeModel(spark: SparkSession, idx: PqIndexModel, dir: String): Unit = {
    import spark.implicits._
    val cb = for {
      s <- idx.codebooks.indices
      (c, v) <- idx.codebooks(s)
    } yield ("codebook", s, c, v.toArray)
    val co = idx.coarse.zipWithIndex.map { case (v, cid) => ("coarse", -1, cid, v.toArray) }
    (cb ++ co).toDF("part", "s", "c", "v")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/model")
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      kind: String, idx: PqIndexModel, fp: String): Unit = {
    val json =
      s"""{"format":$IndexFormatVersion,"kind":"$kind","m":${idx.m},"k":${idx.k},""" +
        s""""dsub":${idx.dsub},"scale":${idx.scale},"nlist":${idx.coarse.size},""" +
        s""""corpus_fingerprint":"$fp"}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "manifest.json"), true)
    try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Rehydrate a [[PqIndexModel]] from a published asset — the
    * load-instead-of-train branch. One tiny parquet read (k×d longs of
    * model state); the code table is referenced in place, never copied.
    */
  private def loadIndex(spark: SparkSession, assetDir: String,
      m: Int, k: Int, scale: Int): PqIndexModel = {
    val rows = graft.engine.DriverBudget.collect(
      "Similarity.pqLoadIndex", 2L * m * k + 16L)(
      spark.read.parquet(s"$assetDir/model").select("part", "s", "c", "v"))
    val cb = rows.filter(_.getString(0) == "codebook")
    val codebooks = (0 until m).map(s =>
      cb.filter(_.getInt(1) == s)
        .map(r => (r.getInt(2), r.getSeq[Long](3)))
        .sortBy(_._1).toIndexedSeq)
    val coarse = rows.filter(_.getString(0) == "coarse")
      .sortBy(_.getInt(2)).map(_.getSeq[Long](3)).toIndexedSeq
    require(codebooks.nonEmpty && codebooks.head.nonEmpty,
      s"empty codebook table in PQ index asset at $assetDir")
    val dsub = codebooks.head.head._2.length
    PqIndexModel(m, k, dsub, scale, codebooks, coarse, s"$assetDir/codes")
  }

  /** The flat PQ index for `dir`'s embeddings: resolved from the in-JVM
    * handle map, then the durable content-addressed asset, and only
    * then trained — ONCE per (corpus, m, k, scale) per WAREHOUSE; every
    * consumer afterwards (in this JVM or any other) reads the
    * materialized code table.
    */
  def pqIndex(spark: SparkSession, dir: String,
      m: Int = 16, k: Int = 16, scale: Int = 1000): PqIndexModel = {
    // fingerprint OUTSIDE the cache lookup (one metadata listing per
    // call): a same-JVM corpus rebuild must miss the old handle and
    // resolve the NEW content address, not keep serving the stale model
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "embeddings.parquet")
    pqIndexCache.computeIfAbsent(s"flat|$dir|$m|$k|$scale|$fp",
      _ => loadOrBuild(spark, "flat", dir, m, k, scale, nlist = 0, fp,
        dest => buildFlatIndex(Tables.embeddings(spark, dir), m, k, scale, dest)))
  }

  /** The IVF-PQ index for `dir`'s embeddings, durable like [[pqIndex]].
    * `nprobe` is a QUERY-time parameter ([[annIvfPqIndexed]]), not an
    * index parameter — one index serves every recall/cost point.
    */
  def ivfPqIndex(spark: SparkSession, dir: String,
      nlist: Int = 16, m: Int = 16, k: Int = 16, scale: Int = 1000): PqIndexModel = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, dir, "embeddings.parquet")
    pqIndexCache.computeIfAbsent(s"ivf|$dir|$nlist|$m|$k|$scale|$fp",
      _ => loadOrBuild(spark, "ivf", dir, m, k, scale, nlist, fp,
        dest => buildIvfIndex(Tables.embeddings(spark, dir), nlist, m, k, scale, dest)))
  }

  // --------------------------------------------------------------------
  // Index consumers
  // --------------------------------------------------------------------

  /** Driver-side exact squared L2 between integer-grid vectors. */
  private def sqL(a: Seq[Long], b: Seq[Long]): Long =
    a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum

  /** Quantize + collect the query set (tiny by the literal-path
    * contract). Rows with a NULL q_vec are dropped — the corpus side
    * and the oracle both filter NULL embeddings, so a null query must
    * degrade to "no rows for that query", not an NPE in the driver loop.
    */
  private def collectQueries(queries: DataFrame, scale: Int): IndexedSeq[(Long, Seq[Long])] =
    // query sets are driver literals BY DESIGN (the ann query contract);
    // 4096 is the repo's enum-dimension cap (Skew.requirePairwiseKeyBound)
    graft.engine.DriverBudget.collect("Similarity.collectQueries", 4096L)(
      quantizedQueries(queries, scale))
      .toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1)))

  /** The empty (query_id, rank, vec_id, adc) result an ANN query over
    * zero queries degenerates to (matching the other ANN operators,
    * instead of failing analysis on an empty explode/head).
    */
  private def emptyAnn(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("query_id", LongType), StructField("rank", LongType),
        StructField("vec_id", LongType), StructField("adc", LongType))))
  }

  /** Shared ADC top-k reduction: bounded-memory per-query top-k
    * ([[graft.functions.TopKOrdTie]], map-side partial — the exchange
    * carries `queries × kTop` rows, never the full candidate set),
    * ascending ADC with smallest-vec_id tiebreak.
    */
  private def topKAdc(scored: DataFrame, kTop: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.agg.topKOrdTie(-col("adc"), col("vec_id"), kTop).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.tie").as("vec_id"),
        (-col("col.ord")).cast("long").as("adc"))

  /** Decode an index's code table to (vec_id, s, code, err) rows —
    * `err` = exact int64 quantization error of that subvector (sum over
    * the corpus = the training objective, the metric a codebook refresh
    * is judged by). One narrow scan of the materialized table.
    */
  def pqDecodeRows(spark: SparkSession, idx: PqIndexModel): DataFrame =
    idx.codes(spark)
      .select(col("vec_id"), explode(array((0 until idx.m).map(s =>
        struct(lit(s.toLong).as("s"), col(s"__cf$s").cast("long").as("code"),
          col(s"__er$s").as("err"))): _*)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.code").as("code"), col("e.err").as("err"))

  /** PQ CODEBOOK USAGE AUDIT (round 19) — per subspace: distinct codes
    * actually used, vector count, and the hottest code's count/share.
    * Near-uniform usage is a healthy quantizer; a top-share spike says
    * that subspace's centroids collapsed onto the data's mass (retrain
    * the codebook, or re-cut the subspace split along the correlated
    * dims [[embedDimCorrTop]] surfaces). The quantizer-health chart an
    * [[ivfCellStats]]-style audit gives the coarse tier, applied to
    * the PQ tier — read together they say which level of the ivfpq
    * stack is losing recall.
    *
    * Scale shape: one narrow scan of the durable pqidx asset's code
    * columns (no embedding is re-read), an (s, code)-keyed map-side
    * combined rollup bounded by m·k keys, then an m-key fold.
    */
  def pqCodeUsage(spark: SparkSession, dir: String): DataFrame =
    pqDecodeRows(spark, pqIndex(spark, dir, m = 16, k = 16))
      .groupBy("s", "code").agg(count(lit(1)).as("cnt"))
      .groupBy("s")
      .agg(
        count(lit(1)).as("n_codes_used"),
        sum(col("cnt")).as("n_vectors"),
        max(col("cnt")).as("max_code_count"))
      .withColumn("top_share_bp", expr("(10000 * max_code_count) DIV n_vectors"))
      .orderBy("s")

  /** PQ QUANTIZATION-ERROR PROFILE (round 19) — per subspace, the
    * assigned-centroid squared grid error in doubling buckets: vector
    * count, exact int64 error mass, bucket max. [[pqCodeUsage]] says
    * whether codes are BALANCED; this says whether they are CLOSE —
    * a right-shifted subspace is under-fit (raise k or re-cut the
    * split), and the per-subspace comparison localizes which slice of
    * the embedding the PQ tier is losing recall in. Drives the same
    * retrain decision [[annRecall]] measures end-to-end.
    *
    * Scale shape: the same narrow scan of the durable pqidx asset's
    * (code, err) columns, an (s, bucket)-keyed map-side-combined
    * rollup bounded by m·64 keys.
    */
  def pqErrHist(spark: SparkSession, dir: String): DataFrame =
    pqDecodeRows(spark, pqIndex(spark, dir, m = 16, k = 16))
      .groupBy(col("s"), (length(bin(col("err") + 1)) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(col("err")).as("total_err"),
        max(col("err")).as("max_err"))
      .orderBy("s", "k")

  /** ANN via asymmetric distance computation (ADC) over a flat PQ
    * index: the query stays un-coded; its distance to a corpus vector
    * is the sum over subspaces of a k-entry lookup table
    * dist(query-subvector, codebook centroid), indexed by the corpus
    * vector's code. The LUTs (queries × m × k longs) are driver-built
    * plan literals, so scoring every corpus vector against every query
    * is ONE narrow codegen'd scan of the code columns — no embedding is
    * re-read, no shuffle before the top-k reduction. Exact ADC ranks
    * (all-integer) with smallest-vec_id tiebreak.
    *
    * Plan-literal contract: plan size grows with queries × m × k, so
    * this path is for O(100) query batches; [[annPqJoined]] is the
    * same math with the LUTs shipped as data, for large batches.
    */
  def annPqIndexed(queries: DataFrame, idx: PqIndexModel, kTop: Int): DataFrame = {
    val spark = queries.sparkSession
    val qRows = collectQueries(queries, idx.scale)
    if (qRows.isEmpty) return emptyAnn(spark)
    // one codes-vector column feeding every query's compact LUT-sum
    // kernel ([[graft.functions.VecLutSum]]): the Generate stage then
    // carries ONE array input and queries × O(1) bytecode — the
    // unrolled element_at spelling put queries × m lookup trees into
    // the generated consume method, blew janino's 64 KB limit at
    // O(100) queries, and dropped the whole ADC scan to interpreted
    // evaluation
    val perQuery = qRows.map { case (qid, qq) =>
      struct(lit(qid).as("query_id"),
        vec.lutSum(col("__codes"), queryLuts(idx, qq)).as("adc"))
    }
    val scored = idx.codes(spark)
      .withColumn("__codes", array((0 until idx.m).map(s => col(s"__cf$s")): _*))
      .select(col("vec_id"), explode(array(perQuery: _*)).as("e"))
      .select(col("e.query_id").as("query_id"), col("vec_id"), col("e.adc").as("adc"))
      .filter(col("query_id") =!= col("vec_id"))
    topKAdc(scored, kTop)
  }

  /** The m × k ADC lookup-table matrix of one query against an index's
    * codebooks: `luts(s)(c)` = exact int64 sq-dist of the query's s-th
    * subvector to codebook entry c. Codes are always in [0, k) and only
    * codes with members are ever read, so the zero fill for member-less
    * codes is never selected.
    */
  private def queryLuts(idx: PqIndexModel, qq: Seq[Long]): IndexedSeq[IndexedSeq[Long]] =
    (0 until idx.m).map { s =>
      val lut = Array.fill(idx.k)(0L)
      idx.codebooks(s).foreach { case (c, qc) =>
        lut(c) = sqL(qq.slice(s * idx.dsub, (s + 1) * idx.dsub), qc)
      }
      lut.toIndexedSeq
    }

  /** Large-batch ADC: the same integer ADC math as [[annPqIndexed]],
    * with per-query LUTs computed IN THE DATA PLANE and shipped by
    * broadcast instead of embedded as plan literals.
    *
    * The plan carries one codebook copy per subspace (m × k × dsub
    * longs, query-count independent); each query row derives its own
    * m × k LUT with one [[vec.sqDistLong]] per codebook entry, and the
    * broadcast nested-loop join scores the code table against every
    * query — `element_at` into the broadcast LUT arrays, still never
    * re-reading the embedding column.
    *
    * Crossover: the literal path wins below ~100 queries (no join, no
    * LUT column materialization); beyond that plan size and analysis
    * time grow linearly with the batch and this path wins — at 100 TB a
    * batch-scoring job (eval-set contamination sweeps, retrieval-grade
    * queries) runs thousands of queries, which only this shape serves.
    * Handles zero queries natively (empty join side -> empty result).
    */
  /** Dense code -> centroid table per subspace (absent codes keep a
    * zero centroid; they never appear in the code columns, so that LUT
    * slot is never read — same convention as the literal path).
    */
  private def denseCodebooks(idx: PqIndexModel): IndexedSeq[Seq[Seq[Long]]] =
    (0 until idx.m).map { s =>
      val dense = Array.fill(idx.k)(Seq.fill(idx.dsub)(0L))
      idx.codebooks(s).foreach { case (c, qc) => dense(c) = qc }
      dense.toSeq
    }

  /** Data-plane query quantization (the [[collectQueries]] twin). */
  private def quantizedQueries(queries: DataFrame, scale: Int): DataFrame =
    queries
      .filter(col("q_vec").isNotNull)
      .select(col("query_id"), quantizedCol(col("q_vec"), scale).as("qq"))

  /** Per-subspace LUT array column over `vecCol` vs the dense
    * codebooks: `luts(s)(c) = sqDist(vecCol[s*dsub..], codebook(s)(c))`.
    */
  private def lutArrays(idx: PqIndexModel, vecCol: Column): Column = {
    val denseCb = denseCodebooks(idx)
    array((0 until idx.m).map { s =>
      transform(typedLit(denseCb(s)),
        c => vec.sqDistLong(slice(vecCol, s * idx.dsub + 1, idx.dsub), c))
    }: _*)
  }

  def annPqJoined(queries: DataFrame, idx: PqIndexModel, kTop: Int): DataFrame = {
    val spark = queries.sparkSession
    val m = idx.m
    val luts = quantizedQueries(queries, idx.scale)
      .select(col("query_id"), lutArrays(idx, col("qq")).as("luts"))
    val adc = (0 until m)
      .map(s => element_at(element_at(col("luts"), s + 1), col(s"__cf$s") + 1))
      .reduce(_ + _)
    val scored = idx.codes(spark)
      .crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), adc.as("adc"))
    topKAdc(scored, kTop)
  }

  /** IVFADC query over a materialized [[ivfPqIndex]]: probe the
    * `nprobe` nearest coarse cells per query (driver-side — the model
    * is tiny), build per-(query, cell) residual LUTs, and score ONLY
    * the probed cells' code partitions. The `cid IN (probed)` filter is
    * the inverted-list lookup: against the cid-partitioned code table
    * it is partition pruning, so un-probed cells are never read.
    * Dispatch is a lazily-evaluated CASE chain — a row only computes
    * the ADC sums of the queries probing ITS cell (~queries ×
    * nprobe/nlist of them), not the whole query set (an eager
    * explode-then-filter measured 4x slower at nprobe/nlist = 1/4).
    */
  def annIvfPqIndexed(
      queries: DataFrame, idx: PqIndexModel, nprobe: Int, kTop: Int): DataFrame = {
    val spark = queries.sparkSession
    require(idx.isIvf, "annIvfPqIndexed needs an IVF index (build with ivfPqIndex)")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val qRows = collectQueries(queries, idx.scale)
    if (qRows.isEmpty) return emptyAnn(spark)
    val (m, k, dsub) = (idx.m, idx.k, idx.dsub)
    val cents = idx.coarse
    // one (query, probed-cell) ADC table per pair: LUT over the QUERY
    // residual in that cell vs the shared residual codebooks
    val perQueryCell: IndexedSeq[(Int, Column)] = qRows.flatMap { case (qid, qq) =>
      val probed = cents.zipWithIndex
        .map { case (cv, cid) => (sqL(qq, cv), cid) }.sorted.take(nprobe)
      probed.map { case (_, cid) =>
        // residual-query LUTs for this cell, summed by the compact
        // [[graft.functions.VecLutSum]] kernel over the one __codes
        // array — O(1) bytecode per (query, cell) in the CASE dispatch
        // (the unrolled element_at spelling blew codegen's 64 KB method
        // limit once queries × nprobe × m grew past a few hundred terms)
        val qr: Seq[Long] = qq.lazyZip(cents(cid)).map(_ - _)
        (cid, struct(lit(qid).as("query_id"),
          vec.lutSum(col("__codes"), queryLuts(idx, qr)).as("adc")))
      }
    }
    val probedCells = perQueryCell.map(_._1).distinct.sorted
    val byCell = perQueryCell.groupBy(_._1)
    val dispatch = probedCells.tail.foldLeft(
      when(col("cid") === probedCells.head, array(byCell(probedCells.head).map(_._2): _*))
    )((acc, c) => acc.when(col("cid") === c, array(byCell(c).map(_._2): _*)))
    val scored = idx.codes(spark)
      // the inverted-list lookup: un-probed cells are never scanned —
      // with the cid-partitioned table this prunes whole directories
      .filter(col("cid").isin(probedCells: _*))
      .withColumn("__codes", array((0 until m).map(s => col(s"__cf$s")): _*))
      .select(col("vec_id"), explode(dispatch).as("e"))
      .select(col("e.query_id").as("query_id"), col("vec_id"), col("e.adc").as("adc"))
      .filter(col("query_id") =!= col("vec_id"))
    topKAdc(scored, kTop)
  }

  /** Large-batch IVFADC: [[annIvfPqIndexed]]'s integer math with every
    * per-query stage moved INTO THE DATA PLANE — the query-count-
    * independent half of the IVF family, completing the literal/joined
    * matrix ([[annPqIndexed]]/[[annPqJoined]] for flat PQ, this pair
    * for IVFADC).
    *
    * Per query row: quantize, rank the coarse centroids (one
    * `array_sort` over an nlist-entry struct array — lexicographic
    * (dist, cid), the SAME smallest-cid tiebreak as the driver loop),
    * keep the first `nprobe`, explode to (query, probed cid) rows,
    * derive the cell residual and its m × k LUT arrays. The plan
    * carries one coarse-centroid copy and one codebook copy per
    * subspace — independent of the batch size.
    *
    * Scoring is a broadcast EQUI-join on `cid` (queries × nprobe rows
    * broadcast), so a code row meets exactly the queries probing its
    * cell — the join key IS the inverted-list lookup. Against the
    * cid-partitioned code table, runtime dynamic partition pruning
    * drops un-probed cells at the scan when the probed set is sparse;
    * the literal path keeps the static `IN` guarantee for O(100)
    * batches.
    */
  def annIvfPqJoined(
      queries: DataFrame, idx: PqIndexModel, nprobe: Int, kTop: Int): DataFrame = {
    val spark = queries.sparkSession
    require(idx.isIvf, "annIvfPqJoined needs an IVF index (build with ivfPqIndex)")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val m = idx.m
    val centsLit = typedLit(idx.coarse.map(_.toSeq))
    val probed = quantizedQueries(queries, idx.scale)
      .withColumn("probed",
        slice(array_sort(zip_with(centsLit, sequence(lit(0), lit(idx.coarse.size - 1)),
          (c, i) => struct(vec.sqDistLong(col("qq"), c).as("dist"), i.as("cid")))),
          1, math.min(nprobe, idx.coarse.size)))
      .select(col("query_id"), col("qq"), explode(col("probed.cid")).as("cid"))
    val luts = probed
      .withColumn("qr",
        zip_with(col("qq"), element_at(centsLit, col("cid") + 1), (a, b) => a - b))
      .select(col("query_id"), col("cid"), lutArrays(idx, col("qr")).as("luts"))
    val adc = (0 until m)
      .map(s => element_at(element_at(col("luts"), s + 1), col(s"__cf$s") + 1))
      .reduce(_ + _)
    val scored = idx.codes(spark)
      .join(broadcast(luts), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), adc.as("adc"))
    topKAdc(scored, kTop)
  }

  // --------------------------------------------------------------------
  // One-shot PQ APIs (train inline, uncached) + driver queries
  // --------------------------------------------------------------------

  /** PQ-encode an ad-hoc corpus: trains a throwaway index and decodes
    * it. For a corpus that will be queried repeatedly, use [[pqIndex]] —
    * the asset is built once and shared.
    */
  def pqEncode(embeddings: DataFrame, m: Int, k: Int, scale: Int = 1000): DataFrame =
    pqDecodeRows(embeddings.sparkSession,
      buildFlatIndex(embeddings, m, k, scale, tempCodesDir(s"flat_m${m}_k$k")))

  /** One-shot flat-PQ ADC over an ad-hoc corpus (see [[annPqIndexed]]
    * for the dataflow; [[pqIndex]] for the index-once deployment shape).
    */
  def annPq(
      queries: DataFrame, // (query_id, q_vec)
      corpus: DataFrame,  // (vec_id, embedding)
      kTop: Int,
      m: Int,
      k: Int,
      scale: Int = 1000
  ): DataFrame =
    annPqIndexed(queries,
      buildFlatIndex(corpus, m, k, scale, tempCodesDir(s"flat_m${m}_k$k")), kTop)

  /** Driver query: PQ codes + per-subspace quantization error at
    * m=16 × k=16 over the 64-dim corpus (16 codes per vector), decoded
    * from the shared [[pqIndex]] asset.
    */
  def pqEncodeQuery(spark: SparkSession, dir: String): DataFrame =
    pqDecodeRows(spark, pqIndex(spark, dir, m = 16, k = 16))
      .orderBy("vec_id", "s")

  /** Driver query: ADC top-5 for the sibling query set (vec_id < 16),
    * literal-LUT path over the shared [[pqIndex]] asset.
    */
  def annPqQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annPqIndexed(queries, pqIndex(spark, dir, m = 16, k = 16), kTop = 5)
      .orderBy("query_id", "rank")
  }

  /** Two-stage retrieval (retrieve-then-REFINE — the deployed shape of
    * every PQ system; Jégou et al. TPAMI 2011 §III-E call it re-ranking
    * with source coding): the PQ index shortlists `rCand` candidates
    * per query by approximate ADC distance, then ONLY those candidates
    * are re-ranked by exact distance against their true embeddings and
    * the top `kTop` survive. ADC distances are biased by quantization
    * error; a shortlist a few times larger than k plus an exact re-rank
    * recovers most of the lost recall while still never scanning true
    * embeddings corpus-wide.
    *
    * Dataflow at 100 TB: stage 1 is [[annPqIndexed]] (narrow scan of
    * the skinny code table, bounded top-R aggregate). Stage 2 joins the
    * `queries x rCand` candidate list — BROADCAST, it is tiny by
    * construction — against the embedding table keyed on vec_id, so
    * the full-width embedding column is read once, only for candidate
    * rows (with the corpus bucketed on vec_id this is a local lookup),
    * and never shuffled. Exact distances are [[vec.sqDistLong]] on the
    * index's integer grid — codegen'd, engine-replicable — and the
    * final cut is the bounded per-query top-k aggregate again.
    */
  def annRefine(
      queries: DataFrame, // (query_id, q_vec)
      idx: PqIndexModel,
      corpus: DataFrame,  // (vec_id, embedding)
      rCand: Int,
      kTop: Int
  ): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    require(kTop >= 1 && kTop <= rCand,
      s"need 1 <= kTop <= rCand, got kTop=$kTop rCand=$rCand")
    def gridQ(c: Column): Column = transform(c, e =>
      coalesce(floor(e.cast(DoubleType) * idx.scale + lit(0.5)).cast(LongType), lit(0L)))
    val cand = annPqIndexed(queries, idx, rCand).select("query_id", "vec_id")
    val corpusQ = corpus.select(col("vec_id"), gridQ(col("embedding")).as("__cq"))
    val queriesQ = queries.select(col("query_id"), gridQ(col("q_vec")).as("__qq"))
    val exact = corpusQ
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queriesQ), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        vec.sqDistLong(col("__cq"), col("__qq")).as("dist"))
    exact
      .groupBy(col("query_id"))
      .agg(graft.functions.agg.topKOrdTie(-col("dist"), col("vec_id"), kTop).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.tie").as("vec_id"),
        (-col("col.ord")).cast("long").as("dist"))
  }

  /** Driver query: ADC top-20 shortlist refined to an exact top-5 for
    * the sibling query set, over the shared [[pqIndex]] asset.
    */
  def annRefineQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annRefine(queries, pqIndex(spark, dir, m = 16, k = 16), emb, rCand = 20, kTop = 5)
      .orderBy("query_id", "rank")
  }

  /** Retrieval-quality grading: recall@k of the PQ index's raw ADC
    * shortlist AND of the refined (retrieve-then-re-rank) path against
    * the EXACT top-k under the metric the index approximates (integer
    * squared L2 on the index's quantization grid). This is the
    * recall/cost curve every deployed ANN system publishes before
    * serving traffic — grading the index against its own metric
    * isolates quantization loss from embedding-metric choice.
    *
    * Dataflow at 100 TB: ground truth is one corpus scan (quantize +
    * [[vec.sqDistLong]] against the BROADCAST query set) into the
    * bounded per-query top-k aggregate — the brute-force baseline is
    * paid once per evaluation, exactly like the index-build. The two
    * approximate paths reuse the shared index asset. All three result
    * sets are queries x k rows — tiny — so the hit-counting joins
    * broadcast; recall is an exact integer count over k.
    */
  /** Exact top-k (query_id, vec_id) ground truth under integer squared
    * L2 on the `scale` quantization grid — the metric every PQ-family
    * index approximates. One corpus scan against the broadcast query
    * set into the bounded per-query top-k aggregate.
    */
  private def exactGridTopK(
      queries: DataFrame, corpus: DataFrame, scale: Int, kTop: Int): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    def gridQ(c: Column): Column = transform(c, e =>
      coalesce(floor(e.cast(DoubleType) * scale + lit(0.5)).cast(LongType), lit(0L)))
    val corpusQ = corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id"), gridQ(col("embedding")).as("__cq"))
    val queriesQ = queries.filter(col("q_vec").isNotNull)
      .select(col("query_id"), gridQ(col("q_vec")).as("__qq"))
    corpusQ
      .join(broadcast(queriesQ), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        vec.sqDistLong(col("__cq"), col("__qq")).as("dist"))
      .groupBy(col("query_id"))
      .agg(graft.functions.agg.topKOrdTie(-col("dist"), col("vec_id"), kTop).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.tie").as("vec_id"))
  }

  def annRecall(
      queries: DataFrame, // (query_id, q_vec)
      idx: PqIndexModel,
      corpus: DataFrame,  // (vec_id, embedding)
      rCand: Int,
      kTop: Int
  ): DataFrame = {
    val exact = exactGridTopK(queries, corpus, idx.scale, kTop)
    val adc = annPqIndexed(queries, idx, kTop)
      .select(col("query_id"), col("vec_id"), lit(1L).as("__a"))
    val ref = annRefine(queries, idx, corpus, rCand, kTop)
      .select(col("query_id"), col("vec_id"), lit(1L).as("__r"))
    exact
      .join(broadcast(adc), Seq("query_id", "vec_id"), "left")
      .join(broadcast(ref), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(col("__a"), lit(0L))).as("hits_adc"),
        sum(coalesce(col("__r"), lit(0L))).as("hits_refine"))
      .withColumn("recall_adc", col("hits_adc").cast("double") / kTop)
      .withColumn("recall_refine", col("hits_refine").cast("double") / kTop)
  }

  /** Driver query: recall@5 of the raw ADC top-5 and of the 20->5
    * refined path for the standard query set, against exact grid-L2
    * ground truth, over the shared [[pqIndex]] asset.
    */
  def annRecallQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annRecall(queries, pqIndex(spark, dir, m = 16, k = 16), emb, rCand = 20, kTop = 5)
      .orderBy("query_id")
  }

  /** IVFADC recall@k vs the same exact grid-L2 ground truth — the
    * scorecard's second row. Unlike the flat-PQ paths, IVFADC carries
    * TWO loss sources: residual quantization AND the probe cut
    * (candidates outside the `nprobe` nearest cells are never scored),
    * so this is the number that tunes nprobe against cost. Same
    * dataflow as [[annRecall]]: one brute-force corpus scan for the
    * truth, index-asset reuse for the approximate side, broadcast hit
    * joins over queries x k rows.
    */
  def annIvfPqRecall(
      queries: DataFrame, // (query_id, q_vec)
      idx: PqIndexModel,
      corpus: DataFrame,  // (vec_id, embedding)
      nprobe: Int,
      kTop: Int
  ): DataFrame = {
    val exact = exactGridTopK(queries, corpus, idx.scale, kTop)
    val adc = annIvfPqIndexed(queries, idx, nprobe, kTop)
      .select(col("query_id"), col("vec_id"), lit(1L).as("__a"))
    exact
      .join(broadcast(adc), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__a"), lit(0L))).as("hits_ivfpq"))
      .withColumn("recall_ivfpq", col("hits_ivfpq").cast("double") / kTop)
  }

  /** Driver query: recall@5 of the IVFADC path (nlist=16, nprobe=4)
    * against exact grid-L2 ground truth, over the shared
    * [[ivfPqIndex]] asset.
    */
  def annIvfPqRecallQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annIvfPqRecall(queries, ivfPqIndex(spark, dir, nlist = 16, m = 16, k = 16),
      emb, nprobe = 4, kTop = 5)
      .orderBy("query_id")
  }

  /** Driver query: the SAME query set through the large-batch joined
    * ADC path — by construction it must hash-match ann_pq's oracle
    * (identical integer math, different physical plan).
    */
  def annPqJoinedQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annPqJoined(queries, pqIndex(spark, dir, m = 16, k = 16), kTop = 5)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN (IVFADC — Jégou et al., TPAMI 2011, §V): the
    * billion-scale index layout. A coarse inverted file narrows each
    * query's scan to ~`nprobe/nlist` of the corpus, and the in-cell
    * distances come from product-quantized RESIDUALS (vector − coarse
    * centroid), so the full embedding is read exactly once, at index
    * time.
    *
    * Index: `nlist` coarse centroids — the [[annIvf]] deterministic
    * stride sample seeded on the quantized integer grid, refined by one
    * Lloyd step to cell means (see the inline note: raw sample seeds
    * would WIDEN the residual distribution and sink recall below plain
    * PQ); every corpus vector is assigned to its nearest centroid by
    * exact int64 sq-distance (smallest-cid tiebreak), and its residual is coded by
    * ONE codebook set shared across cells ([[pqTrain]] on residuals —
    * the standard IVFADC arrangement; per-cell codebooks would multiply
    * model state by nlist for marginal gain).
    *
    * Query: probe the `nprobe` nearest cells; the ADC tables are built
    * from the QUERY's per-cell residual, so scoring is one narrow scan
    * of the probed cells' code columns. The `cid IN (probed)` predicate
    * is the inverted-list lookup — at scale, with the code table written
    * partitioned by `cid`, it becomes partition pruning and the other
    * `(nlist − nprobe)/nlist` of the corpus is never read. Every stage
    * is integer arithmetic → results hash-match any engine.
    */
  def annIvfPq(
      queries: DataFrame, // (query_id, q_vec)
      corpus: DataFrame,  // (vec_id, embedding)
      kTop: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 16,
      k: Int = 16,
      scale: Int = 1000
  ): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, got nprobe=$nprobe nlist=$nlist")
    annIvfPqIndexed(queries,
      buildIvfIndex(corpus, nlist, m, k, scale, tempCodesDir(s"ivf_n${nlist}_m${m}_k$k")),
      nprobe, kTop)
  }

  /** Driver query: IVFADC top-5 for the sibling query set (vec_id < 16)
    * over the shared [[ivfPqIndex]] asset at nlist=16, nprobe=4 — each
    * query scans ~1/4 of the cells (directory-pruned on disk).
    */
  def annIvfPqQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annIvfPqIndexed(queries, ivfPqIndex(spark, dir, nlist = 16, m = 16, k = 16),
      nprobe = 4, kTop = 5)
      .orderBy("query_id", "rank")
  }

  /** Driver query: the SAME query set through the large-batch joined
    * IVFADC path — by construction it must hash-match ann_ivfpq's
    * oracle (identical integer math, different physical plan).
    */
  def annIvfPqJoinedQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    annIvfPqJoined(queries, ivfPqIndex(spark, dir, nlist = 16, m = 16, k = 16),
      nprobe = 4, kTop = 5)
      .orderBy("query_id", "rank")
  }
}
