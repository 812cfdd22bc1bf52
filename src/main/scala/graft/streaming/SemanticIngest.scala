package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming SEMANTIC near-dup ingest: the continuous form of
  * [[graft.operators.Similarity.cosineIncremental]], completing the
  * ingest-tier matrix — exact digests ([[IngestDedup]]), lexical
  * n-gram Jaccard ([[NearDupIngest]]), chunk storage
  * ([[ChunkStoreIngest]]), and embedding cosine: the tier that
  * stops a PARAPHRASE of standing content, which every lexical screen
  * passes. Every micro-batch of (vec_id, embedding) rows is banded
  * once, probed against the standing corpus's materialized band asset
  * PLUS every prior batch's accreted band rows, exact-cosine-verified,
  * self-deduped within the batch, and only novel vectors land.
  *
  * Scale/correctness shape (the [[NearDupIngest]] layout, re-based on
  * the LSH machinery):
  *   - The standing side is the MATERIALIZED band asset
  *     ([[Similarity.corpusBandedEmbeddings]]) — the corpus is never
  *     re-banded; each batch pays its own banding plus a (t, b)-keyed
  *     join whose probe side carries only the batch's bands.
  *   - Verification is EXACT basis-point cosine on candidate pairs
  *     only: embeddings move just for candidates, id-keyed against the
  *     corpus table plus prior batches' kept vectors.
  *   - Within a batch, the drop rule is the pipeline convention: the
  *     larger vec_id of any qualifying within-batch pair drops;
  *     cross-side matches drop the batch vector. Deterministic,
  *     replay-stable.
  *   - Destination vectors and band rows write into deterministic
  *     `batch=<id>` partitions with overwrite semantics, and both
  *     standing reads ([[PrefixProbe]], each declared as the schema of
  *     the rows the batch itself writes there) exclude the batch's OWN
  *     partition — a crash-replay rewrites the same files and converges
  *     (without self-exclusion a replay would near-dup against itself and
  *     land nothing).
  */
object SemanticIngest {

  /** (vec_id, t, b) LSH band rows of `vectors` — the rows each batch
    * accretes into `idxDir/batch=<id>`.
    */
  private[graft] def bandRows(vectors: DataFrame, bits: Int, tables: Int, dim: Int,
      seedBase: Long): DataFrame =
    vectors
      .select(col("vec_id"),
        explode(Similarity.tableBuckets(col("embedding"), bits, tables, dim, seedBase)).as("bk"))
      .select(col("vec_id"), col("bk.t"), col("bk.b"))

  /** Process one micro-batch (columns `vec_id`, `embedding`): write
    * novel vectors + their band rows, return vectors written. Exposed
    * for the spec; the streaming query calls it per batch.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      destDir: String,
      idxDir: String,
      corpusBands: DataFrame,
      corpusVectors: DataFrame,
      threshold: Double,
      bits: Int,
      tables: Int,
      dim: Int,
      seedBase: Long
  ): Long = {
    val spark = batch.sparkSession
    val thresholdBp = math.round(threshold * 10000)
    val rows = batch.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batchBands = bandRows(rows, bits, tables, dim, seedBase)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val standingBands = corpusBands.unionByName(
          PrefixProbe.scan(spark, idxDir, batchBands.schema, batchId))
        val standingVecs = corpusVectors.unionByName(
          PrefixProbe.scan(spark, destDir, rows.schema, batchId))
        def verified(cand: DataFrame, aVecs: DataFrame): DataFrame = cand
          .join(aVecs.select(col("vec_id").as("id_a"), col("embedding").as("v_a")), Seq("id_a"))
          .join(rows.select(col("vec_id").as("id_b"), col("embedding").as("v_b")), Seq("id_b"))
          .withColumn("cos_bp",
            floor(graft.functions.vec.cosine(col("v_a"), col("v_b")) * 10000 + 0.5).cast("long"))
          .filter(col("cos_bp") >= thresholdBp)
        // cross: standing x batch candidates; any verified match drops
        // the batch vector
        val crossDrop = verified(
          standingBands.select(col("t"), col("b"), col("vec_id").as("id_a"))
            .join(batchBands.select(col("t"), col("b"), col("vec_id").as("id_b")), Seq("t", "b"))
            .select("id_a", "id_b").dropDuplicates("id_a", "id_b"),
          standingVecs)
          .select(col("id_b").as("vec_id"))
        // within-batch: larger vec_id of a qualifying pair drops
        val selfDrop = verified(
          batchBands.select(col("t"), col("b"), col("vec_id").as("id_a"))
            .join(batchBands.select(col("t"), col("b"), col("vec_id").as("id_b")), Seq("t", "b"))
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b").dropDuplicates("id_a", "id_b"),
          rows)
          .select(col("id_b").as("vec_id"))
        val dropIds = crossDrop.union(selfDrop).distinct()
        val kept = rows.join(dropIds, Seq("vec_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val written = graft.sources.WriteMetrics.countingWrite(kept)(
            _.write.mode(SaveMode.Overwrite).parquet(s"$destDir/batch=$batchId"))
          // bands AFTER vectors: a crash between the two re-runs the
          // batch; overwrite layout + self-exclusion make it converge
          batchBands.join(kept.select(col("vec_id")), Seq("vec_id"))
            .write.mode(SaveMode.Overwrite).parquet(s"$idxDir/batch=$batchId")
          written
        } finally { kept.unpersist(false); () }
      } finally { batchBands.unpersist(false); () }
    } finally { rows.unpersist(false); () }
  }

  /** Drain a vector stream (columns `vec_id`, `embedding`) into
    * `destDir` with corpus-plus-history semantic near-dedup,
    * AvailableNow semantics. The standing band table is the durable
    * asset of `corpusDir`'s embeddings.
    */
  def runSemanticIngest(
      vectors: DataFrame,
      corpusDir: String,
      destDir: String,
      idxDir: String,
      checkpoint: String,
      threshold: Double = 0.2,
      bits: Int = 4,
      tables: Int = 8,
      dim: Int = 64,
      seedBase: Long = 42L
  ): Unit = {
    val spark = vectors.sparkSession
    val corpusBands = Similarity.corpusBandedEmbeddings(spark, corpusDir, bits, tables, dim, seedBase)
    val corpusVectors = graft.Tables.embeddings(spark, corpusDir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    EventStream.runAvailableNowForeach(vectors, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, destDir, idxDir,
        corpusBands, corpusVectors, threshold, bits, tables, dim, seedBase); ()
    }
  }
}
