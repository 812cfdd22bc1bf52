package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming NEAR-dedup ingest: the continuous form of
  * [[graft.operators.Dedup.ngramIncrementalPairs]] the same way
  * [[IngestDedup]] is the continuous form of exact incremental dedup.
  * Every micro-batch is shingled ONCE (under the standing corpus's df
  * order — the stale-order-stays-exact argument), checked by exact
  * n-gram Jaccard against the standing corpus index PLUS every prior
  * batch's accreted index rows, self-deduped within the batch, and only
  * novel documents land.
  *
  * Scale/correctness shape:
  *   - The standing side is the MATERIALIZED corpus index asset
  *     ([[Dedup.corpusNgramIndex]]) — the accumulated corpus text is
  *     never re-read; each batch pays only its own shingling plus a
  *     posting join whose new side carries the batch's prefixes.
  *   - Survivors' index rows accrete into `idxDir/batch=<id>` (skinny:
  *     hashes + lengths, never text), so later batches near-dedup
  *     against earlier ones without any reindexing: the standing index
  *     is corpus-asset UNION prior batch partitions.
  *   - Within a batch, the drop rule is pipeline_curate's: a doc that
  *     is the `id_b` (larger doc_id) of any qualifying within-batch
  *     pair drops; cross-side matches drop the batch doc. Greedy by
  *     doc_id, deterministic, replay-stable.
  *   - Both destination docs and index rows write into deterministic
  *     `batch=<id>` subdirectories with overwrite semantics, and the
  *     prior-index read ([[PrefixProbe]], declared as the schema of the
  *     index rows the batch itself writes) excludes the batch's OWN
  *     partition — the [[IngestDedup]] replay-idempotence layout (a
  *     crash-replay rewrites the same files and converges; without
  *     self-exclusion it would near-dup against itself and write
  *     nothing).
  */
object NearDupIngest {

  /** Process one micro-batch (columns `doc_id`, `text`): write novel
    * docs + their index rows, return docs written. Exposed for the spec
    * to drive directly; the streaming query calls it per batch.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      destDir: String,
      idxDir: String,
      corpusIdx: DataFrame,
      corpusDf: DataFrame,
      k: Int,
      threshold: Double
  ): Long = {
    val spark = batch.sparkSession
    val newIdx = Dedup.ngramIndex(batch.select(col("doc_id"), col("text")), k, Some(corpusDf))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val standing = corpusIdx.unionByName(PrefixProbe.scan(spark, idxDir, newIdx.schema, batchId))
      val crossDrop = Dedup.verifiedCrossPairs(standing, newIdx, threshold)
        .select(col("id_new").as("doc_id"))
      // within-batch: the full exact join over the batch's own index;
      // the id_b (larger doc_id) side of each qualifying pair drops
      val selfDrop = Dedup.ngramJaccardPairsIndexed(newIdx, threshold)
        .select(col("id_b").as("doc_id"))
      val dropIds = crossDrop.union(selfDrop).distinct()
      val kept = batch.select(col("doc_id"), col("text"))
        .join(dropIds, Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val written = graft.sources.WriteMetrics.countingWrite(kept)(
          _.write.mode(SaveMode.Overwrite).parquet(s"$destDir/batch=$batchId"))
        // index AFTER docs: a crash between the two re-runs the batch,
        // and the overwrite layout + self-exclusion make it converge
        newIdx.join(kept.select(col("doc_id")), Seq("doc_id"))
          .write.mode(SaveMode.Overwrite).parquet(s"$idxDir/batch=$batchId")
        written
      } finally { kept.unpersist(false); () }
    } finally { newIdx.unpersist(false); () }
  }

  /** Drain a doc stream (columns `doc_id`, `text`) into `destDir` with
    * corpus-plus-history near-dedup, AvailableNow semantics. The
    * standing corpus assets come from `corpusDir`'s materialized index
    * ([[Dedup.corpusNgramIndex]] / [[Dedup.corpusGramDf]]).
    */
  def runNearDedupIngest(
      docs: DataFrame,
      corpusDir: String,
      destDir: String,
      idxDir: String,
      checkpoint: String,
      k: Int = 3,
      threshold: Double = 0.2
  ): Unit = {
    val spark = docs.sparkSession
    val corpusIdx = Dedup.corpusNgramIndex(spark, corpusDir, k)
    // the ORDER the corpus index is pinned under — NOT the current df
    // table: an increment-built index carries its founding order
    // forward, and mixing orders across the cross-pair join would
    // silently lose candidates ([[Dedup.corpusNgramOrder]])
    val corpusDf = Dedup.corpusNgramOrder(spark, corpusDir, k)
    EventStream.runAvailableNowForeach(docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, destDir, idxDir, corpusIdx, corpusDf, k, threshold); ()
    }
  }
}
