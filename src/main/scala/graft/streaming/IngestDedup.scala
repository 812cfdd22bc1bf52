package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming dedup ingest: the continuous form of
  * [[graft.operators.Dedup.incremental]] — every micro-batch is checked
  * against the PERSISTENT digest table of everything ever ingested, and
  * only first-seen content lands in the destination.
  *
  * Scale/correctness shape:
  *   - The digest table is 16 bytes per ingested doc and is the ONLY
  *     thing the batch joins against — never the accumulated corpus.
  *   - Digests are PARTITIONED BY PREFIX (`hp` = first two hex chars of
  *     the md5, 256 buckets) under each `batch=<id>` directory. A batch
  *     touching p of 256 prefixes lists and reads only the `hp=`
  *     directories of those p prefixes ([[PrefixProbe]]: one driver-side
  *     glob, no listing job), so per-batch listing is O(touched
  *     partitions), not O(history), and the read is p/256 of the digest
  *     table. A full-coverage batch still reads everything — the bound is
  *     the batch's prefix spread, which is what keeps SMALL continuous
  *     batches cheap against a long history.
  *   - Both destination docs and new digests write into a
  *     deterministic `batch=<id>` subdirectory with overwrite
  *     semantics, so a micro-batch REPLAY after a crash (at-least-once
  *     delivery) rewrites the same files instead of appending
  *     duplicates — idempotence by layout, the parquet analog of the
  *     reference's overwrite-by-slice bulk contract.
  *   - Within a batch, content keeps the min doc_id (same rule as the
  *     batch operator), then survivors anti-join the stored digests.
  */
object IngestDedup {

  /** Data columns of a digest leaf (`batch=<id>/hp=<xx>`): `hp` and
    * `batch` live in the path, `h` is the only column in the files.
    */
  private[graft] val DigestSchema: StructType = StructType.fromDDL("h STRING")

  /** The prior-digest scan one batch anti-joins against: everything
    * ingested by OTHER batches (a crash-replay must not anti-join its
    * docs against its own earlier write, or it would overwrite the
    * destination partition with nothing), pruned to the digest-prefix
    * partitions in `prefixes` — a [[PrefixProbe]] over the digest
    * table. Exposed for the spec that asserts the pruning reaches the
    * file scan and the listing launches no job.
    */
  private[graft] def priorDigests(
      spark: org.apache.spark.sql.SparkSession,
      digestDir: String,
      batchId: Long,
      prefixes: Seq[String]
  ): DataFrame =
    PrefixProbe.scan(spark, digestDir, DigestSchema, batchId, prefixes)

  /** Process one micro-batch: returns (docs written). Exposed for the
    * spec to drive directly; the streaming query calls it per batch.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      destDir: String,
      digestDir: String
  ): Long = {
    val spark = batch.sparkSession
    val h = batch.select(
      col("doc_id"), col("text"),
      md5(coalesce(col("text"), lit(""))).as("h"))
      .withColumn("hp", substring(col("h"), 1, 2))
    val firstInBatch = h.groupBy("h").agg(min(col("doc_id")).as("__keep"))
    val kept0 = h.join(firstInBatch, "h")
      .filter(col("doc_id") === col("__keep"))
      // at-least-once delivery can repeat the SAME (doc_id, text) row
      // within one micro-batch; both copies pass the min-doc_id keep, so
      // collapse to one row per content here — the operator's whole
      // contract is that only first-seen content lands
      .dropDuplicates("h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the batch's prefix spread: a tiny driver-side set (<= 256
      // values) that prunes the digest scan to matching partitions —
      // one cheap job over the (persisted) batch survivors, traded for
      // not scanning the full digest history
      val prefixes = graft.engine.DriverBudget.collect(
          "IngestDedup.batchPrefixes", 256L)(
          kept0.select(col("hp")).distinct())
        .map(_.getString(0)).toSeq
      val kept = kept0.join(priorDigests(spark, digestDir, batchId, prefixes), Seq("h"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val written = graft.sources.WriteMetrics.countingWrite(kept.select(col("doc_id"), col("text")))(
          _.write.mode(SaveMode.Overwrite).parquet(s"$destDir/batch=$batchId"))
        // digests AFTER docs: a crash between the two re-runs the batch,
        // and the overwrite layout makes the re-run converge
        kept.select(col("h"), col("hp")).write
          .partitionBy("hp")
          .mode(SaveMode.Overwrite)
          .parquet(s"$digestDir/batch=$batchId")
        written
      } finally { kept.unpersist(false); () }
    } finally { kept0.unpersist(false); () }
  }

  /** Drain a doc stream (columns `doc_id`, `text`) into `destDir` with
    * digest-table dedup, AvailableNow semantics (the scroll-loop drain).
    */
  def runDedupIngest(
      docs: DataFrame,
      destDir: String,
      digestDir: String,
      checkpoint: String
  ): Unit =
    EventStream.runAvailableNowForeach(docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, destDir, digestDir); ()
    }
}
