package graft.streaming

import org.apache.spark.sql.DataFrame

/** Curated streaming ingest — the ingest-side twin of the batch
  * capstones (pipeline_curate / pipeline_mix / pipeline_pretokenize).
  * Each micro-batch runs three stages:
  *
  *   1. ADMISSION — an ordered chain of [[Gate]]s, each of which may drop
  *      documents. The quality gate built from `weights`
  *      ([[QualityGate]]) always runs first: it is a row-local
  *      projection, so every later join, write and chunk-store shrinks to
  *      its kept slice. The caller's `gates` then fold in the order
  *      given — typically [[DecontaminationGate]] before
  *      [[NoveltyGate.Static]] / [[NoveltyGate.Accreting]], so leaked
  *      eval text neither accretes into the novelty grams nor reaches the
  *      digest table;
  *   2. EXACT INGEST DEDUP ([[IngestDedup.processBatch]]) — first-seen
  *      content lands in `destDir/batch=<id>`, later copies are dropped
  *      against the standing digest table;
  *   3. CHUNK STORE ([[ChunkStoreIngest.processBatch]]) — the landed docs
  *      are chunked and stored deduplicated (manifest + novel chunks), so
  *      cross-document shared spans are stored once.
  *
  * Stage 3 consumes the just-written `destDir/batch=<id>` partition, read
  * back under the schema it was written with, rather than an in-memory
  * frame: the written partition is the landed truth, so a crash-replay
  * re-reads exactly what converged to disk. Every stage keeps its own
  * deterministic-partition overwrite idempotence, so the composition
  * replays convergently end-to-end.
  *
  * Batch parity (StreamingSpec pins): each gate's verdict is the SAME
  * expression tree as its batch operator; the landed doc set equals the
  * batch-side gates→exact-dedup composition; and
  * [[ChunkStoreIngest.reassemble]] reproduces every landed doc
  * byte-for-byte. Nothing in the composition adds a shuffle beyond the
  * stages' own.
  */
object CuratedIngest {

  /** Process one micro-batch (columns `doc_id`, `text`); returns
    * (admitted rows — survivors of every gate —, docs landed, novel
    * chunks stored). Every frame a gate returns is released before this
    * returns. Exposed for the spec.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      weights: IndexedSeq[Long],
      destDir: String,
      digestDir: String,
      storeDir: String,
      manifestDir: String,
      gates: Seq[Gate] = Nil,
      divisor: Int = 64
  ): (Long, Long, Long) = {
    val spark = batch.sparkSession
    val quality: Gate = (rows, _) => Gate.admitted(QualityGate.gate(rows, weights), "kept")
    val stages = (quality +: gates).scanLeft(batch)((rows, gate) => gate(rows, batchId)).tail
    val admitted = stages.last.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val admittedCount = admitted.count()
      val landedCount = IngestDedup.processBatch(admitted, batchId, destDir, digestDir)
      val stored =
        if (landedCount == 0L) 0L
        else {
          val landed = spark.read.schema(admitted.schema).parquet(s"$destDir/batch=$batchId")
          ChunkStoreIngest.processBatch(landed, batchId, storeDir, manifestDir, divisor)._2
        }
      (admittedCount, landedCount, stored)
    } finally stages.foreach(_.unpersist(false))
  }

  /** Drain a doc stream (columns `doc_id`, `text`) through the
    * gates→dedup→chunk-store pipeline with AvailableNow semantics. Gates
    * that resolve state (the decontamination gate's eval grams) do so
    * when they are built, before the stream starts.
    */
  def runCuratedIngest(
      docs: DataFrame,
      weights: IndexedSeq[Long],
      destDir: String,
      digestDir: String,
      storeDir: String,
      manifestDir: String,
      checkpoint: String,
      gates: Seq[Gate] = Nil,
      divisor: Int = 64
  ): Unit =
    EventStream.runAvailableNowForeach(docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, weights, destDir, digestDir, storeDir, manifestDir,
        gates, divisor); ()
    }
}
