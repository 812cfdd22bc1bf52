package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** COMPOSED STREAMING CAPSTONE — the batch capstones
  * (pipeline_curate / pipeline_mix / pipeline_pretokenize) have had no
  * streaming equivalent: this is the ingest-side pipeline a corpus
  * operator actually runs, three stages in ONE `foreachBatch`:
  *
  *   1. QUALITY GATE ([[QualityGate]]) — stateless classifier filter,
  *      run FIRST because it is pure row-local projection: every
  *      downstream join, digest write and chunk store shrinks to the
  *      kept slice;
  *   1a. DECONTAMINATION GATE ([[DecontaminationGate]], optional,
  *      round 20) — rejects docs sharing more than
  *      `decontamMaxShared` `decontamGramK`-grams with the frozen
  *      eval suite at `decontamEvalDir`; runs AFTER the row-local
  *      quality gate (the gram join sees only quality-kept docs) and
  *      BEFORE novelty/dedup (leaked eval text must not accrete into
  *      the novelty grams or reach the digest table). The eval side is
  *      derived ONCE per suite ([[DecontaminationGate.evalGramsAsset]],
  *      resolved before the stream starts), not once per micro-batch;
  *   1b. NOVELTY GATE ([[NoveltyGate]], optional, round 15; accreting
  *      round 16) — admits only docs whose shingle novelty against the
  *      standing gram asset clears `minNoveltyBp`; runs AFTER the
  *      row-local gate (its membership join sees only quality-kept
  *      docs) and BEFORE dedup (redundant-by-construction material
  *      never reaches the digest table). With `noveltyGramDir` set the
  *      tier ACCRETES: admitted docs' novel grams raise the standing
  *      set against later batches ([[NoveltyGate.processBatch]]);
  *   2. EXACT INGEST DEDUP ([[IngestDedup.processBatch]]) — first-seen
  *      content lands, later copies are dropped against the standing
  *      digest table (prefix-pruned scan, replay-safe partitions);
  *   3. CHUNK STORE ([[ChunkStoreIngest.processBatch]]) — the landed
  *      docs are chunked and stored deduplicated (manifest + novel
  *      chunks only), so cross-document shared spans are stored once.
  *
  * Stage 3 consumes the JUST-WRITTEN `destDir/batch=<id>` partition
  * rather than an in-memory frame: the written partition is the landed
  * truth, so a crash-replay re-reads exactly what converged to disk
  * (every stage keeps its own deterministic-partition overwrite
  * idempotence, so the composition replays convergently end-to-end —
  * the same argument each stage's scaladoc makes alone).
  *
  * Batch parity (StreamingSpec pin): gate verdicts are the SAME
  * expression tree as the batch classifier; the landed doc set equals
  * the batch-side gate→exact-dedup composition; and
  * [[ChunkStoreIngest.reassemble]] reproduces the landed docs
  * byte-for-byte. Scale shape is inherited stage-wise — nothing in the
  * composition adds a shuffle beyond the stages' own.
  */
object CuratedIngest {

  /** Process one micro-batch (columns `doc_id`, `text`); returns
    * (gated-in rows — survivors of the quality AND, when configured,
    * novelty gates —, docs landed, novel chunks stored). Exposed for
    * the spec.
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      weights: IndexedSeq[Long],
      threshold: Long,
      destDir: String,
      digestDir: String,
      storeDir: String,
      manifestDir: String,
      k: Int = 8,
      divisor: Int = 64,
      noveltyStanding: Option[DataFrame] = None,
      minNoveltyBp: Long = 0L,
      noveltyGramDir: Option[String] = None,
      decontamGrams: Option[DataFrame] = None,
      decontamMaxShared: Long = 0L,
      decontamGramK: Int = 8
  ): (Long, Long, Long) = {
    val spark = batch.sparkSession
    val qualityKept = QualityGate.gate(batch, weights, threshold)
      .filter(col("kept"))
      .select(col("doc_id"), col("text"))
    // decontaminate-at-the-door (r20): the eval-gram frame arrives
    // pre-derived (the committed asset) — this tier adds one broadcast
    // gram join per batch, never an eval shingle pass
    val cleared = decontamGrams.map { eg =>
      DecontaminationGate.gateWithGrams(qualityKept, eg, decontamGramK, decontamMaxShared)
        .filter(col("admitted"))
        .select(col("doc_id"), col("text"))
    }.getOrElse(qualityKept)
    // with a gram dir the novelty tier ACCRETES (r16): admitted docs
    // raise the standing grams against later batches; without one it
    // screens against the static standing set only (the r15 form)
    val noveltyVerdicts = noveltyStanding.map { sg =>
      noveltyGramDir match {
        case Some(gd) => NoveltyGate.processBatch(cleared, batchId, gd, sg, minNoveltyBp)
        case None     => NoveltyGate.gate(cleared, sg, minNoveltyBp)
      }
    }
    val gated = noveltyVerdicts
      .map(_.filter(col("admitted")).select(col("doc_id"), col("text")))
      .getOrElse(cleared)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gatedIn = gated.count()
      val landedCount = IngestDedup.processBatch(gated, batchId, destDir, digestDir)
      // chunk-store what actually LANDED: the written partition is the
      // replay-convergent truth (empty when every gated doc was a dup),
      // read back under the schema it was written with — no inference
      val stored =
        if (landedCount == 0L) 0L
        else {
          val landed = spark.read.schema(gated.schema).parquet(s"$destDir/batch=$batchId")
          ChunkStoreIngest.processBatch(
            landed, batchId, storeDir, manifestDir, k, divisor)._2
        }
      (gatedIn, landedCount, stored)
    } finally {
      gated.unpersist(false)
      // release the accreting gate's persisted verdict frame (its
      // documented caller-release contract)
      noveltyVerdicts.foreach(_.unpersist(false))
      ()
    }
  }

  /** Drain a doc stream (columns `doc_id`, `text`) through the full
    * gate→dedup→chunk-store pipeline with AvailableNow semantics.
    */
  def runCuratedIngest(
      docs: DataFrame,
      weights: IndexedSeq[Long],
      destDir: String,
      digestDir: String,
      storeDir: String,
      manifestDir: String,
      checkpoint: String,
      threshold: Long = 0L,
      k: Int = 8,
      divisor: Int = 64,
      noveltyStanding: Option[DataFrame] = None,
      minNoveltyBp: Long = 0L,
      noveltyGramDir: Option[String] = None,
      decontamEvalDir: Option[String] = None,
      decontamMaxShared: Long = 0L,
      decontamGramK: Int = 8
  ): Unit = {
    // the frozen suite is shingled ONCE, before the stream starts: the
    // committed asset is what every micro-batch joins against (r20)
    val decontamGrams = decontamEvalDir.map(d =>
      DecontaminationGate.evalGramsAsset(docs.sparkSession, d, decontamGramK))
    val q = docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, weights, threshold,
          destDir, digestDir, storeDir, manifestDir, k, divisor,
          noveltyStanding, minNoveltyBp, noveltyGramDir,
          decontamGrams, decontamMaxShared, decontamGramK); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
