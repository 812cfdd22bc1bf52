package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EVAL-DECONTAMINATION GATE — the contamination audit applied at
  * INGEST: each micro-batch document is screened against a frozen eval
  * suite's `gramK`-grams and admitted only when it shares at most
  * `maxSharedGrams` of them. The post-hoc audits (`contamination` /
  * `contamination_eval` / `semantic_contamination_eval`) report leakage
  * already in the corpus; this gate is decontaminate-at-the-door, the
  * lexical sibling of [[SemanticIngest]]'s paraphrase tier.
  *
  * The verdict core is [[graft.operators.TextAnalysis.contamination]] —
  * the SAME expression tree as the batch audit (eval grams broadcast, the
  * batch side one narrow stage + a gram-keyed join + doc rollup) — so
  * stream-vs-batch parity is structural (StreamingSpec pins it). The
  * per-doc rollup is a batch-side aggregation, so the gate runs inside a
  * micro-batch, as a [[Gate]] of [[CuratedIngest]]'s chain.
  *
  * The eval side is FROZEN, so its one shingling pass is paid once per
  * suite, not once per micro-batch: [[evalGramsAsset]] publishes the
  * `(eval_id, g)` frame as a small durable asset keyed by the eval dir's
  * content fingerprint, and building the gate resolves it, before the
  * stream starts — a multi-batch run, a restart or a second pipeline on
  * the same suite reads the committed parquet back.
  *
  * Gate policy for docs with NO shingles (null text / < gramK tokens):
  * ADMITTED — they can share no eval gram, and the quality/profile tiers
  * own the short-doc verdict ([[NoveltyGate]]'s pass-through contract).
  */
final class DecontaminationGate(spark: SparkSession, evalDir: String,
    maxSharedGrams: Long = 0L, gramK: Int = 8) extends Gate {

  private val evalGrams = DecontaminationGate.evalGramsAsset(spark, evalDir, gramK)

  def apply(rows: DataFrame, batchId: Long): DataFrame =
    Gate.admitted(DecontaminationGate.gateWithGrams(rows, evalGrams, gramK, maxSharedGrams))
}

object DecontaminationGate {

  /** Eval-gram asset builds — spec seam proving the once-per-suite
    * contract (a second batch, run, or restart must not add one).
    */
  private[graft] val evalGramBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Resolve (publish if absent) the eval suite's gram frame as a durable
    * asset: `(eval_id, g)` rows from `evalDir`'s `documents.parquet`,
    * content-addressed by the eval dir's fingerprint — a changed suite
    * gets a fresh address, a frozen one is shingled exactly once across
    * batches, runs and processes. Eval suites are audit-sized, so the
    * asset is a few small files and a per-batch read of it is cheap.
    */
  def evalGramsAsset(spark: SparkSession, evalDir: String, gramK: Int = 8): DataFrame = {
    val fp = graft.engine.AssetStore.corpusFingerprint(spark, evalDir, "documents.parquet")
    val assetId = s"decongrams_k${gramK}_v${graft.engine.AssetStore.FormatVersion}_$fp"
    val path = graft.engine.AssetStore.resolve(spark, assetId,
      staging => {
        evalGramBuilds.incrementAndGet()
        graft.operators.TextAnalysis.contaminationEvalGrams(
            graft.Tables.documents(spark, evalDir).select(col("doc_id"), col("text")), gramK)
          .coalesce(1)
          .write.mode("overwrite").parquet(staging)
      })
    spark.read.parquet(path)
  }

  /** Verdict frame: the batch's columns plus `n_eval_docs`,
    * `shared_grams` (0 for clean or shingle-less docs) and `admitted`.
    * `evalDocs` needs columns `doc_id` (its own namespace) and `text`; the
    * eval side is shingled here — screening many batches against one
    * frozen suite goes through the gate, which derives the grams once.
    */
  def gate(batch: DataFrame, evalDocs: DataFrame, gramK: Int = 8,
      maxSharedGrams: Long = 0L): DataFrame =
    gateWithGrams(batch,
      graft.operators.TextAnalysis.contaminationEvalGrams(evalDocs, gramK),
      gramK, maxSharedGrams)

  /** [[gate]] against a pre-derived `(eval_id, g)` frame: the eval side is
    * a committed-asset read, the batch side the same expression tree as
    * the audit.
    */
  def gateWithGrams(batch: DataFrame, evalGrams: DataFrame, gramK: Int = 8,
      maxSharedGrams: Long = 0L): DataFrame = {
    val hits = graft.operators.TextAnalysis.contaminationGrams(
        batch.select(col("doc_id"), col("text")), evalGrams, gramK)
      .select(col("doc_id"), col("n_eval_docs"), col("shared_grams"))
    batch.join(hits, Seq("doc_id"), "left")
      .withColumn("n_eval_docs", coalesce(col("n_eval_docs"), lit(0L)))
      .withColumn("shared_grams", coalesce(col("shared_grams"), lit(0L)))
      .withColumn("admitted", col("shared_grams") <= maxSharedGrams)
  }
}
