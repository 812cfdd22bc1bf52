package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** NOVELTY ADMISSION GATE — the streaming tier of
  * `text_novelty_incremental`: each micro-batch document's k-shingles are
  * screened against a STANDING gram set and the doc is admitted only when
  * its novelty (fraction of shingles the standing corpus has never seen,
  * in basis points) clears a threshold — the admission-control rule a
  * continuously-growing corpus applies before paying storage and dedup
  * cost for material it already has.
  *
  * The verdict expression tree is
  * [[graft.operators.TextAnalysis.noveltyAgainst]] — the SAME core the
  * batch query runs — so stream-vs-batch parity is structural
  * (StreamingSpec pins it). At deployment the standing set is the
  * materialized gram-stats asset ([[graft.operators.Dedup.corpusGramDf]],
  * column `g`): a skinny asset scan on the build side of one membership
  * join per batch; nothing here re-shingles the standing corpus.
  *
  * Gate policy for docs with NO shingles (null text / < k tokens):
  * ADMITTED. The tier gates on redundancy EVIDENCE; a doc too short to
  * produce a shingle offers none, and the quality/profile gates own the
  * too-short verdict. This pass-through is part of the contract
  * (spec-pinned).
  *
  * Two [[Gate]] forms: [[Static]] screens every batch against a fixed
  * standing set; [[Accreting]] also raises that set with each batch's
  * admissions.
  */
object NoveltyGate {

  /** Shingle width of the ingest gates: token 3-grams, the width of the
    * standing gram-stats asset.
    */
  private val K = 3

  /** Columns of the accreted gram table, one `batch=<id>` leaf per batch. */
  private[graft] val GramSchema: StructType = StructType.fromDDL("g STRING")

  /** Verdict frame: the batch's columns plus `n_grams`, `n_novel`,
    * `novelty_bp` (null for shingle-less docs) and `admitted`.
    * `standingGrams` needs one column `g`; extra columns (the gram asset
    * also carries `__df`/`first_doc`) are pruned here.
    */
  def gate(batch: DataFrame, standingGrams: DataFrame,
           minNoveltyBp: Long, k: Int = K): DataFrame = {
    val nov = graft.operators.TextAnalysis.noveltyAgainst(
      batch.select(col("doc_id"), col("text")), standingGrams, k)
    batch.join(nov, Seq("doc_id"), "left")
      .withColumn("admitted",
        coalesce(col("novelty_bp") >= minNoveltyBp, lit(true)))
  }

  /** Admits the docs [[gate]] admits against a fixed standing set. */
  final class Static(standingGrams: DataFrame, minNoveltyBp: Long = 0L) extends Gate {
    def apply(rows: DataFrame, batchId: Long): DataFrame =
      Gate.admitted(gate(rows, standingGrams, minNoveltyBp))
  }

  /** Admits against `corpusGrams` UNION every prior batch's accreted
    * grams, then writes the admitted docs' NOVEL grams (left-anti the
    * effective standing set, distinct within the batch) to
    * `gramDir/batch=<id>`: docs admitted in batch N raise the standing
    * set against batch N+1, so a stream of mutually-redundant "novel"
    * docs does not all pass the tier.
    *
    * Accreting only the novel grams keeps the partitions mutually
    * disjoint and disjoint from the corpus asset, so the union is
    * duplicate-free without a per-batch distinct — the membership join
    * in [[graft.operators.TextAnalysis.noveltyAgainst]] requires a
    * distinct standing side (a duplicate gram would inflate `n_grams`).
    *
    * Within a batch, docs are screened against the standing set only
    * (batch-atomic admission, the `text_novelty_incremental` semantics):
    * admitted material raises grams for later batches, not batchmates.
    * The write overwrites the batch's own partition and the standing read
    * excludes it ([[PrefixProbe]]), so a crash-replay converges.
    *
    * The admitted rows are computed once and returned cached: the gram
    * write materializes them and the next stage reads them back. The
    * chain runner releases them at the end of the batch ([[Gate]]).
    */
  final class Accreting(gramDir: String, corpusGrams: DataFrame, minNoveltyBp: Long = 0L)
      extends Gate {

    private[graft] def standing(spark: SparkSession, batchId: Long): DataFrame =
      corpusGrams.select(col("g"))
        .unionByName(PrefixProbe.scan(spark, gramDir, GramSchema, batchId))

    def apply(rows: DataFrame, batchId: Long): DataFrame = {
      val standingGrams = standing(rows.sparkSession, batchId)
      val admitted = Gate.admitted(gate(rows, standingGrams, minNoveltyBp))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      admitted
        .select(explode(graft.functions.sketch.tokenShingles(col("text"), K)).as("g"))
        .distinct()
        .join(standingGrams, Seq("g"), "left_anti")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$gramDir/batch=$batchId")
      admitted
    }
  }

  /** One accreting batch seen as its full verdict frame (every row, with
    * `novelty_bp` and `admitted`): runs [[Accreting]] on the batch, so its
    * grams accrete, then re-derives the verdicts against the same
    * self-excluding standing set. Exposed for the spec; the caller
    * releases the gate's cached rows (`clearCache`).
    */
  private[graft] def processBatch(
      batch: DataFrame,
      batchId: Long,
      gramDir: String,
      corpusGrams: DataFrame,
      minNoveltyBp: Long
  ): DataFrame = {
    val accreting = new Accreting(gramDir, corpusGrams, minNoveltyBp)
    accreting(batch, batchId)
    gate(batch, accreting.standing(batch.sparkSession, batchId), minNoveltyBp)
  }
}
