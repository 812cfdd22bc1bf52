package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One stage of [[CuratedIngest]]'s ordered admission chain: takes a
  * micro-batch's `(doc_id, text)` rows and its batch id, and returns the
  * rows it admits, in the same two columns. A gate may drop rows, never
  * add or rewrite them, so gates compose by folding in order.
  *
  * A gate may cache the frame it returns (the accreting
  * [[NoveltyGate.Accreting]] does, so its one verdict join serves both its
  * own write and the next stage); the chain runner unpersists every
  * gate's result when the batch ends.
  */
trait Gate {
  def apply(rows: DataFrame, batchId: Long): DataFrame
}

object Gate {

  /** The admitted `(doc_id, text)` rows of a verdict frame. */
  private[streaming] def admitted(verdicts: DataFrame, flag: String = "admitted"): DataFrame =
    verdicts.filter(col(flag)).select(col("doc_id"), col("text"))
}
