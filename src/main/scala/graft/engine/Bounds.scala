package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.SubtaskSpec

/** Statistics-driven partition planner — the Spark-native replacement for
  * the reference's adaptive bound search (`subtasks.js:186-361`).
  *
  * The reference iterates up to 10 rounds of live 3-bucket range
  * aggregations against the source until bucket doc-counts are close
  * enough, then sizes a flush batch per bucket. Spark computes the same
  * equi-depth boundaries in ONE pass with `approxQuantile`
  * (Greenwald-Khanna, distributed) and one bucket-count aggregation; at
  * runtime AQE's skew handling supersedes the manual search entirely.
  */
object Bounds {

  /** 50 MB target payload per batch (`subtasks.js:267`). */
  val TargetBatchBytes: Double = 50.0 * 1000 * 1000

  /** Flush clamp bounds (`subtasks.js:15`, `subtask.js:30`). */
  val MaxFlushSize = 10000
  val MinFlushSize = 1

  /** flushSize = 50MB / (maxDocSize * shards), clamped to [1, 10000] —
    * the reference's formula, byte-denominated.
    */
  def flushSize(maxDocBytes: Double, shards: Int = 1): Int = {
    val raw =
      if (maxDocBytes <= 0) MaxFlushSize.toDouble
      else TargetBatchBytes / (maxDocBytes * shards)
    math.min(MaxFlushSize, math.max(MinFlushSize, raw.toInt))
  }

  /** Plan up to `buckets` equi-depth size ranges over `sizeCol` (bytes).
    *
    * One `approxQuantile` pass for the boundaries + one aggregation for
    * per-bucket counts and max sizes. Ranges are [min, max); the first
    * has `minSize = -Infinity` and owns null sizes, the last has
    * `maxSize = Double.MaxValue` and is open above — the reference's
    * unbounded top bucket. A quantile equal to either sentinel is not a
    * cut: its rows already belong to the first or last bucket, and
    * [[Transfer.sizeRangePred]] reads the sentinels as open ends.
    */
  def plan(
      df: DataFrame,
      table: String,
      sizeCol: String,
      buckets: Int = 3,
      shards: Int = 1,
      relErr: Double = 0.01
  ): Seq[SubtaskSpec] = {
    require(buckets >= 1, "buckets >= 1")
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val cuts =
      if (probs.isEmpty) Array.empty[Double]
      else df.stat.approxQuantile(sizeCol, probs, relErr)
        .filterNot(c => c.isNegInfinity || c == Double.MaxValue).distinct.sorted

    val lowers = Double.MinValue +: cuts.toSeq
    val uppers = cuts.toSeq :+ Double.MaxValue

    // single aggregation: count + max per bucket
    val explicitBucket = {
      var e = lit(0)
      cuts.zipWithIndex.foreach { case (cut, i) =>
        e = when(col(sizeCol) >= cut, lit(i + 1)).otherwise(e)
      }
      e
    }

    // one row per size bucket (cuts + 1)
    val stats = DriverBudget.collect("Bounds.bucketStats", cuts.length + 1L)(
        df
          .select(explicitBucket.as("__bucket"), col(sizeCol).cast("double").as("__size"))
          .groupBy("__bucket")
          .agg(count(lit(1)).as("cnt"), max(col("__size")).as("maxSize")))
      // a bucket of only null sizes has a null max (bucket 0 owns nulls
      // by the when-chain's otherwise): flush-size from 0.0, not an NPE
      .map(r => (r.getInt(0), (r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2))))
      .toMap

    lowers.indices.map { i =>
      val (cnt, maxSz) = stats.getOrElse(i, (0L, 0.0))
      SubtaskSpec(
        table = table,
        // bucket 0 is unbounded below and owns null sizes: the when-
        // chain's `otherwise` counts them here, as sizeRangePred reads them
        minSize = if (i == 0) Double.NegativeInfinity else lowers(i),
        maxSize = uppers(i),
        flushSize = flushSize(maxSz, shards),
        count = cnt
      )
    }
  }
}
