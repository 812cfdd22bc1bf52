package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.functions.{sketch, text}

/** The kernel table: rows per second of each `graft.functions` kernel a
  * workload calls, evaluated over the text column that workload feeds it,
  * with code generation on and off.
  */
object Kernels {

  private def bowScore = sketch.bowScore(col("text"), graft.operators.TextAnalysis.classifierWeights())

  /** query -> the kernel it calls, as the query writes it. */
  private val byQuery: Seq[(String, (String, Column))] = Seq(
    "text_winnow" -> ("winnow" -> sketch.winnow(col("text"), k = 8, w = 4)),
    "text_entropy" -> ("char_entropy_q" -> sketch.charEntropyQ(col("text"))),
    "doc_repetition" -> ("token_max_freq" -> sketch.tokenMaxFreq(text.tokens(col("text")))),
    "text_classifier" -> ("bow_score" -> bowScore),
    "text_tokens" -> ("token_count" -> sketch.tokenCount(col("text"))))

  /** The kernels the queries `names` call. */
  def of(names: Seq[String]): Seq[(String, Column)] = byQuery.filter(q => names.contains(q._1)).map(_._2)

  /** The quality gate's and the chunk store's kernels, as ingest calls them. */
  def ingest: Seq[(String, Column)] = Seq(
    "bow_score" -> bowScore,
    "cdc_chunks" -> sketch.cdcChunks(col("text"), 8, 64))

  /** Input rows per evaluation: the text column is repeated up to this
    * size, so job start-up does not dominate one evaluation.
    */
  val Rows = 100000L

  /** Best-of-three rows/s of `expr` over the cached input, after one
    * warm-up evaluation.
    */
  private def rowsPerS(input: DataFrame, rows: Long, expr: Column): Double = {
    val projected = input.select(expr.as("k"))
    def once(): Unit = projected.write.format("noop").mode("overwrite").save()
    once()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      once()
      rows / ((System.nanoTime() - t0) / 1e9)
    }.max
  }

  def table(ctx: Ctx, texts: DataFrame, kernels: Seq[(String, Column)]): Map[String, Double] = {
    if (kernels.isEmpty) return Map.empty
    val spark = ctx.spark
    val copies = math.max(1L, Rows / math.max(texts.count(), 1L))
    val input = texts.select(col("text"))
      .crossJoin(spark.range(copies).select(col("id").as("copy"))).select(col("text"))
      .repartition(ctx.cores)
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = input.count()
    try {
      val compiled = kernels.map { case (n, e) => s"kernel.$n.rows_per_s" -> rowsPerS(input, rows, e) }
      val interpreted = withInterpretation(ctx) {
        kernels.map { case (n, e) => s"kernel.$n.interp_rows_per_s" -> rowsPerS(input, rows, e) }
      }
      (compiled ++ interpreted).toMap
    } finally { input.unpersist(true); () }
  }

  /** Whole-stage codegen off and expressions evaluated by their
    * interpreted `eval` path.
    */
  private def withInterpretation[T](ctx: Ctx)(body: => T): T = {
    val conf = ctx.spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
