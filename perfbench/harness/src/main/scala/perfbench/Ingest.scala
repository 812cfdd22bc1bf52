package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.{ChunkStoreIngest, CuratedIngest, QualityGate}

/** Streaming curated ingest: an AvailableNow drain through
  * `CuratedIngest.runCuratedIngest` (quality gate → exact dedup → chunk
  * store) over the files `run.py` generated, one file per micro-batch.
  * Each batch reads the digest table and chunk manifest that earlier
  * batches of the same drain wrote. The untimed warm-up drains the
  * input's `warm/` files, every timed drain its `stream/` files.
  */
object Ingest {

  /** Timed drains per phase. */
  val MinDrains = 1

  private lazy val weights: IndexedSeq[Long] = graft.operators.TextAnalysis.classifierWeights()

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private final case class Drain(label: String, root: String, ops: Seq[Op], wallS: Double,
      batches: Seq[BatchProgress])

  private def drain(ctx: Ctx, src: String, listener: BatchListener, tracer: Tracer, label: String): Drain = {
    val root = ctx.dir(s"ingest/$label")
    val stream = ctx.spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    val t0 = System.nanoTime()
    val err =
      try {
        tracer.span("drain") {
          CuratedIngest.runCuratedIngest(stream, weights, s"$root/docs", s"$root/digests",
            s"$root/store", s"$root/manifest", s"$root/checkpoint")
        }
        ""
      } catch { case NonFatal(e) => e.toString }
    val wall = (System.nanoTime() - t0) / 1e9
    listener.awaitQuiet()
    val batches = listener.take()
    val drainSpan = tracer.last("drain")
    batches.foreach(b =>
      tracer.record("micro-batch", b.batchId, b.startMs, b.startMs + b.triggerMs, drainSpan))
    val ops =
      if (err.nonEmpty) Seq(Op("drain", label, wall, ok = false, 0L, err))
      else batches.map(b => Op("micro-batch", label, b.triggerMs / 1000.0, ok = true, b.inputRows))
    Drain(label, root, ops, wall, batches)
  }

  private def phase(ctx: Ctx, src: String, listener: BatchListener, tracer: Tracer,
      label: String): (Phase, Seq[Drain]) = {
    val drains = ArrayBuffer.empty[Drain]
    ctx.timedPasses(tracer, MinDrains) { p => drains += drain(ctx, src, listener, tracer, s"$label-$p") }
    (Phase(tracer.enabled, drains.map(_.wallS).sum, drains.flatMap(_.ops).toSeq), drains.toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val listener = new BatchListener
    spark.streams.addListener(listener)
    val src = s"${ctx.input}/stream"
    val w0 = System.nanoTime()
    drain(ctx, s"${ctx.input}/warm", listener, new Tracer(false), "warm")
    val warmupS = (System.nanoTime() - w0) / 1e9

    val (untraced, untracedDrains) = phase(ctx, src, listener, new Tracer(false), "timed")
    val heapMb = Gc.retainedMb
    val traced = if (ctx.trace) Some(ctx.traced { t => (phase(ctx, src, listener, t, "traced"), t) }) else None
    val after = if (ctx.trace) Some(phase(ctx, src, listener, new Tracer(false), "after")) else None
    val drains = untracedDrains ++ traced.toSeq.flatMap(_._1._2) ++ after.toSeq.flatMap(_._2)

    // the batch twin: quality gate, then the first copy of each text
    val all = spark.read.schema(schema).parquet(src)
    val inputDocs = all.count()
    val expected = QualityGate.gate(all, weights).filter(col("kept"))
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val checks = drains.filter(_.ops.forall(_.ok)).flatMap(d => check(spark, d, expected))
    val layers = traced.map { case ((_, ds), tracer) =>
      layerMetrics(ctx, tracer, ds, inputDocs) ++ Kernels.table(ctx, all, Kernels.ingest)
    }.getOrElse(Map.empty)
    Outcome(Map("warmup_s" -> warmupS),
      untraced +: (traced.map(_._1._1).toSeq ++ after.map(_._1)), heapMb, checks, layers,
      Map("ingest" -> Map("input_docs" -> inputDocs, "expected_landed" -> expected.size)) ++
        traced.map(t => "trace" -> t._2.dump))
  }

  private def check(spark: SparkSession, d: Drain, expected: Map[Long, String]): Seq[Map[String, Any]] = {
    def docs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val landed = docs(spark.read.parquet(s"${d.root}/docs"))
    val reassembled = docs(ChunkStoreIngest.reassemble(spark, s"${d.root}/store", s"${d.root}/manifest"))
    def result(name: String, ok: Boolean, detail: String) =
      Map("name" -> name, "group" -> d.label, "ok" -> ok, "detail" -> detail)
    Seq(
      result("no landed text repeats", landed.map(_._2).distinct.size == landed.size,
        s"${landed.size} landed, ${landed.map(_._2).distinct.size} distinct texts"),
      result("landed equals batch gate and dedup", landed.toMap == expected && landed.size == expected.size,
        s"${landed.size} landed, ${expected.size} expected"),
      result("reassembly is lossless", reassembled.toMap == landed.toMap && reassembled.size == landed.size,
        s"${reassembled.size} reassembled"))
  }

  private def layerMetrics(ctx: Ctx, tracer: Tracer, drains: Seq[Drain], inputDocs: Long): Map[String, Double] = {
    val c = ctx.counters
    val n = drains.size.toDouble
    val batchSpans = tracer.spans.filter(_.name == "micro-batch").toSeq
    val batches = drains.flatMap(_.batches)
    val nb = batches.size.max(1).toDouble
    val stages = c.stagesIn(batchSpans)
    val wall = batchSpans.map(_.dur).sum
    val landed = drains.map(d => ctx.spark.read.parquet(s"${d.root}/docs").count()).sum
    val chunks = drains.map(d => ctx.spark.read.parquet(s"${d.root}/store").count()).sum
    Map(
      "streaming.batches" -> batches.size / n,
      "streaming.jobs_per_batch" -> c.jobsIn(batchSpans) / nb,
      "streaming.add_batch_s" -> batches.map(_.addBatchMs).sum / 1e3 / n,
      "streaming.runner_s" -> batches.map(b => b.triggerMs - b.addBatchMs).sum / 1e3 / n,
      "streaming.keep_ratio" -> landed.toDouble / (inputDocs * n),
      "streaming.chunks_stored" -> chunks / n,
      "sink.rows_written" -> stages.map(_.recordsWritten).sum / n,
      "sink.bytes_written" -> stages.map(_.bytesWritten).sum / n,
      "sink.files_written" -> drains.map(d => FileTree.parquetFiles(d.root)).sum / n,
      "execute.s" -> wall / nb,
      "execute.jobs" -> c.jobsIn(batchSpans) / nb,
      "execute.tasks" -> stages.map(_.tasks).sum / nb,
      "execute.shuffle_bytes" -> stages.map(_.shuffleWrite).sum / nb,
      "execute.spill_bytes" -> stages.map(_.spill).sum / nb,
      "execute.gc_s" -> tracer.spans.filter(_.name == "drain").map(_.gcS).sum / nb,
      "execute.core_util" -> stages.map(_.runMs).sum / 1e3 / math.max(wall * ctx.cores, 1e-9))
  }
}
