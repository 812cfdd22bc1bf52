package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.Graft
import graft.model.{ActionRef, ObjectId, TaskSpec}
import graft.transform.{ExprMutators, StoredFilter}

/** The paper's reindexing dataflow: the seed-generated multi-file parquet
  * corpus of 8 indices (written by `run.py`) is planned (`Graft.addTask`: stored index filter,
  * 4 size buckets) and drained (`Graft.runTask`: scan → size slice →
  * three SQL mutators → parquet bulk sink), one subtask per operation.
  */
object Reindex {

  val Indices: Seq[String] = (0 until 6).map(i => f"docs-$i%02d") ++ Seq("tmp-00", "tmp-01")
  /** The stored index filter keeps these six and prunes the two `tmp-`. */
  val KeepPattern = "docs-.*"
  val Kept: Seq[String] = Indices.filter(_.matches(KeepPattern))
  val Buckets = 4
  /** Timed passes per phase; each holds 24 subtasks. */
  val MinPasses = 1
  /** Every index holds a multiple of 10 consecutive ids, so the 1-in-10
    * drop mutator keeps exactly 90%.
    */
  val ExpectedKeepRatio = 0.9

  /** The mutator SQL, handed to the DuckDB check in `run.py`. */
  val AssignPred = "size > 5000"
  val WithColumnExpr = "size / CAST(1024 AS DOUBLE)"
  val DropPred = "doc_id % 10 = 3"

  private final class Task(ctx: Ctx, src: String) {
    val graft = new Graft(ctx.spark)
    private val ns = "bench"
    private val filter = ObjectId(ns, "keepDocs")
    private val mutatorIds = Seq(ObjectId(ns, "tierLarge"), ObjectId(ns, "sizeKb"),
      ObjectId(ns, "dropTenth"))
    graft.filters.add(filter, StoredFilter(filter, StoredFilter.Index, KeepPattern))
    graft.mutators.add(mutatorIds(0), ExprMutators.assign(mutatorIds(0), AssignPred, "tier" -> "'large'"))
    graft.mutators.add(mutatorIds(1), ExprMutators.withColumn(mutatorIds(1), "size_kb", WithColumnExpr))
    graft.mutators.add(mutatorIds(2), ExprMutators.drop(mutatorIds(2), DropPred))

    val sizeCols: Map[String, String] = Indices.map(_ -> "size").toMap

    def spec(name: String, dest: String, indices: Seq[String] = Indices): TaskSpec =
      TaskSpec(name, src, dest, indices, indexFilters = Seq(ActionRef(filter)),
        mutators = mutatorIds.map(ActionRef(_)))
  }

  /** One pass: plan and drain a fresh task into a fresh output root. */
  private final case class PassResult(label: String, ops: Seq[Op], wallS: Double, planned: Long,
      written: Long, spec: TaskSpec)

  private def pass(ctx: Ctx, task: Task, tracer: Tracer, label: String,
      indices: Seq[String] = Indices): PassResult = {
    val dest = ctx.dir(s"out/$label")
    val spec = task.spec(s"reindex-$label", dest, indices)
    val ops = ArrayBuffer.empty[Op]
    var written = 0L
    val t0 = System.nanoTime()
    val backlog = tracer.span("addTask") { task.graft.addTask(spec, task.sizeCols, buckets = Buckets) }
    tracer.span("runTask") {
      var last = tracer.nowMs
      var transferred = 0L
      task.graft.runTask(spec.name,
        onProgress = (_, _, p) => transferred = p.transferred,
        onComplete = (_, sub) => {
          val now = tracer.nowMs
          tracer.record("subtask", ops.length.toLong, last, now)
          ops += Op(sub.table, label, (now - last) / 1000.0, ok = true, items = transferred)
          written += transferred
          last = now
        })
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // runTask records a failed subtask and moves on without a callback
    task.graft.errors.getErrors(spec.name).foreach { e =>
      ops += Op(e.subtask, label, 0.0, ok = false, 0L, e.message)
    }
    PassResult(label, ops.toSeq, wall, backlog.map(_.count).sum, written, spec)
  }

  private def phase(ctx: Ctx, task: Task, tracer: Tracer, label: String): (Phase, Seq[PassResult]) = {
    val passes = ArrayBuffer.empty[PassResult]
    ctx.timedPasses(tracer, MinPasses) { p => passes += pass(ctx, task, tracer, s"$label-$p") }
    (Phase(tracer.enabled, passes.map(_.wallS).sum, passes.flatMap(_.ops).toSeq), passes.toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val src = ctx.input
    val task = new Task(ctx, src)
    val w0 = System.nanoTime()
    // warm-up: the same code path over one kept and one pruned index
    pass(ctx, task, new Tracer(false), "warm", Seq(Kept.head, Indices.last))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val (untraced, untracedPasses) = phase(ctx, task, new Tracer(false), "timed")
    val heapMb = Gc.retainedMb
    val traced = if (ctx.trace) Some(ctx.traced { t => (phase(ctx, task, t, "traced"), t) }) else None
    val after = if (ctx.trace) Some(phase(ctx, task, new Tracer(false), "after")) else None

    // resume: re-adding a finished task must plan an empty backlog
    val all = untracedPasses ++ traced.toSeq.flatMap(_._1._2) ++ after.toSeq.flatMap(_._2)
    val last = all.last
    val r0 = System.nanoTime()
    val resumed = try task.graft.addTask(last.spec, task.sizeCols, buckets = Buckets).size
      catch { case NonFatal(_) => -1 }
    val resumeS = (System.nanoTime() - r0) / 1e9

    val planned = all.map(_.planned).sum
    val keep = all.map(_.written).sum.toDouble / math.max(planned, 1L)
    val checks = Seq(
      Map("name" -> "resume backlog empty", "group" -> last.label, "ok" -> (resumed == 0),
        "detail" -> s"re-added task planned $resumed subtasks"),
      Map("name" -> "transform keep ratio", "group" -> "", "ok" -> (math.abs(keep - ExpectedKeepRatio) < 1e-9),
        "detail" -> s"rows written / rows read = $keep, generator fixes $ExpectedKeepRatio"))
    val layers = traced.map { case ((_, passes), tracer) =>
      layerMetrics(ctx, tracer, passes, src) + ("planner.resume_s" -> resumeS)
    }.getOrElse(Map.empty)
    Outcome(
      Map("warmup_s" -> warmupS),
      untraced +: (traced.map(_._1._1).toSeq ++ after.map(_._1)), heapMb, checks, layers,
      Map("reindex" -> Map(
        "source" -> src, "kept" -> Kept,
        "assign_pred" -> AssignPred, "with_column" -> WithColumnExpr, "drop_pred" -> DropPred,
        "outputs" -> all.map(p => Map("group" -> p.label, "dir" -> p.spec.destDir)))) ++
        traced.map(t => "trace" -> t._2.dump))
  }

  private def layerMetrics(ctx: Ctx, tracer: Tracer, passes: Seq[PassResult], src: String): Map[String, Double] = {
    val c = ctx.counters
    val n = passes.size.toDouble
    def named(s: String) = tracer.spans.filter(_.name == s).toSeq
    val add = named("addTask")
    val subs = named("subtask")
    val nSubs = subs.size.max(1).toDouble
    val subStages = c.stagesIn(subs)
    val subWall = subs.map(_.dur).sum
    // the files each subtask's scan was handed, from its write's plan
    val scans = passes.flatMap(p => c.scans.under(p.spec.destDir))
    val bytesRead = scans.map(_.bytes).sum / n
    val sourceBytes = Kept.map(t => FileTree.bytes(s"$src/$t")).sum
    val outFiles = passes.map(p => FileTree.parquetFiles(p.spec.destDir)).sum / n
    Map(
      "planner.s" -> add.map(_.dur).sum / n,
      "planner.jobs" -> c.jobsIn(add) / n,
      "planner.subtasks" -> subs.size / n,
      "sources.bytes_read" -> bytesRead,
      "sources.files_read" -> scans.map(_.files).sum / n,
      "sources.read_amplification" -> bytesRead / math.max(sourceBytes, 1L),
      "transform.keep_ratio" -> passes.map(_.written).sum.toDouble / math.max(passes.map(_.planned).sum, 1L),
      "transfer.s" -> subWall / nSubs,
      "transfer.jobs_per_subtask" -> c.jobsIn(subs) / nSubs,
      "sink.rows_written" -> subStages.map(_.recordsWritten).sum / n,
      "sink.bytes_written" -> subStages.map(_.bytesWritten).sum / n,
      "sink.files_written" -> outFiles,
      "execute.s" -> subWall / nSubs,
      "execute.jobs" -> c.jobsIn(subs) / nSubs,
      "execute.tasks" -> subStages.map(_.tasks).sum / nSubs,
      "execute.shuffle_bytes" -> subStages.map(_.shuffleWrite).sum / nSubs,
      "execute.spill_bytes" -> subStages.map(_.spill).sum / nSubs,
      "execute.gc_s" -> named("runTask").map(_.gcS).sum / nSubs,
      "execute.core_util" -> subStages.map(_.runMs).sum / 1e3 / math.max(subWall * ctx.cores, 1e-9))
  }
}

/** Local file-tree sizes for the source and sink metrics. */
object FileTree {
  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      } finally s.close()
    }
  }

  private def isData(p: java.nio.file.Path) = p.getFileName.toString.endsWith(".parquet")

  def bytes(dir: String): Long = walk(dir).filter(isData).map(java.nio.file.Files.size).sum

  def parquetFiles(dir: String): Long = walk(dir).count(isData).toLong
}
