package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.engine._
import graft.model._
import graft.sources.{DocConnector, ParquetConnector}
import graft.transform._

/** The embedding facade — what `Chillastic(redis, port).run()` is to the
  * reference (`index.js:7-41`), minus the Redis control plane that
  * Spark's driver/executor model replaces (the HTTP surface lives in
  * [[graft.api.HttpApi]]).
  *
  * Task lifecycle (SURVEY §3):
  *   - [[addTask]] = POST /tasks/:id — validate (referenced transforms
  *     must exist, `tasks.js:79-80`), plan subtasks with
  *     [[graft.engine.Planner.expand]] (or reuse the recorded plan when
  *     the source is unchanged), build the backlog minus
  *     already-completed work (resume, `subtasks.js:369-396`).
  *   - [[runTask]] = the workers — a bounded set of concurrent workers
  *     drains the backlog, each subtask one
  *     [[graft.engine.Transfer.transferSubtask]] over its table's planned
  *     frame; completion/errors/progress are recorded, failures do not
  *     stop the others (`worker.js:106-111`), and no subtask starts
  *     after the run flag drops (`manager.js:111-118`). This is the one
  *     route by which a reindex moves data.
  *   - [[status]] = GET /tasks/:id — `{total, completed, backlog,
  *     percentComplete}` (`tasks.controller.js:14-27`).
  *   - [[progress]] = the per-subtask `{tick, transferred, total,
  *     worker, lastModified}` records (`app/models/progress.js:6-32`).
  *   - [[start]]/[[stop]] = POST /_start, /_stop — the global run flag;
  *     stop also cancels the task's Spark job group, so every in-flight
  *     subtask is interrupted, not just the backlog left queued.
  *   - [[removeTask]] = DELETE /tasks/:id — drops the task and its
  *     namespaced transforms (`tasks.js:89-97`).
  *
  * `connectors` maps a task spec to its (source, sink) connector pair;
  * the default dispatches on the spec's roots ([[Graft.parquetConnectors]]),
  * and tests plug an in-memory mock (the worker-E2E seam).
  */
final class Graft(
    val spark: SparkSession,
    connectors: TaskSpec => (DocConnector, DocConnector) = Graft.parquetConnectors
) {

  val mutators = new TransformRegistry[ColumnMutator]
  val filters  = new TransformRegistry[StoredFilter]
  val errors   = new ErrorLog

  /** What a plan was made from: equal keys whose fingerprints are all
    * present mean the recorded plan still describes the source.
    */
  private final case class PlanKey(
      spec: TaskSpec,
      sizeCols: Map[String, String],
      buckets: Int,
      kept: Seq[String],
      fingerprints: Seq[Option[String]]
  )

  private final case class TaskState(
      pipeline: Transfer.Pipeline,
      planKey: PlanKey,
      plan: Planner.Plan,
      sink: DocConnector,
      var backlog: Seq[SubtaskSpec],
      var completed: Set[String],
      progress: TrieMap[String, Progress],
      typeFilters: Seq[MetadataFilters.TypePred] = Seq.empty
  )

  private val tasks = new java.util.concurrent.ConcurrentHashMap[String, TaskState]()

  // the reference's global run flag (`manager.js:111-118`): workers only
  // pick up subtasks while set; dropping it stops BETWEEN subtasks, and
  // cancelJobGroup interrupts those in flight
  private val runFlag = new AtomicBoolean(true)
  private val activeGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  final case class TaskStatus(
      total: Long,
      completed: Long,
      backlog: Long,
      percentComplete: Double
  )

  def isRunning: Boolean = runFlag.get

  private def groupFor(name: String): String = s"graft-task-$name"

  /** Whether a drain of this task is in flight (its job group is live). */
  def isTaskRunning(name: String): Boolean = activeGroups.contains(groupFor(name))

  /** POST /_start — allow [[runTask]] to consume backlogs again. */
  def start(): Unit = runFlag.set(true)

  /** POST /_stop — stop consuming backlogs and cancel every in-flight
    * task's Spark job group (interrupt-on-cancel). Unfinished subtasks
    * stay in the backlog, so a later [[start]]+[[runTask]] resumes
    * exactly where the stop landed.
    */
  def stop(): Unit = {
    runFlag.set(false)
    activeGroups.forEach(g => spark.sparkContext.cancelJobGroup(g))
  }

  /** Submit a task and return its backlog: existence pre-check of
    * referenced mutators AND filters (`tasks.js:79-80` checks both
    * stores), subtask planning over the task's source connector, and a
    * resume-aware backlog. Re-adding an existing task subtracts completed
    * subtasks — the reference's resume — except those of a kept table
    * whose fingerprint was recorded and has changed: its subtasks rerun,
    * each overwriting its own slice. When a re-plan writing to the same
    * `destDir` no longer plans a slice a kept table's prior plan wrote,
    * that slice is dropped from the sink. It reuses the recorded plan,
    * running no Spark job, when the spec, `sizeCols`, `buckets`, the
    * kept-table list and every kept table's
    * [[graft.sources.DocConnector.fingerprint]] are unchanged; otherwise
    * (or when the source has no fingerprint) it re-plans. Refuses a task
    * whose drain is in flight.
    *
    * Index-kind stored filters referenced by `spec.indexFilters` prune
    * the table list at plan time, OR-combined with any programmatic
    * `indexFilters` — multiple filters widen, never narrow
    * (`subtasks.js:164`). Type-kind stored filters are kept for
    * [[transferTaskMetadata]].
    */
  def addTask(
      spec: TaskSpec,
      sizeCols: Map[String, String] = Map.empty,
      indexFilters: Seq[MetadataFilters.IndexPred] = Seq.empty,
      buckets: Int = 3
  ): Seq[SubtaskSpec] = {
    // a drain in flight would keep recording completions into the
    // replaced state while the new one re-queues work already done
    if (isTaskRunning(spec.name))
      throw new IllegalStateException(
        s"task '${spec.name}' has a run in flight; stop it before re-adding")
    // semantic validation: every referenced transform must be registered
    val pipelineMutators = spec.mutators.map(ref => mutators.require(ref.id))
    val storedFilters = spec.indexFilters.map(ref => filters.require(ref.id))
    val pipeline = Transfer.Pipeline(columnMutators = pipelineMutators)
    val (source, sink) = connectors(spec)

    val allIndexPreds = indexFilters ++
      storedFilters.filter(_.kind == StoredFilter.Index).map(_.indexPred)
    val typePreds = storedFilters.filter(_.kind == StoredFilter.Type).map(_.typePred)
    // listed before planning: a file landing mid-plan changes the next key
    val kept = Planner.keptTables(spec, allIndexPreds)
    val key = PlanKey(spec, sizeCols, buckets, kept, kept.map(source.fingerprint))
    val priorState = Option(tasks.get(spec.name))
    val plan = priorState
      .filter(p => p.planKey == key && key.fingerprints.forall(_.isDefined)).map(_.plan)
      .getOrElse(Planner.expand(spark, spec, source, sizeCols, allIndexPreds, buckets))
    // a kept table whose recorded fingerprint differs from its new one
    // changed contents: its completed ids no longer cover its rows, so
    // its subtasks rerun and overwrite their own slices
    val stale = priorState.toSeq.flatMap { p =>
      val before = p.planKey.kept.zip(p.planKey.fingerprints).toMap
      val changed = kept.zip(key.fingerprints).collect {
        case (t, Some(fp)) if before.get(t).flatten.exists(_ != fp) => t
      }.toSet
      p.plan.subtasks.filter(st => changed(st.table)).map(_.subtaskId)
    }
    val prior = priorState.map(_.completed).getOrElse(Set.empty[String]) -- stale
    // a re-plan that moves a kept table's cuts (new rows, `buckets` or
    // `sizeCols`) renames its slices: drop each slice of the prior plan
    // the new one does not write, or readers of the table see its rows
    // twice. A reused plan writes every prior slice, so drops nothing.
    def slice(st: SubtaskSpec) = s"${st.table}/${Transfer.subtaskDirName(st)}"
    priorState.filter(_.planKey.spec.destDir == spec.destDir).foreach { p =>
      val planned = plan.subtasks.map(slice).toSet
      p.plan.subtasks.filter(st => kept.contains(st.table)).map(slice)
        .filterNot(planned).foreach(sink.drop)
    }
    val backlog = Planner.buildBacklog(plan.subtasks, prior)
    val priorProgress = priorState.map(_.progress).getOrElse(TrieMap.empty[String, Progress])
    tasks.put(spec.name,
      TaskState(pipeline, key, plan, sink, backlog, prior, priorProgress, typePreds))
    backlog
  }

  /** Run a task's METADATA transfer (K3/K4): index configs and templates
    * flow source→dest through the task's index/template mutators, and the
    * task's TYPE-kind stored filters prune mapping types (F2 — the
    * reference applies them at type expansion, `subtasks.js:165`; data
    * subtasks have no type axis, so this mapping-key prune is where a
    * stored type filter acts).
    */
  def transferTaskMetadata(
      name: String,
      source: Catalog,
      dest: Catalog,
      indexPattern: String = "*",
      templatePattern: String = "*",
      tolerateMissingTemplates: Boolean = false
  ): (Seq[IndexConfig], Seq[Template]) = {
    val st = Option(tasks.get(name))
      .getOrElse(throw new NoSuchElementException(s"no such task: $name"))
    Transfer.transferMetadata(
      source, dest, st.pipeline, indexPattern, templatePattern,
      tolerateMissingTemplates, st.typeFilters)
  }

  /** Drain the backlog with a bounded set of concurrent workers —
    * `min(backlog, defaultParallelism, availableProcessors)`, started for
    * this call and joined before it returns — and return what each
    * successful subtask wrote, in backlog order, with `outputPath`
    * resolved to the sink's location when it has one. Each subtask is
    * one [[graft.engine.Transfer.transferSubtask]] over its table's
    * planned frame, inside the task's Spark job group (interrupt on
    * cancel).
    *
    *   - Callbacks: `onProgress` (one [[graft.model.Progress]] record,
    *     `progress.js:6-32`; a slice is one bulk, so tick == transferred)
    *     and then `onComplete` run back to back under one lock, never
    *     interleaved with another subtask's callbacks. They are the
    *     worker callbacks of `worker.spec.js:92-104`
    *     (updateCallback/completedCallback).
    *   - Failures: a failed subtask is recorded in [[errors]] (P8) and
    *     stays in the backlog; the others still run
    *     (`worker.js:106-111`). Only non-fatal errors are caught; a
    *     fatal one propagates out of this call.
    *   - Stop: no subtask starts after the run flag drops. [[stop]]
    *     cancels the job group, so every in-flight subtask fails, is
    *     recorded in [[errors]] and stays queued; one whose write
    *     returns after the flag dropped is recorded there too, not
    *     complete, and the next run rewrites its slice.
    *
    * Refuses to start while the manager is stopped or the task is
    * already draining.
    */
  def runTask(
      name: String,
      worker: String = "driver",
      onProgress: (String, SubtaskSpec, Progress) => Unit = (_, _, _) => (),
      onComplete: (String, SubtaskSpec) => Unit = (_, _) => ()
  ): Seq[Transfer.SubtaskResult] = {
    val st = Option(tasks.get(name))
      .getOrElse(throw new NoSuchElementException(s"no such task: $name"))
    // a stopped manager would skip every subtask and report a false
    // "done, 0 transferred" (409 over HTTP)
    if (!runFlag.get)
      throw new IllegalStateException("manager is stopped; POST /_start before running")
    val group = groupFor(name)
    if (!activeGroups.add(group))
      throw new IllegalStateException(s"task '$name' is already running")
    try {
      val queue = st.synchronized(st.backlog)
      val callbacks = new Object
      val results = Workers.map(queue, Workers.count(spark, queue.size), group) { sub =>
        spark.sparkContext.setJobGroup(group, s"graft task $name", interruptOnCancel = true)
        if (!runFlag.get) None
        else
          try {
            val r = Transfer.transferSubtask(
              st.plan.scans(sub.table), st.sink, sub, st.planKey.sizeCols.get(sub.table), st.pipeline)
            val p = Progress(tick = r.rowsWritten, transferred = r.rowsWritten, total = sub.count,
              worker = worker, lastModified = java.time.Instant.now())
            val recorded = callbacks.synchronized {
              runFlag.get && {
                st.progress.put(sub.subtaskId, p)
                onProgress(name, sub, p)
                // synchronized: completed/backlog are read from HTTP
                // threads (status) while the workers write them
                st.synchronized { st.completed += sub.subtaskId }
                onComplete(name, sub)
                true
              }
            }
            if (recorded) Some(st.sink.location(r.outputPath).fold(r)(loc => r.copy(outputPath = loc)))
            else {
              errors.record(name, sub.subtaskId,
                "run stopped before the subtask was recorded complete; it stays in the backlog")
              None
            }
          } catch {
            case NonFatal(e) =>
              errors.record(name, sub.subtaskId, e.toString)
              None
          }
      }
      st.synchronized {
        st.backlog = st.backlog.filterNot(s => st.completed.contains(s.subtaskId))
      }
      results.flatten
    } finally activeGroups.remove(group)
  }

  /** The GET /tasks/:id payload shape. */
  def status(name: String): TaskStatus = {
    val st = Option(tasks.get(name))
      .getOrElse(throw new NoSuchElementException(s"no such task: $name"))
    val (completedSnap, backlogSnap) = st.synchronized((st.completed, st.backlog))
    val total = (completedSnap.size + backlogSnap.count(s => !completedSnap.contains(s.subtaskId))).toLong
    val done = completedSnap.size.toLong
    TaskStatus(
      total = total,
      completed = done,
      backlog = total - done,
      percentComplete = if (total == 0) 100.0 else 100.0 * done / total
    )
  }

  /** Per-subtask progress records, keyed by subtask id. */
  def progress(name: String): Map[String, Progress] = {
    val st = Option(tasks.get(name))
      .getOrElse(throw new NoSuchElementException(s"no such task: $name"))
    st.progress.toMap
  }

  def listTasks: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tasks.keySet().asScala.toSeq.sorted
  }

  /** POST /maintenance/assets_gc — sweep the content-addressed asset
    * warehouse ([[graft.engine.AssetStore.gcStale]]) of assets whose
    * corpus was rebuilt, torn staging dirs past the grace window, and
    * (opt-in) older-format assets. `corpora` anchors the LIVE
    * fingerprints: every (dir, table) pair a deployment still queries
    * must be listed, or its current assets are treated as orphaned.
    * `dryRun` previews the delete set without touching disk — the safe
    * default for an operator poking a 100 TB warehouse; the HTTP route
    * makes the sweep reachable without a Scala REPL.
    */
  def gcAssets(
      corpora: Seq[(String, String)],
      graceMs: Long = 60L * 60 * 1000,
      sweepOlderFormats: Boolean = false,
      dryRun: Boolean = true
  ): Seq[String] = {
    val removed =
      graft.engine.AssetStore.gcStale(spark, corpora, graceMs, sweepOlderFormats, dryRun)
    // a real sweep may delete paths the in-JVM handle maps still point
    // at, and it marks a generation boundary anyway — drop every driver
    // handle cache; the next consumer re-resolves from disk
    // (metadata-only) and the append-proof memo re-proves on demand
    if (!dryRun) Graft.dropDriverHandleCaches()
    removed
  }

  /** POST /maintenance/assets_increment — the append workflow's ONE
    * call, made ops-reachable: after a batch lands under `dir` (a pure
    * append of `oldDir`), publish the requested durable
    * asset families at `dir`'s content addresses
    * (default: all of [[Graft.DefaultIncrementFamilies]]):
    *   - `knn_edges`: copy-forward partition publish; co-publishes the
    *     band asset;
    *   - `bands`: standalone copy-forward;
    *   - `gram_stats`, `minhash_sigs`, `simhash_sigs`, `cdc_digests`:
    *     the cold build at `dir` (measured no slower than an increment
    *     at every size run, SCALING.md); an asset already committed
    *     loads with zero builds;
    *   - `minhash_pairs`: pair-graph increment over `dir`'s signature
    *     asset;
    *   - `tristats`: the edge increment, then one wedge join over it;
    *   - `ngram_index`: order-pinned index increment, plus its
    *     order-staleness rows.
    * Each increment carries its own pure-append precondition (or
    * inherits its upstream's) and falls back to the full rebuild on a
    * removed/edited row, so the call is safe to run unconditionally
    * after every append. Returns rows per published family — the
    * smoke number an orchestration step logs.
    */
  def incrementAssets(oldDir: String, dir: String,
      families: Seq[String] = Graft.DefaultIncrementFamilies): Map[String, Long] =
    families.flatMap {
      case "knn_edges" =>
        Seq("knn_edges" -> graft.operators.Similarity.corpusKnnEdgesIncrement(spark, oldDir, dir).count())
      case "bands" =>
        Seq("bands" -> graft.operators.Similarity.corpusBandedEmbeddingsIncrement(spark, oldDir, dir).count())
      case "gram_stats" =>
        Seq("gram_stats" -> graft.operators.Dedup.corpusGramDf(spark, dir).count())
      case "minhash_sigs" =>
        Seq("minhash_sigs" -> graft.operators.Dedup.corpusMinhashSignatures(spark, dir).count())
      case "simhash_sigs" =>
        Seq("simhash_sigs" -> graft.operators.Dedup.corpusSimhashSignatures(spark, dir).count())
      case "cdc_digests" =>
        Seq("cdc_digests" -> graft.operators.Dedup.corpusChunkDigests(spark, dir).count())
      case "minhash_pairs" =>
        Seq("minhash_pairs" -> graft.operators.Dedup.corpusMinhashPairsIncrement(spark, oldDir, dir).count())
      case "tristats" =>
        Seq("tristats" -> graft.operators.Similarity.corpusTriangleStatsIncrement(spark, oldDir, dir).count())
      case "ngram_index" =>
        // a pinned chain also reports its 4 order-staleness rows —
        // runbook triggers: collision_bp or new_collision_bp > ~30000
        // (both calibrated), overlap < ~7000 secondary, new-gram share =
        // context
        val n = graft.operators.Dedup.corpusNgramIndexIncrement(spark, oldDir, dir).count()
        Seq("ngram_index" -> n) ++
          graft.operators.Dedup.ngramOrderStaleness(spark, dir).toSeq.flatMap(_.toSeq)
      case other =>
        throw new IllegalArgumentException(
          s"unknown asset family '$other' (expected knn_edges | bands | gram_stats | " +
            "minhash_sigs | simhash_sigs | cdc_digests | minhash_pairs | tristats | ngram_index)")
    }.toMap

  /** DELETE /tasks/:id — removes the task and its namespaced transforms
    * (both stores, `tasks.js:89-97`).
    */
  def removeTask(name: String): Unit = {
    // deleting a task with a drain in flight leaves that drain writing
    // into orphaned state — and a re-add + re-run would start a SECOND
    // concurrent drain over the same output paths. Refuse (409 over
    // HTTP); stop the run first.
    if (isTaskRunning(name))
      throw new IllegalStateException(
        s"task '$name' has a run in flight; stop it before deleting")
    tasks.remove(name)
    mutators.removeNamespace(name)
    filters.removeNamespace(name)
  }
}

object Graft {
  /** The asset families an unconditional append publish covers: the
    * graph pair (edges + co-published bands), the gram stats and the
    * three per-document signature/digest assets (cold-built at the new
    * address), and the SECOND-TIER derivations — the verified minhash
    * pair graph, the triangle stats and the ngram index — so every
    * standing consumer serves with zero builds after one
    * `assets_increment` call. `bands` alone stays opt-in (the edge
    * increment co-publishes it). Order matters only for economy:
    * `minhash_pairs` rides the signature asset published by
    * `minhash_sigs`, `tristats` the edge asset published by
    * `knn_edges`, and the ngram staleness rows the gram stats
    * published by `gram_stats` — each would build its upstream itself
    * if asked first.
    */
  val DefaultIncrementFamilies: Seq[String] =
    Seq("knn_edges", "gram_stats", "minhash_sigs", "simhash_sigs", "cdc_digests",
      "minhash_pairs", "tristats", "ngram_index")

  /** Forget every driver-side handle cache (asset-path maps, PQ model
    * cache, append-proof memo). Called by a real (non-dry-run) asset
    * gc — the one generation boundary a long-lived service driver
    * crosses — so superseded fingerprints never accumulate; everything
    * re-resolves from the durable store on next touch (metadata-only).
    */
  def dropDriverHandleCaches(): Unit = {
    graft.operators.Similarity.dropInMemoryIndexes()
    graft.operators.Dedup.dropInMemoryNgramTables()
    graft.operators.TextAnalysis.dropInMemoryBpeTables()
    graft.engine.AssetStore.dropAppendProofMemo()
  }

  /** Default connector pair: scheme-dispatched from the task's
    * source/dest roots — `http(s)://` roots get the over-the-wire
    * scroll/bulk connector ([[graft.sources.HttpScrollConnector]]),
    * anything else the parquet layout. A task can mix them (scroll a
    * live store into parquet, or reindex parquet into a live store —
    * the reference's whole use case).
    */
  def parquetConnectors(spec: TaskSpec): (DocConnector, DocConnector) =
    (forRoot(spec.sourceDir), forRoot(spec.destDir))

  private def forRoot(root: String): DocConnector =
    if (root.startsWith("http://") || root.startsWith("https://"))
      new graft.sources.HttpScrollConnector(root)
    else new ParquetConnector(root)
}
