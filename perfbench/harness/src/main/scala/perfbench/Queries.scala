package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two query workloads over the read-only corpus: each operation is
  * one registered `SparkEntry.queries` function, split into construct
  * (the function building its DataFrame), plan (`executedPlan`) and
  * execute (a `noop` write).
  */
object Queries {

  /** Construct-heavy queries: most of their wall time is Spark jobs run
    * while the query function is still building its plan.
    */
  val Eager: Seq[String] = Seq(
    "q_rfm", "p2_bounds_ntile", "pipeline_curate", "mix_dsir", "dedup_funnel",
    "dedup_leakage", "graph_neighbor_jaccard", "winnow_pairs", "graph_pagerank",
    "dedup_bloom_sharded")

  /** Queries whose construct phase launches at most the schema-read job,
    * so their time is spent executing.
    */
  val Lazy: Seq[String] = Seq(
    "q_approx_stats", "q3_join", "q1_agg", "q_distinct_count", "text_fingerprint",
    "text_winnow", "text_entropy", "doc_repetition", "text_classifier", "text_tokens")

  /** The mix `BENCHMARK.json` runs: two eager queries with a cheap first
    * run (asset builds go into a fresh warehouse each run) and five lazy
    * ones with one construct job each, four of which call
    * `graft.functions` kernels. Construct-side changes move its eager
    * half, execute- and kernel-side changes its lazy half.
    */
  val MixedEager: Seq[String] = Seq("dedup_leakage", "winnow_pairs")
  val MixedLazy: Seq[String] =
    Seq("text_classifier", "text_entropy", "text_tokens", "text_winnow", "text_fingerprint")
  val Mixed: Seq[String] = MixedEager ++ MixedLazy

  /** Timed passes per phase: two, so each query is timed twice and the
    * median falls inside the ten lazy samples rather than on one query.
    */
  val MinPasses = 2

  type QueryFn = (SparkSession, String) => DataFrame

  def fn(name: String): QueryFn =
    graft.SparkEntry.queries.getOrElse(name, throw new NoSuchElementException(s"no query $name"))

  def run(ctx: Ctx, names: Seq[String]): Outcome = {
    val spark = ctx.spark
    val checkDir = ctx.dir("check")
    // the untimed warm-up pass is also the output-check pass: each
    // result lands as parquet for the DuckDB compare
    val w0 = System.nanoTime()
    val outputs = names.map { n =>
      val q0 = System.nanoTime()
      graft.engine.DriverBudget.setContext(n)
      val status =
        try {
          // repartition, not coalesce: coalesce(1) would run the whole
          // upstream stage in one task
          fn(n)(spark, ctx.data).repartition(1).write.mode("overwrite").parquet(s"$checkDir/$n")
          "ok"
        } catch { case NonFatal(e) => s"error: $e" }
        finally { graft.engine.DriverBudget.clearContext(); spark.catalog.clearCache() }
      n -> Map("status" -> status, "path" -> s"$checkDir/$n", "warmup_s" -> (System.nanoTime() - q0) / 1e9)
    }.toMap
    val warmupS = (System.nanoTime() - w0) / 1e9

    val untraced = phase(ctx, new Tracer(false), names)
    val heapMb = Gc.retainedMb
    val (phases, layers, tracerDump) =
      if (!ctx.trace) (Seq(untraced), Map.empty[String, Double], Map.empty[String, Any])
      else {
        val (traced, tracer) = ctx.traced { t => (phase(ctx, t, names), t) }
        val after = phase(ctx, new Tracer(false), names)
        val kernels = Kernels.table(ctx, graft.Tables.documents(ctx.spark, ctx.data), Kernels.of(names))
        (Seq(untraced, traced, after), layerMetrics(ctx, tracer, names) ++ kernels,
          Map("trace" -> tracer.dump))
      }
    Outcome(Map("warmup_s" -> warmupS), phases, heapMb, Nil, layers,
      Map("query_outputs" -> outputs,
        "oracle_sql" -> names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap) ++
        tracerDump)
  }

  /** Whole passes over the mix, each in a seed-drawn order. */
  private def phase(ctx: Ctx, tracer: Tracer, names: Seq[String]): Phase = {
    val ops = Vector.newBuilder[Op]
    var opId = 0L
    val wall = ctx.timedPasses(tracer, MinPasses) { pass =>
      val order = new scala.util.Random(ctx.seed * 7919L + pass).shuffle(names)
      order.foreach { n =>
        ctx.spark.catalog.clearCache()
        opId += 1
        ops += timeQuery(ctx, tracer, n, opId)
      }
    }
    // frames the last query persisted would otherwise count as retained heap
    ctx.spark.catalog.clearCache()
    Phase(tracer.enabled, wall, ops.result())
  }

  private def timeQuery(ctx: Ctx, tracer: Tracer, name: String, opId: Long): Op = {
    val t0 = System.nanoTime()
    graft.engine.DriverBudget.setContext(name)
    try {
      tracer.span(s"op:$name", opId) {
        val df = tracer.span("construct", opId) { fn(name)(ctx.spark, ctx.data) }
        tracer.span("plan", opId) { df.queryExecution.executedPlan }
        tracer.span("execute", opId) { df.write.format("noop").mode("overwrite").save() }
      }
      Op(name, name, (System.nanoTime() - t0) / 1e9, ok = true, items = 1L)
    } catch {
      case NonFatal(e) => Op(name, name, (System.nanoTime() - t0) / 1e9, ok = false, 0L, e.toString)
    } finally graft.engine.DriverBudget.clearContext()
  }

  /** Per-query means of the construct / plan / execute layers, and of
    * the construct layer for each half of the mixed workload.
    */
  private def layerMetrics(ctx: Ctx, tracer: Tracer, names: Seq[String]): Map[String, Double] = {
    val c = ctx.counters
    val opName = tracer.spans.filter(_.name.startsWith("op:")).map(s => s.op -> s.name.stripPrefix("op:")).toMap
    val ops = opName.size.max(1).toDouble
    def named(n: String) = tracer.spans.filter(_.name == n).toSeq
    val construct = named("construct")
    val plan = named("plan")
    val exec = named("execute")
    val execStages = c.stagesIn(exec)
    val execWall = exec.map(_.dur).sum
    def half(kind: String, member: Seq[String]): Map[String, Double] = {
      val spans = construct.filter(s => opName.get(s.op).exists(member.contains))
      val n = opName.values.count(member.contains).max(1).toDouble
      Map(s"operators.$kind.construct_s" -> spans.map(_.dur).sum / n,
        s"operators.$kind.construct_jobs" -> c.jobsIn(spans) / n)
    }
    val halves =
      if (names == Mixed) half("eager", MixedEager) ++ half("lazy", MixedLazy) else Map.empty[String, Double]
    halves ++ Map(
      "operators.construct_s" -> construct.map(_.dur).sum / ops,
      "operators.construct_jobs" -> c.jobsIn(construct) / ops,
      "catalyst.plan_s" -> plan.map(_.dur).sum / ops,
      "execute.s" -> execWall / ops,
      "execute.jobs" -> c.jobsIn(exec) / ops,
      "execute.tasks" -> execStages.map(_.tasks).sum / ops,
      "execute.shuffle_bytes" -> execStages.map(_.shuffleWrite).sum / ops,
      "execute.spill_bytes" -> execStages.map(_.spill).sum / ops,
      "execute.gc_s" -> exec.map(_.gcS).sum / ops,
      "execute.core_util" -> execStages.map(_.runMs).sum / 1e3 / math.max(execWall * ctx.cores, 1e-9)
    )
  }
}
