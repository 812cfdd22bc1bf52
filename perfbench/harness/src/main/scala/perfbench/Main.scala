package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One timed operation: a query, a reindex subtask or a micro-batch.
  * `items` is the work it completed (1 query, docs written, docs
  * drained); `group` names the output check that vouches for it, so a
  * failed check fails every operation of that group.
  */
final case class Op(name: String, group: String, latS: Double, ok: Boolean, items: Long,
    err: String = "")

/** One timed phase: closed-loop operations back to back, in whole passes. */
final case class Phase(traced: Boolean, wallS: Double, ops: Seq[Op]) {
  def toJson: Map[String, Any] = Map(
    "traced" -> traced, "wall_s" -> wallS,
    "ops" -> ops.map(o => Map("name" -> o.name, "group" -> o.group, "lat_s" -> o.latS,
      "ok" -> o.ok, "items" -> o.items, "err" -> o.err)))
}

/** What a workload hands back: set-up parts, timed phases (untraced;
  * with tracing on also traced, then untraced again), the heap retained
  * after the first phase, checks it ran itself, per-layer metrics of the traced phase,
  * and anything the Python side needs for its DuckDB checks.
  */
final case class Outcome(
    setup: Map[String, Double],
    phases: Seq[Phase],
    heapMb: Double,
    checks: Seq[Map[String, Any]],
    layers: Map[String, Double],
    extra: Map[String, Any] = Map.empty
)

/** Everything a workload needs from the run. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    data: String,
    input: String,
    cores: Int
) {
  val counters: Counters = new Counters

  /** Register the listener for the traced phase only, so the untraced
    * phase runs with tracing fully off.
    */
  def traced[T](body: Tracer => T): T = {
    val tracer = new Tracer(true)
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters.scans)
    try body(tracer)
    finally {
      counters.drain()
      spark.listenerManager.unregister(counters.scans)
      spark.sparkContext.removeSparkListener(counters)
    }
  }

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }

  /** A phase runs whole passes: at least `minPasses`, and more until
    * `seconds` of timed wall time have passed.
    */
  def timedPasses(tracer: Tracer, minPasses: Int)(pass: Int => Unit): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    while (p < minPasses || elapsed < seconds) {
      tracer.span("pass") { pass(p) }
      p += 1
    }
    elapsed
  }
}

/** Benchmark harness entry point. Runs one workload in one `local[N]`
  * session with one sequential client and writes a JSON result file;
  * `perfbench/run.py` turns it into metrics and checks.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --data SFDIR --input DIR --cores N --out FILE
  * where `--data` is the read-only query corpus and `--input` the
  * inputs `run.py` generated for this seed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val cores = opts.getOrElse("cores", "4").toInt
    val t0 = System.nanoTime()
    // the archive's training run loads no graft code, extensions included
    val spark = session(work, cores, graftExtensions = workload != "train")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
      work, opts.getOrElse("data", ""), opts.getOrElse("input", ""), cores)
    val outcome = workload match {
      case "reindex"       => Reindex.run(ctx)
      case "queries"       => Queries.run(ctx, Queries.Mixed)
      case "queries_eager" => Queries.run(ctx, Queries.Eager)
      case "queries_lazy"  => Queries.run(ctx, Queries.Lazy)
      case "ingest"        => Ingest.run(ctx)
      case "train"         => Train.run(ctx)
      case other           => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val result = Map(
      "workload" -> workload, "seed" -> ctx.seed, "cores" -> cores,
      "setup" -> (outcome.setup + ("session_s" -> sessionS)),
      "heap_retained_mb" -> outcome.heapMb,
      "phases" -> outcome.phases.map(_.toJson),
      "checks" -> outcome.checks,
      "layers" -> outcome.layers,
      "extra" -> outcome.extra)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(opts("out")), json.writeValueAsString(result))
    spark.stop()
  }

  /** The benchmark's session: `local[cores]`, graft's SQL extensions,
    * and every directory Spark or graft writes to under the run's own
    * work directory (fresh asset warehouse included).
    */
  def session(work: String, cores: Int, graftExtensions: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
    if (graftExtensions) b.config("spark.sql.extensions", "graft.functions.GraftExtensions")
    val s = b
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.graft.index.dir", s"$work/assets")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
