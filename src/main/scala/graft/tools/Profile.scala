package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.util.control.NonFatal

/** Optimization-round profiler: for each named query, run it the way the
  * bench does (warmup + timed iterations against the noop sink) but split
  * the wall time into `plan` (the query function building its DataFrame
  * — construct-time jobs included — plus analysis, optimization and
  * physical planning, forced via `queryExecution.executedPlan`) and
  * EXECUTION, and report executed stage count / task count / stage
  * input bytes / shuffle bytes / task-time sum from a listener. Counts
  * come from completed stages, so a stage that exchange or AQE reuse
  * skips adds nothing; Spark reads `spark.*` JVM system properties, so
  * `-Dspark.sql.exchange.reuse=false` gives the run without reuse. This tells us, per query,
  * whether the driver (construct and Catalyst) or the cluster (stages)
  * is the bottleneck — guide §1 "measure first".
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *          sbt "runMain graft.tools.Profile q1 q2 ..."
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("PROFILE_ITERS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val inputBytes = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val taskTimeMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        inputBytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
        shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        taskTimeMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
      }
    })
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query: $name")
        case Some(fn) =>
          // warmup (uncounted): codegen + JIT + parquet footer cache
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case NonFatal(e) => System.err.println(s"$name warmup failed: $e") }
          var bestPlan = Double.MaxValue
          var bestExec = Double.MaxValue
          var lastStages = 0; var lastTasks = 0; var lastInput = 0L; var lastShuffle = 0L
          var lastTaskTime = 0L
          // timed iterations tolerate failures like the warmup does
          // (ADVICE r21): one failing query must not abort the whole
          // run, and a query with ZERO successful iterations prints an
          // explicit FAILED line instead of Double.MaxValue totals
          (1 to iters).foreach { _ =>
            spark.catalog.clearCache()
            stages.set(0); tasks.set(0); inputBytes.set(0L); shuffleWrite.set(0L); taskTimeMs.set(0L)
            try {
              val t0 = System.nanoTime()
              val df = fn(spark, sfDir)
              df.queryExecution.executedPlan // force analysis+optimization+planning
              val t1 = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
              val t2 = System.nanoTime()
              Thread.sleep(200) // drain listener bus
              val plan = (t1 - t0) / 1e9
              val exec = (t2 - t1) / 1e9
              if (plan + exec < bestPlan + bestExec) {
                bestPlan = plan; bestExec = exec
                lastStages = stages.get(); lastTasks = tasks.get(); lastInput = inputBytes.get()
                lastShuffle = shuffleWrite.get(); lastTaskTime = taskTimeMs.get()
              }
            } catch {
              case NonFatal(e) => System.err.println(s"$name iteration failed: $e")
            }
          }
          if (bestPlan == Double.MaxValue)
            println(f"PROFILE $name%-28s FAILED (no iteration succeeded)")
          else
            println(f"PROFILE $name%-28s total=${bestPlan + bestExec}%6.3f plan=$bestPlan%6.3f exec=$bestExec%6.3f " +
              f"stages=$lastStages%3d tasks=$lastTasks%4d inMB=${lastInput / 1e6}%8.2f shufMB=${lastShuffle / 1e6}%8.2f taskSumS=${lastTaskTime / 1e3}%7.2f")
      }
    }
    spark.stop()
  }
}
