package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark-side span. Times are epoch milliseconds with a
  * sub-millisecond fraction (derived from `System.nanoTime`), so they
  * line up with the millisecond timestamps Spark puts on listener
  * events. `op` is the operation id shared by an operation's spans.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long, start: Double, end: Double,
    gcS: Double = 0.0) {
  def dur: Double = (end - start) / 1000.0
}

/** Span recorder for the single sequential client. Spans are kept in
  * memory and written when the run ends; with tracing off it records
  * nothing and costs one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def current: Int = stack.headOption.getOrElse(-1)

  /** Run `body` inside a span named `name`, child of the open span. */
  def span[T](name: String, op: Long = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val gc0 = Gc.seconds
      val start = nowMs
      spans += Span(id, name, current, op, start, start)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = nowMs, gcS = Gc.seconds - gc0)
      }
    }

  /** Record a span whose bounds were observed from callbacks, as a
    * child of `parent` (default: the open span).
    */
  def record(name: String, op: Long, start: Double, end: Double, parent: Int = -2): Unit =
    if (enabled) spans += Span(spans.length, name, if (parent == -2) current else parent, op, start, end)

  /** Id of the most recent span named `name`, or -1. */
  def last(name: String): Int = spans.lastIndexWhere(_.name == name)

  /** Self time of each span: its duration minus the part covered by
    * its children.
    */
  def selfTimes: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    spans.map(s => s.id -> (s.dur - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Every span, plus total and self seconds per span name (an
    * operation's name is cut to its kind, `op`).
    */
  def dump: Map[String, Any] = {
    val self = selfTimes
    def kind(n: String) = n.takeWhile(_ != ':')
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end)),
      "by_name" -> spans.groupBy(s => kind(s.name)).map { case (n, ss) =>
        n -> Map("count" -> ss.size, "total_s" -> ss.map(_.dur).sum,
          "self_s" -> ss.map(s => self(s.id)).sum)
      })
  }
}

object Gc {
  /** Cumulative collector time of this JVM, in seconds. */
  def seconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Used heap after full collections, in MB. */
  def retainedMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Stage totals as the listener saw them. */
final case class StageStat(
    submitted: Double,
    tasks: Long,
    runMs: Long,
    shuffleWrite: Long,
    spill: Long,
    bytesWritten: Long,
    recordsWritten: Long
)

/** Listener counts, attributed afterwards to the span whose time window
  * holds each event (valid because the client is single and sequential).
  */
final class Counters extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageStat]()
  val scans = new Scans

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.time.toDouble); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageStat(
      submitted = i.submissionTime.getOrElse(0L).toDouble,
      tasks = i.numTasks.toLong,
      runMs = m.executorRunTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      bytesWritten = m.outputMetrics.bytesWritten,
      recordsWritten = m.outputMetrics.recordsWritten))
    ()
  }

  /** Events inside `[start, end]` (epoch ms), with a 1 ms margin for the
    * millisecond resolution of Spark's timestamps.
    */
  def jobsIn(spans: Iterable[Span]): Long =
    jobs.asScala.count(t => spans.exists(s => t >= s.start - 1 && t <= s.end + 1)).toLong

  def stagesIn(spans: Iterable[Span]): Seq[StageStat] =
    stages.asScala.toSeq.filter(st => spans.exists(s => st.submitted >= s.start - 1 && st.submitted <= s.end + 1))

  /** Wait until the listener bus has delivered what it will deliver: the
    * event counts stop changing for half a second.
    */
  def drain(): Unit = {
    var last = -1
    var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val n = jobs.size + stages.size + scans.writes.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }
}

/** What the file scans of one successful file write opened, from the
  * executed plan's scan metrics: `files` and `bytes` are the files and
  * their bytes on disk that the scans were handed.
  */
final case class WriteScan(output: String, files: Long, bytes: Long)

/** Records the scans behind every successful file write, keyed by the
  * write's output path, so a write is attributed by where it landed
  * rather than by when the listener bus delivered it.
  */
final class Scans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[WriteScan]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val output = plan.collectFirst {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
        w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toUri.getPath
    }
    output.foreach { out =>
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      writes.add(WriteScan(out, scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Writes whose output lies under `root`. */
  def under(root: String): Seq[WriteScan] = {
    val prefix = java.nio.file.Paths.get(root).toAbsolutePath.toString
    writes.asScala.toSeq.filter(_.output.startsWith(prefix))
  }
}

/** One micro-batch as a `StreamingQueryListener` reports it. */
final case class BatchProgress(batchId: Long, startMs: Double, triggerMs: Long, addBatchMs: Long, inputRows: Long)

/** Collects per-micro-batch progress. Registered in every ingest run:
  * the micro-batch latency is an end-to-end metric and this listener is
  * the only outside view of it.
  */
final class BatchListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  @volatile var started = 0
  @volatile var terminated = 0

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = started += 1

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    // a trigger that found no new data reports no addBatch: not a batch
    if (d.containsKey("addBatch"))
      progress.add(BatchProgress(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        ms("triggerExecution"), ms("addBatch"), p.numInputRows))
    ()
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = terminated += 1

  /** Block until every started query's termination has been delivered;
    * the bus delivers a query's progress events before its termination.
    */
  def awaitQuiet(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated < started && System.currentTimeMillis() < deadline) Thread.sleep(20)
    if (terminated < started) throw new IllegalStateException("streaming listener did not see the drain end")
  }

  def take(): Seq[BatchProgress] = {
    val out = progress.asScala.toSeq.sortBy(_.startMs)
    progress.clear()
    out
  }
}
