package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model._
import graft.sources.{DocConnector, InMemoryConnector}

/** End-to-end worker lifecycle against the mock connector — the analog
  * of the reference's `tests/services/worker.spec.js:64-143` (real ES
  * containers there, an in-memory document store here): seed two
  * tables, submit a task, drain it, and assert per-doc counts plus the
  * progress/completion callbacks.
  */
class WorkerE2ESpec extends SparkSpec {
  import spark.implicits._

  private def seeded(): InMemoryConnector = {
    val src = new InMemoryConnector
    // worker.spec.js seeds 10 docs into 'first' and 5 into 'second'
    src.bulk((0 until 10).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "first")
    src.bulk((0 until 5).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "second")
    src
  }

  test("worker E2E: transfers queued task through the mock connector") {
    val src = seeded()
    val sink = new InMemoryConnector
    val g = new Graft(spark, _ => (src, sink))

    val backlog = g.addTask(TaskSpec(
      name = "task1", sourceDir = "mem://src", destDir = "mem://dest",
      tables = Seq("first", "second")))
    assert(backlog.size == 2)
    assert(backlog.find(_.table == "first").map(_.count).contains(10L))
    assert(backlog.find(_.table == "second").map(_.count).contains(5L))

    var totalTransferred = 0L
    val completed = scala.collection.mutable.ListBuffer.empty[SubtaskSpec]
    val results = g.runTask(
      "task1",
      worker = "w1",
      onProgress = (task, _, p) => { assert(task == "task1"); totalTransferred += p.tick },
      onComplete = (task, sub) => { assert(task == "task1"); completed += sub }
    )

    // the reference asserts totalTransferred == 15 over 2 subtasks
    assert(totalTransferred == 15L, s"progress ticks must sum to the corpus: $totalTransferred")
    assert(completed.size == 2)
    assert(results.size == 2)
    assert(g.status("task1").percentComplete == 100.0)

    // per-table doc counts land in the sink (one slice dir per subtask)
    val firstOut = sink.listTables("first/*")
    val secondOut = sink.listTables("second/*")
    assert(firstOut.size == 1 && sink.count(firstOut.head) == 10L)
    assert(secondOut.size == 1 && sink.count(secondOut.head) == 5L)

    // per-subtask progress records have the reference's shape
    val prog = g.progress("task1")
    assert(prog.size == 2)
    backlog.foreach { sub =>
      val p = prog(sub.subtaskId)
      assert(p.tick == sub.count && p.transferred == sub.count && p.total == sub.count)
      assert(p.worker == "w1")
      assert(p.lastModified != null)
    }
  }

  test("worker E2E over the HTTP scroll/bulk connector: full pipeline on a real socket") {
    // the same lifecycle as the mock-connector test, but source AND sink
    // are HttpScrollConnectors speaking the scroll/bulk wire contract to
    // in-process stub stores — planning (scan-driven size stats),
    // sliced-scroll reads, mutators, flush-batched bulk writes and
    // progress accounting all cross the socket
    val srcServer = new StubDocServer()
    val dstServer = new StubDocServer()
    try {
      val src = new graft.sources.HttpScrollConnector(
        srcServer.url, pageSize = 4, slices = 2, flushSize = 4, sleepMs = _ => ())
      val sink = new graft.sources.HttpScrollConnector(
        dstServer.url, pageSize = 4, slices = 2, flushSize = 4, sleepMs = _ => ())
      src.bulk((0 until 10).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "first")
      src.bulk((0 until 5).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "second")

      val g = new Graft(spark, _ => (src, sink))
      g.mutators.add(
        ObjectId("http", "dropEven"),
        transform.DropMutator(ObjectId("http", "dropEven"),
          org.apache.spark.sql.functions.col("id") % 2 === 0))
      val backlog = g.addTask(TaskSpec(
        name = "httpTask", sourceDir = srcServer.url, destDir = dstServer.url,
        tables = Seq("first", "second"),
        mutators = Seq(ActionRef(ObjectId("http", "dropEven")))))
      assert(backlog.size == 2)
      assert(backlog.find(_.table == "first").map(_.count).contains(10L))

      var ticks = 0L
      val results = g.runTask("httpTask",
        onProgress = (_, _, p) => ticks += p.tick)
      assert(results.map(_.rowsWritten).sum == 7L) // odd ids: 5 of 10 + 2 of 5
      assert(ticks == 7L)
      assert(g.status("httpTask").percentComplete == 100.0)
      val firstOut = sink.listTables("first/*")
      assert(firstOut.size == 1)
      assert(sink.scan(spark, firstOut.head).count() == 5L)
      val secondOut = sink.listTables("second/*")
      assert(secondOut.size == 1)
      assert(sink.scan(spark, secondOut.head).count() == 2L)
    } finally { srcServer.stop(); dstServer.stop() }
  }

  /** An in-memory sink whose `bulk` returns only once two bulks are in
    * flight at the same time (bounded at 30 s, then it fails the subtask).
    */
  private def pairingSink(): DocConnector = new DocConnector {
    private val inner = new InMemoryConnector
    private val pair = new java.util.concurrent.CountDownLatch(2)
    override def scan(spark: SparkSession, table: String): DataFrame = inner.scan(spark, table)
    override def bulk(df: DataFrame, table: String): Long = {
      pair.countDown()
      if (!pair.await(30, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(s"no other subtask in flight while writing $table")
      inner.bulk(df, table)
    }
    override def listTables(pattern: String): Seq[String] = inner.listTables(pattern)
    override def drop(table: String): Unit = inner.drop(table)
  }

  test("runTask: two subtasks are in flight at once") {
    val g = new Graft(spark, _ => (seeded(), pairingSink()))
    g.addTask(TaskSpec("pair", "mem://s", "mem://d", Seq("first", "second")))
    val results = g.runTask("pair")
    assert(g.errors.getErrors("pair").isEmpty, s"subtask errors: ${g.errors.getErrors("pair")}")
    assert(results.map(_.rowsWritten) == Seq(10L, 5L))
  }

  test("runTask: concurrent subtasks' progress and completion callbacks never interleave") {
    val src = seeded()
    src.bulk((0 until 7).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "third")
    src.bulk((0 until 3).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "fourth")
    val g = new Graft(spark, _ => (src, pairingSink()))
    g.addTask(TaskSpec("paired", "mem://s", "mem://d", Seq("first", "second", "third", "fourth")))
    // plain, unsynchronized state, as a caller's callbacks keep it
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    var ticks = 0L
    g.runTask("paired",
      onProgress = (_, sub, p) => { events += s"P ${sub.table}"; ticks += p.tick; Thread.sleep(50) },
      onComplete = (_, sub) => events += s"C ${sub.table}")
    assert(g.errors.getErrors("paired").isEmpty, s"subtask errors: ${g.errors.getErrors("paired")}")
    assert(events.size == 8, s"events: $events")
    events.grouped(2).foreach { pc =>
      assert(pc(0).startsWith("P ") && pc(1) == "C " + pc(0).drop(2), s"interleaved callbacks: $events")
    }
    assert(events.filter(_.startsWith("C ")).map(_.drop(2)).toSet == Set("first", "second", "third", "fourth"))
    assert(ticks == 25L, s"progress ticks must sum to the corpus: $ticks")
  }

  test("runTask over the HTTP connector: each subtask opens one scroll per slice") {
    val srcServer = new StubDocServer()
    val dstServer = new StubDocServer()
    try {
      val src = new graft.sources.HttpScrollConnector(
        srcServer.url, pageSize = 4, slices = 2, flushSize = 4, sleepMs = _ => ())
      val sink = new graft.sources.HttpScrollConnector(
        dstServer.url, pageSize = 4, slices = 2, flushSize = 4, sleepMs = _ => ())
      src.bulk((0 until 10).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "first")
      src.bulk((0 until 5).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "second")
      val g = new Graft(spark, _ => (src, sink))
      val backlog = g.addTask(TaskSpec("scrolls", srcServer.url, dstServer.url, Seq("first", "second")))
      val before = srcServer.scrollOpens.get
      val results = g.runTask("scrolls")
      assert(results.map(_.rowsWritten).sum == 15L)
      // the planned frame is scrolled once by the bulk; no per-subtask
      // schema inference scrolls the source a second time
      assert(srcServer.scrollOpens.get - before == 2 * backlog.size,
        s"${srcServer.scrollOpens.get - before} scrolls opened for ${backlog.size} subtasks")
    } finally { srcServer.stop(); dstServer.stop() }
  }

  test("default connector factory dispatches http(s) roots to the wire connector") {
    val mixed = Graft.parquetConnectors(TaskSpec(
      "t", sourceDir = "http://example.invalid:9200", destDir = "/tmp/out",
      tables = Seq("first")))
    assert(mixed._1.isInstanceOf[graft.sources.HttpScrollConnector])
    assert(mixed._2.isInstanceOf[graft.sources.ParquetConnector])
  }

  test("mutators apply on the connector path and resume skips completed work") {
    val src = seeded()
    val sink = new InMemoryConnector
    val g = new Graft(spark, _ => (src, sink))
    g.mutators.add(
      ObjectId("task2", "dropEven"),
      transform.DropMutator(ObjectId("task2", "dropEven"),
        org.apache.spark.sql.functions.col("id") % 2 === 0)
    )
    val spec = TaskSpec("task2", "mem://s", "mem://d", Seq("first"),
      mutators = Seq(ActionRef(ObjectId("task2", "dropEven"))))
    g.addTask(spec)
    val results = g.runTask("task2")
    assert(results.size == 1 && results.head.rowsWritten == 5L) // ids 1,3,5,7,9
    // resume: replanning subtracts the completed subtask
    assert(g.addTask(spec).isEmpty)
  }

  test("stop() halts consumption between subtasks; start() resumes the backlog") {
    val src = seeded()
    val sink = new InMemoryConnector
    val g = new Graft(spark, _ => (src, sink))
    g.addTask(TaskSpec("task3", "mem://s", "mem://d", Seq("first", "second")))

    // stop after the first completed subtask — the second must stay queued
    val results = g.runTask("task3", onComplete = (_, _) => g.stop())
    assert(results.size == 1, s"run must stop after the first subtask, got ${results.size}")
    assert(!g.isRunning)
    val st = g.status("task3")
    assert(st.completed == 1 && st.backlog == 1)

    // _start + rerun drains the remainder; nothing re-runs
    g.start()
    val rest = g.runTask("task3")
    assert(rest.size == 1)
    assert(g.status("task3").percentComplete == 100.0)
  }

  test("stop() cancels the in-flight Spark job group (P7 interrupt)") {
    val src = seeded()
    // a sink whose bulk job parks its tasks: the only way runTask can
    // return quickly is the job-group cancellation path
    val slowSink = new DocConnector {
      override def scan(spark: SparkSession, table: String): DataFrame =
        throw new UnsupportedOperationException("sink only")
      override def bulk(df: DataFrame, table: String): Long = {
        df.foreachPartition { (_: Iterator[Row]) => Thread.sleep(60000) }
        df.count()
      }
      override def listTables(pattern: String): Seq[String] = Seq.empty
      override def drop(table: String): Unit = ()
    }
    val g = new Graft(spark, _ => (src, slowSink))
    g.addTask(TaskSpec("task4", "mem://s", "mem://d", Seq("first")))

    val t0 = System.nanoTime()
    val fut = Future(g.runTask("task4"))
    Thread.sleep(2000) // let the bulk job start
    g.stop()
    val results = Await.result(fut, 30.seconds)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(results.isEmpty, "cancelled subtask must not report success")
    assert(elapsedSec < 30, s"cancellation did not interrupt the job (took ${elapsedSec}s)")
    // the interruption is recorded as a subtask error and the backlog survives
    assert(g.errors.getErrors("task4").nonEmpty)
    assert(g.status("task4").backlog == 1)
    g.start() // leave the shared flag up for other suites
  }
}
