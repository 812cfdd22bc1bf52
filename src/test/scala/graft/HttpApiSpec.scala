package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.HttpApi
import graft.sources.InMemoryConnector

/** Supertest-style coverage of the HTTP control surface — the analog of
  * the reference's Express route tests, driven over a real socket.
  */
class HttpApiSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def send(
      method: String, url: String, body: String = "", headers: Map[String, String] = Map.empty
  ): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** POST a task spec (async planning: 202) and await the plan: poll
    * `/_run` out of `planning`, then read the task's backlog size.
    * Fails the test on `plan_failed`.
    */
  private def addTaskAwait(base: String, id: String, body: String, deadlineSec: Int = 60): Int = {
    val resp = send("POST", s"$base/tasks/$id", body)
    assert(resp.statusCode() == 202, s"submit: ${resp.statusCode()} ${resp.body()}")
    assert(mapper.readTree(resp.body()).get("state").asText() == "planning")
    val deadline = System.nanoTime() + deadlineSec * 1000000000L
    while (System.nanoTime() < deadline) {
      val run = send("GET", s"$base/tasks/$id/_run")
      val state =
        if (run.statusCode() == 404) "none" // marker cleared: planned, no prior run
        else mapper.readTree(run.body()).get("state").asText()
      assert(state != "plan_failed", s"planning failed: ${run.body()}")
      if (state != "planning") {
        val st = send("GET", s"$base/tasks/$id")
        assert(st.statusCode() == 200, s"planned task must be readable: ${st.body()}")
        return mapper.readTree(st.body()).get("status").get("backlog").asInt()
      }
      Thread.sleep(50)
    }
    fail(s"task '$id' did not finish planning in ${deadlineSec}s")
  }

  /** Poll `GET /tasks/{id}/_run` until the run leaves `running`. */
  private def pollRun(base: String, id: String, deadlineSec: Int = 60) = {
    val deadline = System.nanoTime() + deadlineSec * 1000000000L
    var node = mapper.readTree(send("GET", s"$base/tasks/$id/_run").body())
    while (node.get("state").asText() == "running" && System.nanoTime() < deadline) {
      Thread.sleep(100)
      node = mapper.readTree(send("GET", s"$base/tasks/$id/_run").body())
    }
    node
  }

  test("task lifecycle over HTTP: mutators, add, run, status, errors, delete") {
    val src = new InMemoryConnector
    src.bulk((1 to 10).map(i => (i.toLong, i * 2.0)).toDF("id", "price"), "items")
    val sink = new InMemoryConnector
    val g = new Graft(spark, _ => (src, sink))
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      // register a SQL-expr mutator (the compiler.js analog)
      assert(send("POST", s"$base/mutators/job1/dropCheap",
        """{"type": "drop", "predicate": "price < 10"}""").statusCode() == 200)
      val ids = mapper.readTree(send("GET", s"$base/mutators/job1").body())
      assert(ids.get("ids").get(0).asText() == "job1/dropCheap")

      // add references the mutator; unknown refs are a client error
      assert(send("POST", s"$base/tasks/job1",
        """{"sourceDir": "mem://s", "destDir": "mem://d", "tables": ["items"],
          |"mutators": ["job1/nope"]}""".stripMargin).statusCode() == 404)
      assert(addTaskAwait(base, "job1",
        """{"sourceDir": "mem://s", "destDir": "mem://d", "tables": ["items"],
          |"mutators": ["job1/dropCheap"]}""".stripMargin) == 1)

      // status before run
      val st0 = mapper.readTree(send("GET", s"$base/tasks/job1").body())
      assert(st0.get("status").get("backlog").asInt() == 1)

      // drain (async: 202 + poll); rows with price < 10 (ids 1..4) drop
      assert(send("GET", s"$base/tasks/job1/_run").statusCode() == 404) // no run yet
      assert(send("POST", s"$base/tasks/job1/_run").statusCode() == 202)
      val run = pollRun(base, "job1")
      assert(run.get("state").asText() == "done")
      assert(run.get("completed").asInt() == 1)
      assert(run.get("rowsWritten").asLong() == 6L)

      val st1 = mapper.readTree(send("GET", s"$base/tasks/job1").body())
      assert(st1.get("status").get("percentComplete").asDouble() == 100.0)
      val prog = st1.get("progress")
      assert(prog.properties().size() == 1)
      assert(prog.properties().iterator().next().getValue.get("transferred").asLong() == 6L)

      // task inventory + error log shapes
      val all = mapper.readTree(send("GET", s"$base/tasks").body())
      assert(all.has("job1"))
      assert(mapper.readTree(send("GET", s"$base/tasks/job1/errors").body()).size() == 0)
      assert(send("GET", s"$base/tasks/nosuch").statusCode() == 404)

      // delete removes the task, its namespaced mutators, AND its run record
      assert(send("DELETE", s"$base/tasks/job1").statusCode() == 204)
      assert(mapper.readTree(send("GET", s"$base/mutators/job1").body()).get("ids").size() == 0)
      assert(send("GET", s"$base/tasks/job1/_run").statusCode() == 404)
      assert(send("GET", s"$base/nope").statusCode() == 404)
    } finally api.close()
  }

  test("_start/_stop flip the manager flag over HTTP") {
    val g = new Graft(spark)
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      assert(mapper.readTree(send("GET", s"$base/status").body())
        .get("manager").asText() == "running")
      assert(send("POST", s"$base/_stop").statusCode() == 200)
      assert(!g.isRunning)
      assert(mapper.readTree(send("GET", s"$base/status").body())
        .get("manager").asText() == "stopped")
      assert(send("POST", s"$base/_start").statusCode() == 200)
      assert(g.isRunning)
    } finally api.close()
  }

  test("filters CRUD over HTTP; a stored filter prunes the task plan") {
    val src = new InMemoryConnector
    src.bulk((1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "first")
    src.bulk((1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "second")
    val g = new Graft(spark, _ => (src, new InMemoryConnector))
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      // create + read-back + list (filters.js:39-126 CRUD contract)
      assert(send("POST", s"$base/filters/jobF/onlyFirst",
        """{"type": "index", "pattern": "first"}""").statusCode() == 200)
      val one = mapper.readTree(send("GET", s"$base/filters/jobF/onlyFirst").body())
      assert(one.get("type").asText() == "index")
      assert(one.get("pattern").asText() == "first")
      val ids = mapper.readTree(send("GET", s"$base/filters/jobF").body())
      assert(ids.get("ids").get(0).asText() == "jobF/onlyFirst")
      // a bad kind is a client error, not a server fault
      assert(send("POST", s"$base/filters/jobF/bad",
        """{"type": "nope", "pattern": "x"}""").statusCode() == 400)

      // unknown filter refs fail the add-time pre-check (tasks.js:79-80)
      assert(send("POST", s"$base/tasks/jobF",
        """{"sourceDir": "mem://s", "destDir": "mem://d",
          |"tables": ["first", "second"], "filters": ["jobF/nope"]}""".stripMargin)
        .statusCode() == 404)
      // the STORED filter prunes 'second' out of the plan: backlog is 1
      assert(addTaskAwait(base, "jobF",
        """{"sourceDir": "mem://s", "destDir": "mem://d",
          |"tables": ["first", "second"], "filters": ["jobF/onlyFirst"]}""".stripMargin) == 1)

      // delete one; task removal drops the rest of the namespace
      assert(send("DELETE", s"$base/filters/jobF/bad").statusCode() == 204)
      assert(send("DELETE", s"$base/tasks/jobF").statusCode() == 204)
      assert(mapper.readTree(send("GET", s"$base/filters/jobF").body()).get("ids").size() == 0)
      assert(send("GET", s"$base/filters/jobF/onlyFirst").statusCode() == 404)
    } finally api.close()
  }

  test("GET /mutators/{ns}/{id} reads back a registered mutator") {
    val g = new Graft(spark)
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      assert(send("POST", s"$base/mutators/jobM/dropCheap",
        """{"type": "drop", "predicate": "price < 10"}""").statusCode() == 200)
      val got = mapper.readTree(send("GET", s"$base/mutators/jobM/dropCheap").body())
      assert(got.get("id").asText() == "jobM/dropCheap")
      assert(got.get("type").asText() == "drop")
      assert(got.get("predicate").asText().contains("price"))
      assert(send("GET", s"$base/mutators/jobM/nope").statusCode() == 404)
    } finally api.close()
  }

  test("over-HTTP /_stop interrupts an over-HTTP /_run; backlog survives for resume") {
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import graft.sources.DocConnector
    val src = new InMemoryConnector
    src.bulk((0 until 10).map(n => (n.toLong, s"data$n")).toDF("id", "something"), "first")
    // a sink whose bulk job parks its tasks: the run can only finish fast
    // through the job-group cancellation path, so a quick completion proves
    // the stop was both DELIVERED (thread pool) and EFFECTIVE (interrupt)
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
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      addTaskAwait(base, "jobS",
        """{"sourceDir": "mem://s", "destDir": "mem://d", "tables": ["first"]}""")
      val t0 = System.nanoTime()
      assert(send("POST", s"$base/tasks/jobS/_run").statusCode() == 202)
      Thread.sleep(2000) // let the bulk job start
      // a second run while one is in flight is a conflict, not a double-drain
      assert(send("POST", s"$base/tasks/jobS/_run").statusCode() == 409)
      // the stop MUST be deliverable while the run occupies its thread
      assert(send("POST", s"$base/_stop").statusCode() == 200)
      val run = pollRun(base, "jobS", deadlineSec = 30)
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(run.get("state").asText() == "done")
      assert(run.get("completed").asInt() == 0, "cancelled subtask must not report success")
      assert(elapsedSec < 30, s"stop did not interrupt the in-flight run (took ${elapsedSec}s)")
      // interruption recorded; backlog intact for a later /_start + /_run
      assert(mapper.readTree(send("GET", s"$base/tasks/jobS/errors").body()).size() > 0)
      val st = mapper.readTree(send("GET", s"$base/tasks/jobS").body())
      assert(st.get("status").get("backlog").asInt() == 1)
      assert(send("POST", s"$base/_start").statusCode() == 200)
    } finally api.close()
  }

  test("lifecycle guards: stopped-manager 409, delete/re-add conflict mid-run, 400s") {
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import graft.sources.DocConnector
    val src = new InMemoryConnector
    src.bulk((0 until 5).map(n => (n.toLong, s"d$n")).toDF("id", "v"), "t1")
    val slowSink = new DocConnector {
      override def scan(spark: SparkSession, table: String): DataFrame =
        throw new UnsupportedOperationException("sink only")
      override def bulk(df: DataFrame, table: String): Long = {
        df.foreachPartition { (_: Iterator[Row]) => Thread.sleep(30000) }
        df.count()
      }
      override def listTables(pattern: String): Seq[String] = Seq.empty
      override def drop(table: String): Unit = ()
    }
    val g = new Graft(spark, _ => (src, slowSink))
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    val addBody = """{"sourceDir": "mem://s", "destDir": "mem://d", "tables": ["t1"]}"""
    try {
      // malformed JSON is the client's error, not a 500 server fault
      assert(send("POST", s"$base/tasks/jobG", "{bad json").statusCode() == 400)
      // a broken regex must be rejected AT THE STORE, not later at task add
      assert(send("POST", s"$base/filters/ns/bad",
        """{"type": "index", "pattern": "[unclosed"}""").statusCode() == 400)
      addTaskAwait(base, "jobG", addBody)
      // a run submitted while stopped must refuse — not report a false done
      assert(send("POST", s"$base/_stop").statusCode() == 200)
      assert(send("POST", s"$base/tasks/jobG/_run").statusCode() == 409)
      assert(send("POST", s"$base/_start").statusCode() == 200)
      // with a drain in flight, delete and re-add are conflicts: both
      // would orphan the running state (double-drain / lost completions)
      assert(send("POST", s"$base/tasks/jobG/_run").statusCode() == 202)
      Thread.sleep(1500)
      assert(send("DELETE", s"$base/tasks/jobG").statusCode() == 409)
      assert(send("POST", s"$base/tasks/jobG", addBody).statusCode() == 409)
      // cleanup: interrupt the parked run, then the delete goes through
      assert(send("POST", s"$base/_stop").statusCode() == 200)
      pollRun(base, "jobG", deadlineSec = 30)
      assert(send("DELETE", s"$base/tasks/jobG").statusCode() == 204)
      assert(send("POST", s"$base/_start").statusCode() == 200)
    } finally api.close()
  }

  test("end-to-end over HTTP on real parquet: add with size buckets, async run, output lands") {
    // the production path: HTTP -> Graft -> Planner (size buckets) ->
    // Transfer -> ParquetConnector (observe-counted writes), no mocks
    val destRoot = java.nio.file.Files.createTempDirectory("graft_http_pq").toString
    val g = new Graft(spark) // default parquet connectors from the task spec
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      // nation splits into 3 size buckets + region unbucketed = 4 subtasks
      assert(addTaskAwait(base, "jobP",
        s"""{"sourceDir": "$sf", "destDir": "$destRoot", "tables": ["region", "nation"],
           |"sizeCols": {"nation": "n_nationkey"}}""".stripMargin) == 4)
      assert(send("POST", s"$base/tasks/jobP/_run").statusCode() == 202)
      val run = pollRun(base, "jobP")
      assert(run.get("state").asText() == "done")
      assert(run.get("completed").asInt() == 4)
      val want = Tables.region(spark, sf).count() + Tables.nation(spark, sf).count()
      assert(run.get("rowsWritten").asLong() == want)
      // slices land under <destRoot>/<table>/<subtaskDir>; union equals source
      val slices = new java.io.File(s"$destRoot/nation").listFiles().filter(_.isDirectory)
      assert(slices.length == 3, s"expected 3 nation slices, got ${slices.mkString(",")}")
      assert(slices.map(d => spark.read.parquet(d.toString).count()).sum ==
        Tables.nation(spark, sf).count())
      assert(mapper.readTree(send("GET", s"$base/tasks/jobP").body())
        .get("status").get("percentComplete").asDouble() == 100.0)
    } finally api.close()
  }

  test("slow-planning table: submit answers 202 immediately; planning is pollable and guards run/delete/re-add") {
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import graft.sources.DocConnector
    // a source whose scan stalls — the stand-in for size-stat jobs over
    // a real multi-TB table taking minutes
    val planGate = new java.util.concurrent.CountDownLatch(1)
    val inner = new InMemoryConnector
    inner.bulk((1 to 4).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), "slowt")
    val slowSrc = new DocConnector {
      override def scan(spark: SparkSession, table: String): DataFrame = {
        planGate.await(30, java.util.concurrent.TimeUnit.SECONDS)
        inner.scan(spark, table)
      }
      override def bulk(df: DataFrame, table: String): Long = inner.bulk(df, table)
      override def listTables(pattern: String): Seq[String] = inner.listTables(pattern)
      override def drop(table: String): Unit = inner.drop(table)
    }
    val sink = new InMemoryConnector
    val g = new Graft(spark, _ => (slowSrc, sink))
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    val body = """{"sourceDir": "mem://s", "destDir": "mem://d", "tables": ["slowt"]}"""
    try {
      val t0 = System.nanoTime()
      val resp = send("POST", s"$base/tasks/jobSlow", body)
      val submitSec = (System.nanoTime() - t0) / 1e9
      assert(resp.statusCode() == 202 && submitSec < 5.0,
        s"submit must not wait for planning (took ${submitSec}s)")
      // while planning: state pollable; run, delete and re-add conflict
      val mid = mapper.readTree(send("GET", s"$base/tasks/jobSlow/_run").body())
      assert(mid.get("state").asText() == "planning")
      assert(send("POST", s"$base/tasks/jobSlow/_run").statusCode() == 404,
        "task does not exist until planned — run cannot claim it")
      assert(send("DELETE", s"$base/tasks/jobSlow").statusCode() == 409)
      assert(send("POST", s"$base/tasks/jobSlow", body).statusCode() == 409)
      // other control-plane requests stay deliverable during the plan
      assert(send("GET", s"$base/status").statusCode() == 200)
      planGate.countDown()
      // planning completes: task readable, marker cleared, run possible
      val deadline = System.nanoTime() + 30L * 1000000000L
      var planned = send("GET", s"$base/tasks/jobSlow")
      while (planned.statusCode() != 200 && System.nanoTime() < deadline) {
        Thread.sleep(50); planned = send("GET", s"$base/tasks/jobSlow")
      }
      assert(planned.statusCode() == 200)
      assert(mapper.readTree(planned.body()).get("status").get("backlog").asInt() == 1)
      assert(send("GET", s"$base/tasks/jobSlow/_run").statusCode() == 404,
        "planning marker must clear (no prior run to restore)")
      assert(send("POST", s"$base/tasks/jobSlow/_run").statusCode() == 202)
      assert(pollRun(base, "jobSlow").get("state").asText() == "done")
    } finally api.close()
  }

  test("a failing plan surfaces as plan_failed with the error, and the task can be resubmitted") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import graft.sources.DocConnector
    val broken = new java.util.concurrent.atomic.AtomicBoolean(true)
    val inner = new InMemoryConnector
    inner.bulk((1 to 3).map(i => (i.toLong, i * 1.0)).toDF("id", "v"), "t"): Unit
    val src = new DocConnector {
      override def scan(spark: SparkSession, table: String): DataFrame =
        if (broken.get) sys.error("source exploded during planning") else inner.scan(spark, table)
      override def bulk(df: DataFrame, table: String): Long = inner.bulk(df, table)
      override def listTables(pattern: String): Seq[String] = inner.listTables(pattern)
      override def drop(table: String): Unit = inner.drop(table)
    }
    val g = new Graft(spark, _ => (src, new InMemoryConnector))
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    val body = """{"sourceDir": "mem://s", "destDir": "mem://d", "tables": ["t"]}"""
    try {
      assert(send("POST", s"$base/tasks/jobBad", body).statusCode() == 202)
      val deadline = System.nanoTime() + 30L * 1000000000L
      var node = mapper.readTree(send("GET", s"$base/tasks/jobBad/_run").body())
      while (node.get("state").asText() == "planning" && System.nanoTime() < deadline) {
        Thread.sleep(50)
        node = mapper.readTree(send("GET", s"$base/tasks/jobBad/_run").body())
      }
      assert(node.get("state").asText() == "plan_failed")
      assert(node.get("error").asText().contains("source exploded"))
      assert(send("GET", s"$base/tasks/jobBad").statusCode() == 404, "failed plan adds no task")
      // plan_failed does not wedge the id: a fixed source resubmits fine
      broken.set(false)
      assert(addTaskAwait(base, "jobBad", body) == 1)
      // run it so the task has REAL history, then fail a RE-plan: the
      // live task and its run summary must survive (a healthy task must
      // not read as broken because a re-plan attempt died)
      assert(send("POST", s"$base/tasks/jobBad/_run").statusCode() == 202)
      assert(pollRun(base, "jobBad").get("state").asText() == "done")
      broken.set(true)
      assert(send("POST", s"$base/tasks/jobBad", body).statusCode() == 202)
      val deadline2 = System.nanoTime() + 30L * 1000000000L
      var after = mapper.readTree(send("GET", s"$base/tasks/jobBad/_run").body())
      while (after.get("state").asText() == "planning" && System.nanoTime() < deadline2) {
        Thread.sleep(50)
        after = mapper.readTree(send("GET", s"$base/tasks/jobBad/_run").body())
      }
      assert(after.get("state").asText() == "done",
        s"failed re-plan must restore the real run history, got: $after")
      assert(send("GET", s"$base/tasks/jobBad").statusCode() == 200, "old task stays live")
      // the restored summary alone would make a failed re-plan
      // indistinguishable from a successful one — lastPlanError is the
      // client-visible record that the new spec was never applied
      assert(after.get("lastPlanError").asText().contains("source exploded"),
        s"_run must surface the re-plan failure: $after")
      val taskView = mapper.readTree(send("GET", s"$base/tasks/jobBad").body())
      assert(taskView.get("lastPlanError").asText().contains("source exploded"),
        s"GET /tasks/id must surface the re-plan failure: $taskView")
      // a subsequent SUCCESSFUL re-plan clears the record (backlog is 0:
      // the incremental re-plan sees the completed transfer and plans
      // nothing new — P5 semantics, not a failed plan)
      broken.set(false)
      assert(addTaskAwait(base, "jobBad", body) == 0)
      assert(!mapper.readTree(send("GET", s"$base/tasks/jobBad").body()).has("lastPlanError"),
        "a successful re-plan must clear lastPlanError")
      assert(!mapper.readTree(send("GET", s"$base/tasks/jobBad/_run").body()).has("lastPlanError"))
    } finally api.close()
  }

  test("POST /maintenance/assets_increment: publishes the append's assets by increment; bad family is a 400") {
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_inc_api").toString
    spark.conf.set("spark.graft.index.dir", root)
    val g = new Graft(spark)
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val oldDir = java.nio.file.Files.createTempDirectory("graft_inc_api_old").toString
      val newDir = java.nio.file.Files.createTempDirectory("graft_inc_api_new").toString
      val emb = Tables.embeddings(spark, sf)
      val docs = Tables.documents(spark, sf)
      val cutV = emb.agg(max(col("vec_id"))).head().getLong(0) * 9 / 10
      val cutD = docs.agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
      emb.filter(col("vec_id") < cutV).write.parquet(s"$oldDir/embeddings.parquet")
      docs.filter(col("doc_id") < cutD).write.parquet(s"$oldDir/documents.parquet")
      emb.write.parquet(s"$newDir/embeddings.parquet")
      docs.write.parquet(s"$newDir/documents.parquet")
      Similarity.dropInMemoryIndexes(); Dedup.dropInMemoryNgramTables()
      // standing assets exist (the pre-append state)
      Similarity.corpusKnnEdgesPath(spark, oldDir)
      Similarity.corpusBandedEmbeddings(spark, oldDir).count()
      Dedup.corpusGramDf(spark, oldDir).count()
      val inc0 = Similarity.knnIncrementBuilds.get()
      val r = send("POST", s"$base/maintenance/assets_increment",
        s"""{"oldDir": "$oldDir", "dir": "$newDir"}""")
      assert(r.statusCode() == 200, r.body())
      val pub = mapper.readTree(r.body()).get("published")
      assert(pub.get("knn_edges").asLong() > 0 && pub.get("gram_stats").asLong() > 0, r.body())
      assert(Similarity.knnIncrementBuilds.get() == inc0 + 1, "edges must publish by increment")
      // the published addresses now serve loads with no further builds
      Similarity.dropInMemoryIndexes(); Dedup.dropInMemoryNgramTables()
      val kb0 = Similarity.knnAssetBuilds.get()
      val gb0 = Dedup.ngramAssetBuilds.get()
      Similarity.corpusKnnEdges(spark, newDir).count()
      Dedup.corpusGramDf(spark, newDir).count()
      assert(Similarity.knnAssetBuilds.get() == kb0 && Dedup.ngramAssetBuilds.get() == gb0,
        "consumers must LOAD the published assets")
      assert(send("POST", s"$base/maintenance/assets_increment",
        s"""{"oldDir": "$oldDir", "dir": "$newDir", "families": ["nope"]}""").statusCode() == 400)
    } finally {
      api.close()
      Similarity.dropInMemoryIndexes(); Dedup.dropInMemoryNgramTables()
      spark.conf.unset("spark.graft.index.dir")
      spark.catalog.clearCache()
    }
  }

  test("POST /maintenance/ngram_staleness: unpinned corpus reads pinned=false (r19)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_stale_api").toString
    spark.conf.set("spark.graft.index.dir", root)
    val g = new Graft(spark)
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_stale_api_c").toString
      Tables.documents(spark, sf).filter(col("doc_id") < 40)
        .write.parquet(s"$dir/documents.parquet")
      Dedup.dropInMemoryNgramTables()
      // a FULL-built index carries no order pin — the route must say so
      // rather than invent a drift number (the pinned path's numbers are
      // pinned in AssetStoreSpec's drifted-chain test + the rows map)
      Dedup.corpusNgramIndex(spark, dir).count()
      val r = send("POST", s"$base/maintenance/ngram_staleness", s"""{"dir": "$dir"}""")
      assert(r.statusCode() == 200, r.body())
      val node = mapper.readTree(r.body())
      assert(!node.get("pinned").asBoolean() && node.get("staleness") == null, r.body())
      // a legacy old_dir field is ignored
      val r2 = send("POST", s"$base/maintenance/ngram_staleness",
        s"""{"dir": "$dir", "old_dir": "$dir"}""")
      assert(r2.statusCode() == 200 && r2.body() == r.body(), r2.body())
    } finally {
      api.close()
      Dedup.dropInMemoryNgramTables()
      spark.conf.unset("spark.graft.index.dir")
      spark.catalog.clearCache()
    }
  }

  test("POST /maintenance/assets_gc: dry-run previews, explicit dryRun=false sweeps, empty corpora is a 400") {
    import graft.engine.AssetStore
    val root = java.nio.file.Files.createTempDirectory("graft_gc_api").toString
    spark.conf.set("spark.graft.index.dir", root)
    val g = new Graft(spark)
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      // a live corpus anchors one asset; a dead-fingerprint asset is sweepable
      val corpus = java.nio.file.Files.createTempDirectory("graft_gc_api_corpus").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(corpus, "t.parquet"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(corpus, "t.parquet", "f"), "v1")
      val fp = AssetStore.corpusFingerprint(spark, corpus, "t.parquet")
      val v = AssetStore.FormatVersion
      def publish(id: String): Unit = AssetStore.resolve(spark, id, staging =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(staging, "d"), "x"))
      publish(s"live_k3_v${v}_$fp")
      publish(s"stale_k3_v${v}_${"0" * 16}")
      val corporaJson = s"""{"corpora": [{"dir": "$corpus", "table": "t.parquet"}]}"""

      // guard rails: empty/missing corpora refuse rather than sweep-all
      assert(send("POST", s"$base/maintenance/assets_gc", """{"corpora": []}""").statusCode() == 400)
      assert(send("POST", s"$base/maintenance/assets_gc", "{}").statusCode() == 400)

      // default is DRY-RUN: the stale asset is reported, nothing deleted
      val dry = mapper.readTree(send("POST", s"$base/maintenance/assets_gc", corporaJson).body())
      assert(dry.get("dryRun").asBoolean() &&
        dry.get("swept").get(0).asText() == s"stale_k3_v${v}_${"0" * 16}")
      assert(new java.io.File(s"$root/stale_k3_v${v}_${"0" * 16}").exists, "dry run must not delete")

      // explicit dryRun=false performs the sweep; the live asset survives
      val wet = mapper.readTree(send("POST", s"$base/maintenance/assets_gc",
        corporaJson.dropRight(1) + """, "dryRun": false}""").body())
      assert(!wet.get("dryRun").asBoolean() && wet.get("swept").size() == 1)
      assert(!new java.io.File(s"$root/stale_k3_v${v}_${"0" * 16}").exists, "sweep must delete")
      assert(new java.io.File(s"$root/live_k3_v${v}_$fp").exists, "live asset must survive")
    } finally {
      api.close()
      spark.conf.unset("spark.graft.index.dir")
    }
  }

  test("append runbook end-to-end: land parquet -> POST assets_increment -> POST assets_gc (r17)") {
    import graft.operators.{Dedup, Similarity}
    import graft.engine.AssetStore
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Files.createTempDirectory("graft_runbook_root").toString
    spark.conf.set("spark.graft.index.dir", root)
    val g = new Graft(spark)
    val api = new HttpApi(g).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    val oldDir = Files.createTempDirectory("graft_runbook_old").toString
    val newDir = Files.createTempDirectory("graft_runbook_new").toString
    Similarity.dropInMemoryIndexes(); Dedup.dropInMemoryNgramTables()
    try {
      // STEP 0 (ingest, outside the runbook): the batch lands as new
      // part files NEXT TO the standing ones — the log-structured shape
      // the metadata append proof recognizes
      def landAppend(table: String, idCol: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val cut = df.agg(max(col(idCol))).head().getLong(0) * 9 / 10
        df.filter(col(idCol) < cut).write.parquet(s"$oldDir/$table")
        Files.createDirectories(Paths.get(s"$newDir/$table"))
        Files.list(Paths.get(s"$oldDir/$table")).forEach(p =>
          Files.copy(p, Paths.get(s"$newDir/$table/${p.getFileName}"),
            StandardCopyOption.COPY_ATTRIBUTES))
        val tmp = Files.createTempDirectory("graft_runbook_batch").toString
        df.filter(col(idCol) >= cut).write.parquet(s"$tmp/b.parquet")
        Files.list(Paths.get(s"$tmp/b.parquet"))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => Files.move(p, Paths.get(s"$newDir/$table/part-batch-${p.getFileName}")))
      }
      landAppend("embeddings.parquet", "vec_id", Tables.embeddings(spark, sf))
      landAppend("documents.parquet", "doc_id", Tables.documents(spark, sf))
      // standing assets exist from the previous corpus generation —
      // including the second-tier derivations (r18: verified pair
      // graph, triangle stats)
      Similarity.corpusKnnEdges(spark, oldDir).count()
      Dedup.corpusGramDf(spark, oldDir).count()
      Dedup.corpusMinhashPairs(spark, oldDir).count()
      Similarity.corpusTriangleStats(spark, oldDir).count()
      Dedup.corpusNgramIndex(spark, oldDir).count()

      // STEP 1: the ONE call an append workflow makes — publish the new
      // corpus's assets by increment; the pure-append precondition is
      // validated from METADATA here (zero data jobs), with the digest
      // join only on ambiguous listings and full rebuild on violation
      val proofs0 = AssetStore.metadataAppendProofs.get()
      val inc = send("POST", s"$base/maintenance/assets_increment",
        s"""{"oldDir": "$oldDir", "dir": "$newDir"}""")
      assert(inc.statusCode() == 200, inc.body())
      val pub = mapper.readTree(inc.body()).get("published")
      assert(pub.get("knn_edges").asLong() > 0 && pub.get("gram_stats").asLong() > 0, inc.body())
      // r18: the default families now cover the second tier too
      assert(pub.has("minhash_pairs") && pub.get("tristats").asLong() > 0 &&
        pub.get("ngram_index").asLong() > 0, inc.body())
      assert(AssetStore.metadataAppendProofs.get() > proofs0,
        "the append-shaped landing must validate via the metadata proof")

      // STEP 2: retire the previous generation's assets — gc against
      // the corpora the deployment still queries (dry-run previews,
      // then the explicit sweep)
      val corporaJson =
        s"""{"corpora": [{"dir": "$newDir", "table": "embeddings.parquet"},
           | {"dir": "$newDir", "table": "documents.parquet"}]}""".stripMargin
      val dry = mapper.readTree(send("POST", s"$base/maintenance/assets_gc", corporaJson).body())
      assert(dry.get("dryRun").asBoolean() && dry.get("swept").size() > 0,
        s"old-generation assets must be sweepable: ${dry.toString.take(300)}")
      val wet = mapper.readTree(send("POST", s"$base/maintenance/assets_gc",
        corporaJson.dropRight(1) + """, "dryRun": false}""").body())
      assert(wet.get("swept").size() == dry.get("swept").size())

      // the runbook leaves the system serving: every consumer loads the
      // published new-corpus assets with zero builds
      Similarity.dropInMemoryIndexes(); Dedup.dropInMemoryNgramTables()
      val kb0 = Similarity.knnAssetBuilds.get()
      val gb0 = Dedup.ngramAssetBuilds.get()
      val pb0 = Dedup.minhashPairBuilds.get()
      val tb0 = Similarity.triangleAssetBuilds.get()
      assert(Similarity.corpusKnnEdges(spark, newDir).count() > 0)
      assert(Dedup.corpusGramDf(spark, newDir).count() > 0)
      assert(Dedup.corpusMinhashPairs(spark, newDir).count() >= 0)
      assert(Similarity.corpusTriangleStats(spark, newDir).count() > 0)
      assert(Dedup.corpusNgramIndex(spark, newDir).count() > 0)
      assert(Similarity.knnAssetBuilds.get() == kb0 && Dedup.ngramAssetBuilds.get() == gb0 &&
          Dedup.minhashPairBuilds.get() == pb0 && Similarity.triangleAssetBuilds.get() == tb0,
        "post-runbook consumers must LOAD, not rebuild")
    } finally {
      api.close()
      Similarity.dropInMemoryIndexes(); Dedup.dropInMemoryNgramTables()
      spark.conf.unset("spark.graft.index.dir")
      spark.catalog.clearCache()
    }
  }

  test("api key gate: absent key is 400, wrong key is 401, right key passes") {
    val g = new Graft(spark)
    val api = new HttpApi(g, apiKey = Some("sekrit")).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      assert(send("GET", s"$base/status").statusCode() == 400)
      assert(send("GET", s"$base/status", headers = Map("api_key" -> "wrong")).statusCode() == 401)
      assert(send("GET", s"$base/status", headers = Map("api_key" -> "sekrit")).statusCode() == 200)
    } finally api.close()
  }
}
