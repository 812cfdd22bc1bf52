package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.Graft
import graft.model._
import graft.transform.ExprMutators

/** The thin HTTP control surface over [[graft.Graft]] — route-for-route
  * parity with the reference's Express API (`app/routes.js:10-48`,
  * `app/api/index.js:8-14`), on the JDK's built-in HttpServer so the
  * library adds no dependency:
  *
  *   POST   /_start                      resume worker consumption
  *   POST   /_stop                       stop + cancel in-flight job group
  *   GET    /status                      {manager, tasks}
  *   GET    /tasks                       {taskId: status} for every task
  *   POST   /tasks/{id}                  add a task (202; async planning — see note)
  *   GET    /tasks/{id}                  status + per-subtask progress
  *   DELETE /tasks/{id}                  remove task + its namespace
  *   GET    /tasks/{id}/errors           recorded subtask errors
  *   POST   /tasks/{id}/_run             start draining the backlog (202; see note)
  *   GET    /tasks/{id}/_run             state of the latest run (poll target)
  *   GET    /mutators/{ns}               {ids} in a namespace
  *   GET    /mutators/{ns}/{id}          read back one registered mutator
  *   POST   /mutators/{ns}/{id}          register a SQL-expr mutator
  *   DELETE /mutators/{ns}/{id}          remove a mutator
  *   POST   /maintenance/assets_gc       sweep the asset warehouse (dry-run default)
  *   POST   /maintenance/assets_increment publish a corpus append's assets by increment
  *   POST   /maintenance/ngram_staleness  read the pinned ngram order's drift metric
  *   GET    /filters/{ns}                {ids} in a namespace
  *   GET    /filters/{ns}/{id}           read back one stored filter
  *   POST   /filters/{ns}/{id}           store a metadata filter
  *   DELETE /filters/{ns}/{id}           remove a filter
  *
  * Task body: `{"sourceDir": "...", "destDir": "...", "tables": [...],
  * "mutators": ["ns/id", ...], "filters": ["ns/id", ...],
  * "sizeCols": {"table": "col"}}`.
  * Filter body: `{"type": "index" | "type", "pattern": "<anchored regex>"}`
  * — the `/filters` store of `filters.js:39-126` with a declarative
  * pattern instead of uploaded JS.
  * Mutator body: `{"type": "drop", "predicate": "l_quantity < 10"}` or
  * `{"type": "withColumn", "column": "x", "expr": "price * 100"}` —
  * SQL expressions compiled by Catalyst, the engine's replacement for
  * the reference's uploaded-JS compiler (`compiler.js:6-12`).
  *
  * Deviation from the reference, by design: there is no worker fleet
  * polling Redis — the Spark driver IS the worker — so draining a
  * backlog is the explicit `POST /tasks/{id}/_run` instead of an
  * implicit background pickup (`worker.js:61-123`). The run is
  * ASYNCHRONOUS: the POST claims the task (409 if a run is already in
  * flight), submits the drain to a background thread, and answers 202;
  * clients poll `GET /tasks/{id}/_run` for `{state, completed,
  * rowsWritten}`. Task SUBMISSION follows the same shape: the planning
  * scan (size-stat jobs over the source) runs on the background pool,
  * the POST answers 202 `{"state": "planning"}` after synchronous
  * reference validation (unknown mutators/filters still 404 at
  * submit), and clients poll `GET /tasks/{id}` (404 until planned) or
  * `GET /tasks/{id}/_run` ("planning" → prior summary, or
  * "plan_failed" + error). The reference's synchronous `POST
  * /tasks/:id` (`tasks.js`) blocks its event loop the same way the old
  * dispatch-thread plan blocked ours — at real table sizes that is a
  * minutes-long hung request, so async-with-poll is the deliberate
  * deviation. Requests are dispatched on a small thread pool so
  * `/_stop` (and status/errors reads) stay deliverable while a run is
  * in flight — a single-threaded dispatcher would make the stop
  * undeliverable exactly when it matters. An `api_key` header check
  * mirrors `routes.js:14-35` when a key is configured.
  */
final class HttpApi(g: Graft, port: Int = 0, apiKey: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  private def daemonFactory(prefix: String): ThreadFactory = new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  }
  // request dispatch pool: sized for "a run + a handful of control-plane
  // calls", not throughput — this is an admin surface
  private val httpExec = Executors.newFixedThreadPool(8, daemonFactory("graft-http"))
  // backlog drains run here, detached from the request that started them
  private val runExec = Executors.newCachedThreadPool(daemonFactory("graft-run"))

  /** Poll payload for `GET /tasks/{id}/_run`. `state` is one of
    * `planning` | `plan_failed` | `running` | `done` | `failed`; a
    * `/_stop`-interrupted run still lands `done`. As in [[Graft.runTask]],
    * every cancelled in-flight subtask is recorded as an error; they and
    * the subtasks never started stay in the backlog for resume.
    */
  private final case class RunSummary(
      state: String, completed: Int, rowsWritten: Long, error: Option[String])
  private val runs = new ConcurrentHashMap[String, RunSummary]()
  /** Last ASYNC RE-PLAN failure per task. A failed re-plan of an
    * existing task deliberately restores the prior run summary (the
    * task and its old plan stay fully live), but the 202-then-poll
    * contract would otherwise make that indistinguishable from a
    * successful re-plan — clients need to learn the new spec was never
    * applied. Cleared by the next successful plan of the same id.
    */
  private val planErrors = new ConcurrentHashMap[String, String]()

  def boundPort: Int = server.getAddress.getPort

  def start(): HttpApi = { server.setExecutor(httpExec); server.start(); this }

  def close(): Unit = { server.stop(0); httpExec.shutdown(); runExec.shutdown() }

  server.createContext("/", (ex: HttpExchange) => handle(ex))

  // ------------------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    try {
      val method = ex.getRequestMethod.toUpperCase
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
      if (!checkApiKey(ex)) return
      (method, segs) match {
        case ("POST", List("_start"))   => g.start(); json(ex, 200, Map.empty)
        case ("POST", List("_stop"))    => g.stop(); json(ex, 200, Map.empty)
        case ("GET", List("status"))    => getStatus(ex)
        case ("GET", List("tasks"))     => getAllTasks(ex)
        case ("POST", List("tasks", id))   => addTask(ex, id)
        case ("GET", List("tasks", id))    => getTask(ex, id)
        case ("DELETE", List("tasks", id)) =>
          // the claim marks "running" BEFORE the drain thread starts, so
          // checking it under the runs lock closes the submit-to-start
          // window that Graft's own job-group guard can't see
          runs.synchronized {
            if (Option(runs.get(id)).exists(s => s.state == "running" || s.state == "planning"))
              throw new IllegalStateException(
                s"task '$id' has a run in flight; stop it before deleting")
            g.removeTask(id); runs.remove(id); planErrors.remove(id)
          }
          json(ex, 204, null)
        case ("GET", List("tasks", id, "errors"))  => getErrors(ex, id)
        case ("POST", List("tasks", id, "_run"))   => runTask(ex, id)
        case ("GET", List("tasks", id, "_run"))    => getRun(ex, id)
        case ("GET", List("mutators", ns))         => listMutators(ex, ns)
        case ("GET", List("mutators", ns, id))     => getMutator(ex, ns, id)
        case ("POST", List("mutators", ns, id))    => addMutator(ex, ns, id)
        case ("DELETE", List("mutators", ns, id)) =>
          g.mutators.remove(ObjectId(ns, id)); json(ex, 204, null)
        case ("POST", List("maintenance", "assets_gc")) => gcAssets(ex)
        case ("POST", List("maintenance", "assets_increment")) => incrementAssets(ex)
        case ("POST", List("maintenance", "ngram_staleness")) => ngramStaleness(ex)
        case ("GET", List("filters", ns))          => listFilters(ex, ns)
        case ("GET", List("filters", ns, id))      => getFilter(ex, ns, id)
        case ("POST", List("filters", ns, id))     => addFilter(ex, ns, id)
        case ("DELETE", List("filters", ns, id)) =>
          g.filters.remove(ObjectId(ns, id)); json(ex, 204, null)
        case _ => json(ex, 404, Map("error" -> "Not found"))
      }
    } catch {
      case e: NoSuchElementException => json(ex, 404, Map("error" -> e.getMessage))
      // client-side syntax errors are 4xx, not server faults
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        json(ex, 400, Map("error" -> s"malformed JSON body: ${e.getOriginalMessage}"))
      case e: IllegalArgumentException => json(ex, 400, Map("error" -> e.getMessage))
      // lifecycle conflicts (run in flight, manager stopped) are 409
      case e: IllegalStateException => json(ex, 409, Map("error" -> e.getMessage))
      case e: Exception => json(ex, 500, Map("error" -> e.toString))
    } finally ex.close()
  }

  /** `routes.js:14-35`: when a key is configured, absence is 400 and a
    * mismatch is 401.
    */
  private def checkApiKey(ex: HttpExchange): Boolean = apiKey match {
    case None => true
    case Some(key) =>
      Option(ex.getRequestHeaders.getFirst("api_key")) match {
        case None => json(ex, 400, Map("error" -> "api key required")); false
        case Some(k) if k != key => json(ex, 401, Map("error" -> "unknown api key")); false
        case _ => true
      }
  }

  private def getStatus(ex: HttpExchange): Unit =
    json(ex, 200, Map(
      "manager" -> (if (g.isRunning) "running" else "stopped"),
      "tasks" -> g.listTasks.asJava
    ))

  private def statusMap(id: String): java.util.Map[String, Any] = {
    val st = g.status(id)
    Map[String, Any](
      "total" -> st.total,
      "completed" -> st.completed,
      "backlog" -> st.backlog,
      "percentComplete" -> st.percentComplete
    ).asJava
  }

  private def getAllTasks(ex: HttpExchange): Unit =
    // tolerate a concurrent DELETE between the listing snapshot and the
    // per-task lookup — one vanished member must not 404 the collection
    json(ex, 200, g.listTasks.flatMap { id =>
      try Some(id -> statusMap(id))
      catch { case _: NoSuchElementException => None }
    }.toMap.asJava)

  private def getTask(ex: HttpExchange, id: String): Unit = {
    if (!g.listTasks.contains(id)) { json(ex, 404, Map("error" -> s"task '$id' not found")); return }
    val prog = g.progress(id).map { case (sid, p) =>
      sid -> Map[String, Any](
        "tick" -> p.tick, "transferred" -> p.transferred, "total" -> p.total,
        "worker" -> p.worker, "lastModified" -> p.lastModified.toString
      ).asJava
    }
    val payload = Map[String, Any](
      "status" -> statusMap(id),
      "progress" -> prog.asJava
    )
    json(ex, 200, Option(planErrors.get(id))
      .fold(payload)(e => payload + ("lastPlanError" -> e)))
  }

  private def addTask(ex: HttpExchange, id: String): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    def strs(field: String): Seq[String] =
      Option(body.get(field)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val spec = TaskSpec(
      name = id,
      sourceDir = reqText(body, "sourceDir"),
      destDir = reqText(body, "destDir"),
      tables = strs("tables"),
      indexFilters = strs("filters").map(s => ActionRef(ObjectId.parse(s))),
      mutators = strs("mutators").map(s => ActionRef(ObjectId.parse(s)))
    )
    val sizeCols = Option(body.get("sizeCols"))
      .map(n => n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    // reference validation stays SYNCHRONOUS: registry lookups are
    // control-plane cheap and an unknown mutator/filter must 404 the
    // submit itself, not surface later as an async plan failure
    spec.mutators.foreach(ref => g.mutators.require(ref.id))
    spec.indexFilters.foreach(ref => g.filters.require(ref.id))
    // PLANNING IS ASYNC (the /_run pattern): Planner.expand runs Spark
    // jobs over the source to collect size stats — minutes on a real
    // table — and holding the dispatch thread for it makes the submit a
    // blocked request exactly when the table is big. Claim the id under
    // the runs lock with a "planning" marker (DELETE and _run treat it
    // as busy, closing the submit-to-start window), hand the plan to the
    // background pool, answer 202. Clients poll GET /tasks/{id} (404
    // until planned, then status+backlog) or GET /tasks/{id}/_run
    // (reports "planning", then "plan_failed" with the error, or the
    // prior run summary once planned).
    val prev = runs.synchronized {
      val cur = Option(runs.get(id))
      if (cur.exists(s => s.state == "running" || s.state == "planning"))
        throw new IllegalStateException(
          s"task '$id' has a run in flight; stop it before re-adding")
      runs.put(id, RunSummary("planning", 0, 0L, None))
      // a stale plan_failed from an earlier attempt is control-plane
      // residue, not run history — don't resurrect it after success
      cur.filter(s => s.state != "plan_failed")
    }
    // a failed RE-plan leaves the existing task (and its plan) fully
    // live — don't destroy its real run history or make a healthy task
    // read as broken; only a first add's failure surfaces as plan_failed
    // on the poll target. The re-plan failure is logged AND recorded in
    // [[planErrors]] so a polling client can distinguish it from a
    // successful re-plan (the submit already returned 202).
    def planFailed(e: Throwable): Unit = {
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"async planning for task '$id' failed: $e")
      runs.synchronized {
        if (g.listTasks.contains(id)) {
          planErrors.put(id, e.toString)
          prev match {
            case Some(s) => runs.put(id, s)
            case None    => runs.remove(id)
          }
        }
        else runs.put(id, RunSummary("plan_failed", 0, 0L, Some(e.toString)))
      }
    }
    runExec.submit(new Runnable {
      def run(): Unit =
        try {
          g.addTask(spec, sizeCols)
          planErrors.remove(id)
          runs.synchronized {
            // restore whatever REAL run summary the task had before
            // planning (the marker is control-plane state, not a result)
            prev match {
              case Some(s) => runs.put(id, s)
              case None    => runs.remove(id)
            }
          }
        } catch {
          case NonFatal(e) => planFailed(e)
          case e: Throwable => planFailed(e); throw e
        }
    })
    json(ex, 202, Map("state" -> "planning"))
  }

  private def runTask(ex: HttpExchange, id: String): Unit = {
    // reject at claim time rather than letting the async runnable fail:
    // a run while stopped would otherwise surface as a recorded failure
    if (!g.isRunning) {
      json(ex, 409, Map("error" -> "manager is stopped; POST /_start before running")); return
    }
    // claim atomically: one drain per task at a time. The existence
    // check lives INSIDE the lock because DELETE removes the task under
    // the same lock — outside it, a concurrent delete between check and
    // claim would record a phantom "failed" run for a vanished task.
    val claimed = runs.synchronized {
      if (!g.listTasks.contains(id)) {
        json(ex, 404, Map("error" -> s"task '$id' not found")); return
      }
      Option(runs.get(id)).forall(s => s.state != "running" && s.state != "planning") && {
        runs.put(id, RunSummary("running", 0, 0L, None)); true
      }
    }
    if (!claimed) { json(ex, 409, Map("error" -> s"task '$id' is already running")); return }
    runExec.submit(new Runnable {
      def run(): Unit =
        try {
          val results = g.runTask(id)
          runs.put(id, RunSummary("done", results.size, results.map(_.rowsWritten).sum, None))
        } catch {
          case NonFatal(e) => runs.put(id, RunSummary("failed", 0, 0L, Some(e.toString)))
          case e: Throwable => runs.put(id, RunSummary("failed", 0, 0L, Some(e.toString))); throw e
        }
    })
    json(ex, 202, Map("state" -> "running"))
  }

  private def getRun(ex: HttpExchange, id: String): Unit =
    Option(runs.get(id)) match {
      case None => json(ex, 404, Map("error" -> s"no run recorded for task '$id'"))
      case Some(r) =>
        val base = Map[String, Any](
          "state" -> r.state, "completed" -> r.completed, "rowsWritten" -> r.rowsWritten)
        val withErr = r.error.fold(base)(e => base + ("error" -> e))
        json(ex, 200, Option(planErrors.get(id))
          .fold(withErr)(e => withErr + ("lastPlanError" -> e)))
    }

  private def getErrors(ex: HttpExchange, id: String): Unit = {
    if (!g.listTasks.contains(id)) { json(ex, 404, Map("error" -> s"task '$id' not found")); return }
    val errs = g.errors.getErrors(id).map { e =>
      Map[String, Any](
        "subtask" -> e.subtask, "message" -> e.message, "atMillis" -> e.atMillis
      ).asJava
    }
    json(ex, 200, errs.asJava)
  }

  /** POST /maintenance/assets_gc — the ops entry point for the asset
    * warehouse sweep. Body:
    * `{"corpora": [{"dir": "...", "table": "..."}], "graceMs": n,
    *   "sweepOlderFormats": false, "dryRun": true}`.
    * `corpora` is REQUIRED and non-empty: an empty live set means every
    * current-version asset is "orphaned" — a fat-fingered sweep of the
    * whole warehouse; make the caller say what is live. `dryRun`
    * defaults TRUE (preview); the destructive sweep is the explicit
    * `"dryRun": false`. Runs synchronously — the sweep is one directory
    * listing plus per-corpus metadata listings, control-plane cheap.
    */
  private def gcAssets(ex: HttpExchange): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    val corpora = Option(body.get("corpora"))
      .map(_.elements().asScala.map(n =>
        (reqText(n, "dir"), reqText(n, "table"))).toSeq)
      .getOrElse(Seq.empty)
    if (corpora.isEmpty)
      throw new IllegalArgumentException(
        "corpora must list every live (dir, table) — an empty live set would sweep everything")
    val dryRun = Option(body.get("dryRun")).forall(_.asBoolean(true))
    val swept = g.gcAssets(
      corpora,
      graceMs = Option(body.get("graceMs")).map(_.asLong()).getOrElse(60L * 60 * 1000),
      sweepOlderFormats = Option(body.get("sweepOlderFormats")).exists(_.asBoolean(false)),
      dryRun = dryRun)
    json(ex, 200, Map("dryRun" -> dryRun, "swept" -> swept))
  }

  /** POST /maintenance/assets_increment — publish `dir`'s durable
    * assets after an append of `oldDir` lands ([[graft.Graft.incrementAssets]]:
    * the graph, pair and index families by increment, the gram stats
    * and per-document assets by cold build). Body:
    * `{"oldDir": "...", "dir": "...", "families": ["knn_edges", ...]}`
    * (families optional — defaults to all eight
    * [[graft.Graft.DefaultIncrementFamilies]]). Every increment
    * validates the pure-append precondition itself and falls back to a
    * full rebuild, so the route is safe to call unconditionally; runs
    * synchronously and returns rows per family.
    */
  private def incrementAssets(ex: HttpExchange): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    val families = Option(body.get("families"))
      .map(_.elements().asScala.map(_.asText()).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(Graft.DefaultIncrementFamilies)
    val rows = g.incrementAssets(reqText(body, "oldDir"), reqText(body, "dir"), families)
    json(ex, 200, Map("published" -> rows.map { case (k, v) =>
      k -> java.lang.Long.valueOf(v) }.asJava))
  }

  /** POST /maintenance/ngram_staleness — the standalone read of the
    * pinned-order drift metric (round 19; the `assets_increment` rows
    * map carries the same numbers at publish time — this route lets
    * ops re-read them between appends without publishing anything).
    * Body: `{"dir": "..."}`; other fields (such as a legacy
    * `"old_dir"`) are ignored. The current-df side is `dir`'s gram-stats
    * asset, built once if `assets_increment` has not published it.
    * 200 with the staleness rows for a pinned chain; 200
    * `{"pinned": false}` when the corpus's index is full-built (its
    * order IS the current df — nothing to drift).
    */
  private def ngramStaleness(ex: HttpExchange): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    graft.operators.Dedup.ngramOrderStaleness(g.spark, reqText(body, "dir")) match {
      case Some(rows) =>
        json(ex, 200, Map("pinned" -> java.lang.Boolean.TRUE,
          "staleness" -> rows.map { case (k, v) =>
            k -> java.lang.Long.valueOf(v) }.asJava))
      case None =>
        json(ex, 200, Map("pinned" -> java.lang.Boolean.FALSE))
    }
  }

  private def listMutators(ex: HttpExchange, ns: String): Unit =
    json(ex, 200, Map("ids" -> g.mutators.list(ns).asJava))

  /** Single-item read-back (`mutators.controller.js:12-36` parity). For
    * HTTP-registered mutators the expressions round-trip as Catalyst's
    * rendering of the uploaded SQL strings; programmatically registered
    * Column mutators render the same way.
    */
  private def getMutator(ex: HttpExchange, ns: String, id: String): Unit =
    g.mutators.get(ObjectId(ns, id)) match {
      case None => json(ex, 404, Map("error" -> s"mutator '$ns/$id' not found"))
      case Some(m) =>
        import graft.transform._
        val fields: Map[String, Any] = m match {
          case DropMutator(oid, pred) =>
            Map("id" -> oid.toString, "type" -> "drop", "predicate" -> pred.toString)
          case WithColumnMutator(oid, c, e) =>
            Map("id" -> oid.toString, "type" -> "withColumn", "column" -> c, "expr" -> e.toString)
          case AssignMutator(oid, pred, assigns) =>
            Map("id" -> oid.toString, "type" -> "assign", "predicate" -> pred.toString,
              "assigns" -> assigns.map { case (c, e) => c -> e.toString }.toMap)
        }
        json(ex, 200, fields)
    }

  private def listFilters(ex: HttpExchange, ns: String): Unit =
    json(ex, 200, Map("ids" -> g.filters.list(ns).asJava))

  private def getFilter(ex: HttpExchange, ns: String, id: String): Unit =
    g.filters.get(ObjectId(ns, id)) match {
      case None => json(ex, 404, Map("error" -> s"filter '$ns/$id' not found"))
      case Some(f) =>
        json(ex, 200, Map(
          "id" -> f.id.toString, "type" -> f.kind, "pattern" -> f.pattern))
    }

  private def addFilter(ex: HttpExchange, ns: String, id: String): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    // the constructor rejects a bad pattern, so it 400s here, at the store
    val f = graft.transform.StoredFilter(
      ObjectId(ns, id), reqText(body, "type"), reqText(body, "pattern"))
    g.filters.add(f.id, f)
    json(ex, 200, Map.empty)
  }

  private def addMutator(ex: HttpExchange, ns: String, id: String): Unit = {
    val body = mapper.readTree(ex.getRequestBody)
    val oid = ObjectId(ns, id)
    val m = reqText(body, "type") match {
      case "drop" =>
        ExprMutators.drop(oid, reqText(body, "predicate"))
      case "withColumn" =>
        ExprMutators.withColumn(oid, reqText(body, "column"), reqText(body, "expr"))
      case "assign" =>
        val assigns = Option(body.get("assigns"))
          .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq)
          .getOrElse(Seq.empty)
        ExprMutators.assign(oid, reqText(body, "predicate"), assigns: _*)
      case other =>
        throw new IllegalArgumentException(s"unknown mutator type: $other")
    }
    g.mutators.add(oid, m)
    json(ex, 200, Map.empty)
  }

  // ------------------------------------------------------------------

  private def reqText(body: JsonNode, field: String): String =
    Option(body.get(field)).map(_.asText())
      .getOrElse(throw new IllegalArgumentException(s"missing field: $field"))

  private def json(ex: HttpExchange, code: Int, payload: Any): Unit = {
    val bytes = payload match {
      case null => Array.empty[Byte]
      case m: Map[_, _] => mapper.writeValueAsBytes(toJava(m))
      case other => mapper.writeValueAsBytes(toJava(other))
    }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // -1 = no body (204); otherwise exact length
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      os.write(bytes); os.flush(); os.close()
    }
  }

  /** jackson-databind (already on Spark's classpath) serializes java
    * collections natively; convert the Scala shapes at the boundary.
    */
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}
