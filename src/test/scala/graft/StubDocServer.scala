package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process document store speaking the scroll/bulk wire shapes of
  * [[graft.sources.HttpScrollConnector]] — the test double standing in
  * for a live search cluster (what the reference spins real containers
  * for). Failure injection knobs:
  *
  *  - `rejectFirstBulkPosts`: the first N `_bulk` posts reject every
  *    ODD item with `es_rejected_execution_exception` (per-item triage
  *    + retry path, `transfer.js:306-352`) while even items succeed —
  *    so a correct client must keep the successes and re-post only the
  *    rejected half.
  *  - `failFirstScrolls`: the first N scroll CONTINUATIONS return 500
  *    (the transport-retry path, `transfer.js:79-87`).
  *  - `rejectAllBulkItems`: every item of every post rejects — the
  *    retry-budget-exhaustion path (`transfer.js:336-337`).
  *  - `rejectAllFirstBulkPosts`: the first N posts reject EVERY item
  *    (transient full-queue starvation) — the whole batch must re-post
  *    and converge once the overload clears.
  *  - `invalidateScrollAfterPages`: after serving N pages (search +
  *    scroll combined) all live scroll contexts are dropped ONCE — the
  *    mid-scroll server-restart / context-expiry path; continuations
  *    then see 404 and must resume, not truncate.
  */
final class StubDocServer(
    rejectFirstBulkPosts: Int = 0,
    failFirstScrolls: Int = 0,
    rejectAllBulkItems: Boolean = false,
    rejectAllFirstBulkPosts: Int = 0,
    invalidateScrollAfterPages: Int = 0
) {
  private val mapper = new ObjectMapper()
  // table -> insertion-ordered (id -> source json); Vector of pairs with
  // last-write-wins upsert by id
  private val tables = TrieMap[String, Vector[(String, String)]]()
  // scrollId -> (table, slice, slices, pageSize, position)
  private val scrolls = TrieMap[String, (String, Int, Int, Int, Int)]()
  private val bulkRejectsLeft = new AtomicInteger(rejectFirstBulkPosts)
  private val bulkAllRejectsLeft = new AtomicInteger(rejectAllFirstBulkPosts)
  private val scrollFailsLeft = new AtomicInteger(failFirstScrolls)
  private val pagesServed = new AtomicInteger(0)
  val bulkPosts = new AtomicInteger(0)
  /** `_search` calls served: one per scroll opened. */
  val scrollOpens = new AtomicInteger(0)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  def docs(table: String): Vector[(String, String)] = tables.getOrElse(table, Vector.empty)
  def seedTable(table: String, rows: Seq[(String, String)]): Unit =
    tables.put(table, rows.toVector)

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq).getOrElse(Seq.empty)
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
    ex.close()
  }

  private def sliceOf(idx: Int, slices: Int): Int = idx % slices

  private def pageJson(scrollId: String, total: Int, hits: Seq[(String, String)]): String = {
    val hitJson = hits.map { case (id, src) =>
      s"""{"_id":${mapper.writeValueAsString(id)},"_source":$src}"""
    }.mkString(",")
    s"""{"_scroll_id":${mapper.writeValueAsString(scrollId)},"hits":{"total":$total,"hits":[$hitJson]}}"""
  }

  private def servePage(scrollId: String): String = {
    val (table, slice, slices, pageSize, pos) = scrolls(scrollId)
    val all = tables.getOrElse(table, Vector.empty)
      .zipWithIndex.collect { case (doc, i) if sliceOf(i, slices) == slice => doc }
    val page = all.slice(pos, pos + pageSize)
    scrolls.put(scrollId, (table, slice, slices, pageSize, pos + page.size))
    // the restart-injection knob: one mass scroll-context drop at page N
    if (invalidateScrollAfterPages > 0 &&
        pagesServed.incrementAndGet() == invalidateScrollAfterPages)
      scrolls.clear()
    pageJson(scrollId, all.size, page)
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    val q = query(ex)
    (ex.getRequestMethod, path) match {
      case ("GET", "/_count") =>
        tables.get(q("table")) match {
          case Some(rows) => respond(ex, 200, s"""{"count":${rows.size}}""")
          case None       => respond(ex, 404, """{"error":"no such table"}""")
        }

      case ("GET", "/_tables") =>
        respond(ex, 200,
          tables.keySet.toSeq.sorted.map(mapper.writeValueAsString).mkString("[", ",", "]"))

      case ("DELETE", "/_table") =>
        if (tables.remove(q("table")).isDefined) respond(ex, 200, "{}")
        else respond(ex, 404, """{"error":"no such table"}""")

      case ("POST", "/_search") =>
        scrollOpens.incrementAndGet()
        val table = q("table")
        if (!tables.contains(table)) { respond(ex, 404, """{"error":"no such table"}"""); return }
        val scrollId = java.util.UUID.randomUUID().toString
        scrolls.put(scrollId,
          (table, q.getOrElse("slice", "0").toInt, q.getOrElse("slices", "1").toInt,
            q.getOrElse("size", "500").toInt, 0))
        respond(ex, 200, servePage(scrollId))

      case ("POST", "/_scroll") =>
        if (scrollFailsLeft.getAndUpdate(n => math.max(0, n - 1)) > 0) {
          respond(ex, 500, """{"error":"injected scroll failure"}"""); return
        }
        scrolls.get(q("id")) match {
          case Some(_) => respond(ex, 200, servePage(q("id")))
          case None    => respond(ex, 404, """{"error":"unknown scroll id"}""")
        }

      case ("POST", "/_bulk") =>
        bulkPosts.incrementAndGet()
        val table = q("table")
        val lines = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          .split("\n").filter(_.nonEmpty)
        val pairs = lines.grouped(2).map { g =>
          val id = mapper.readTree(g(0)).path("index").path("_id").asText()
          (id, g(1))
        }.toVector
        val rejectOdd = bulkRejectsLeft.getAndUpdate(n => math.max(0, n - 1)) > 0
        val rejectAll = rejectAllBulkItems ||
          bulkAllRejectsLeft.getAndUpdate(n => math.max(0, n - 1)) > 0
        val items = pairs.zipWithIndex.map { case ((id, src), i) =>
          if (rejectAll || (rejectOdd && i % 2 == 1))
            s"""{"index":{"_id":${mapper.writeValueAsString(id)},"status":429,"error":{"type":"es_rejected_execution_exception","reason":"injected"}}}"""
          else {
            tables.updateWith(table) {
              case Some(rows) =>
                val at = rows.indexWhere(_._1 == id)
                Some(if (at >= 0) rows.updated(at, (id, src)) else rows :+ ((id, src)))
              case None => Some(Vector((id, src)))
            }
            s"""{"index":{"_id":${mapper.writeValueAsString(id)},"status":201}}"""
          }
        }
        val anyErr = rejectAll || (rejectOdd && pairs.size > 1)
        respond(ex, 200, s"""{"errors":$anyErr,"items":[${items.mkString(",")}]}""")

      case _ => respond(ex, 404, """{"error":"no such route"}""")
    }
  } catch {
    case e: Throwable => respond(ex, 500, s"""{"error":${mapper.writeValueAsString(e.toString)}}""")
  }
}
