package graft.sources

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URL, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.engine.ResilientSink

/** Network-backed scroll/bulk connector over HTTP — the over-the-wire
  * implementation of the reference's one connector pair: scroll-paged
  * reads (`/root/reference/app/services/transfer.js:79-151`), flush-batched
  * bulk writes (`transfer.js:44-77`), and PER-ITEM error triage with
  * jittered retry on overload (`transfer.js:306-352`, via
  * [[graft.engine.ResilientSink]]).
  *
  * Spark-first shape, unlike the reference's single sequential scroll:
  *
  *  - `scan` is a SLICED scroll — one independent scroll stream per
  *    Spark partition (`slice=i of m`, the distributed-scroll idiom), so
  *    read throughput scales with executors and no page ever transits
  *    the driver. Each partition's iterator pulls pages lazily; a page
  *    fetch retries up to [[HttpScrollConnector.ScrollRetries]] times on
  *    transport errors (the reference's `self.scroll`/`self.search`
  *    retry wrappers, `transfer.js:79-87`).
  *  - `bulk` runs per-partition: rows stream into an NDJSON buffer
  *    flushed every `flushSize` docs; item-level failures are triaged —
  *    `es_rejected_execution_exception` re-queues JUST the rejected
  *    items and backs off with jitter (≤5 retries), anything else fails
  *    the task. Document ids are (partition, ordinal) — deterministic
  *    under task replays, so a retried task upserts the same ids and
  *    the write stays idempotent.
  *  - `bulk` REPLACES table contents (the [[DocConnector]] contract):
  *    a delete-table call precedes the partition writes.
  *
  * Addressing uses query parameters (`?table=...`) rather than
  * path-embedded names so slice-qualified tables ("t/slice1") stay
  * URL-safe. Documents travel as JSON objects; `scan` rebuilds the
  * DataFrame via JSON inference, which costs an extra pass over every
  * slice when the scan is resolved (once per kept table in a reindex
  * plan) — like the csv/json [[FormatConnector]], pass a schema-bearing
  * format for the 100 TB steady state, or keep this connector for
  * ingest/egress edges.
  *
  * Wire shapes (the stub server in ConnectorContractSpec speaks the
  * same):
  * {{{
  *  POST /_search?table=T&slice=I&slices=M&size=K  -> {"_scroll_id": S, "hits": {"total": N, "hits": [{"_id": .., "_source": {..}}]}}
  *  POST /_scroll?id=S                             -> same shape (empty hits = end)
  *  POST /_bulk?table=T   (NDJSON action/source)   -> {"errors": B, "items": [{"index": {"_id": .., "status": .., "error": {"type": ..}?}}]}
  *  GET  /_count?table=T                           -> {"count": N} (404 when absent)
  *  GET  /_tables                                  -> ["t1", "t2", ...]
  *  DELETE /_table?table=T                         -> 200/404
  * }}}
  */
class HttpScrollConnector(
    baseUrl: String,
    pageSize: Int = 500,
    slices: Int = 4,
    flushSize: Int = 500,
    sleepMs: Long => Unit = Thread.sleep,
    backoffSeed: Option[Long] = None
) extends DocConnector with Serializable {
  import HttpScrollConnector._

  require(pageSize > 0 && slices > 0 && flushSize > 0, "positive pageSize/slices/flushSize")

  override def scan(spark: SparkSession, table: String): DataFrame =
    spark.read.json(rawScan(spark, table))

  /** Schema-bearing scan: `from_json` with the caller's schema instead
    * of `spark.read.json` inference, which runs a SECOND full pass over
    * every scroll stream just to discover the columns (and re-scrolls
    * the server). One scroll, one job — the 100 TB steady-state shape;
    * the inferring overload stays for exploratory reads. Fields absent
    * from a document land null; `from_json`'s default PERMISSIVE mode
    * nulls out documents that fail to parse instead of failing the
    * task.
    */
  def scan(
      spark: SparkSession,
      table: String,
      schema: org.apache.spark.sql.types.StructType
  ): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    rawScan(spark, table)
      .select(from_json(col("value"), schema).as("doc"))
      .select("doc.*")
  }

  /** The shared scroll stage: existence probe + one `Dataset[String]` of
    * raw `_source` JSON, `slices` partitions, pages pulled lazily inside
    * each partition.
    */
  private def rawScan(spark: SparkSession, table: String) = {
    // fail-fast existence probe on the DRIVER: a missing table must
    // throw at scan time, not as a task failure mid-job (contract:
    // "absent table fails loudly, never returns empty")
    val probe = request("GET", s"$baseUrl/_count?table=${enc(table)}", None)
    if (probe.status == 404)
      throw new NoSuchElementException(s"no such table: $table")
    require(probe.status == 200, s"_count for '$table' returned ${probe.status}")
    val (base, ps, m) = (baseUrl, pageSize, slices)
    spark.createDataset(
      spark.sparkContext
        .parallelize(0 until m, m)
        .flatMap(sliceId => new ScrollPageIterator(base, table, sliceId, m, ps))
    )(Encoders.STRING)
  }

  /** 404 = the table did not exist. */
  override def drop(table: String): Unit = {
    val del = request("DELETE", s"$baseUrl/_table?table=${enc(table)}", None)
    require(del.status == 200 || del.status == 404, s"delete '$table' returned ${del.status}")
  }

  override def bulk(df: DataFrame, table: String): Long = {
    // replace semantics: drop, then write
    drop(table)
    val spark = df.sparkSession
    // successful-item count via accumulator: Spark discards updates from
    // failed task attempts, and ids are deterministic per (partition,
    // ordinal), so replays converge instead of double-counting
    val written = spark.sparkContext.longAccumulator("graft_http_bulk_written")
    val (base, fs, sleep, seed) = (baseUrl, flushSize, sleepMs, backoffSeed)
    df.toJSON.rdd
      .mapPartitionsWithIndex { (pid, rows) =>
        val rng = seed.map(s => new Random(s + pid)).getOrElse(new Random())
        val buf = ArrayBuffer.empty[(String, String)]
        var ordinal = 0
        def flush(): Unit = if (buf.nonEmpty) {
          // triage mutates the in-flight queue: a retry re-posts ONLY
          // the items the server rejected (transfer.js:316-321)
          var queue = buf.toVector
          buf.clear()
          ResilientSink.withRetry({ () =>
            val resp = request("POST", s"$base/_bulk?table=${enc(table)}",
              Some(ndjson(table, queue)))
            require(resp.status == 200, s"bulk returned ${resp.status}")
            val items = resp.json.get("items")
            require(items != null && items.size() == queue.size,
              s"bulk item count ${if (items == null) -1 else items.size()} != ${queue.size}")
            val rejected = Vector.newBuilder[(String, String)]
            val fatal = ArrayBuffer.empty[String]
            var i = 0
            while (i < queue.size) {
              val item = items.get(i).get("index")
              val err = if (item == null) null else item.get("error")
              if (err == null) written.add(1L)
              else if (err.path("type").asText() == "es_rejected_execution_exception")
                rejected += queue(i)
              else fatal += err.toString
              i += 1
            }
            if (fatal.nonEmpty)
              throw new IllegalStateException(
                s"unrecoverable bulk errors (${fatal.size}): ${fatal.take(3).mkString("; ")}")
            val rej = rejected.result()
            if (rej.nonEmpty) {
              queue = rej
              throw new ResilientSink.RejectedExecutionOverload(s"${rej.size} items rejected")
            }
          }, sleep, rng)
        }
        rows.foreach { src =>
          buf += ((s"$pid-$ordinal", src))
          ordinal += 1
          if (buf.size >= fs) flush()
        }
        flush()
        Iterator.empty[Int]
      }
      .count() // action: drives the partition writes
    written.value
  }

  override def listTables(pattern: String): Seq[String] = {
    val resp = request("GET", s"$baseUrl/_tables", None)
    require(resp.status == 200, s"_tables returned ${resp.status}")
    val arr = resp.json
    (0 until arr.size()).map(arr.get(_).asText())
      .filter(DocConnector.glob(pattern)).sorted
  }
}

object HttpScrollConnector {

  /** Search/scroll transport retries (`transfer.js:79-87`: ≤3 retries,
    * then fail the transfer).
    */
  val ScrollRetries = 3

  final case class Resp(status: Int, body: String) {
    @transient lazy val json: JsonNode = Mapper.get.readTree(body)
  }

  // ObjectMapper is thread-safe for reads but not serializable; one per
  // executor thread, never shipped in closures
  private object Mapper extends ThreadLocal[ObjectMapper] {
    override def initialValue(): ObjectMapper = new ObjectMapper()
  }

  private[sources] def enc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** One HTTP exchange. 404 is a RESULT (existence probes); transport
    * errors and 5xx raise.
    */
  private[sources] def request(method: String, url: String, body: Option[String]): Resp = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/x-ndjson")
        val out = conn.getOutputStream
        try out.write(b.getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val text = readAll(stream)
      if (status >= 500) throw new java.io.IOException(s"$method $url -> $status: ${text.take(200)}")
      Resp(status, text)
    } finally conn.disconnect()
  }

  private def readAll(in: InputStream): String = {
    if (in == null) return ""
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    bos.toString(StandardCharsets.UTF_8)
  }

  /** Retry wrapper for page fetches — the reference's `self.scroll` /
    * `self.search` shape: up to [[ScrollRetries]] retries on transport
    * failure, then give up with the original error chained.
    */
  private def fetchWithRetry(what: String, call: () => Resp): Resp = {
    var attempt = 0
    while (true) {
      try return call()
      catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > ScrollRetries)
            throw new java.io.IOException(s"can't $what after $ScrollRetries retries", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** NDJSON bulk body: action line + source line per doc
    * (`transfer.js:44-77` queue shape).
    */
  private[sources] def ndjson(table: String, docs: Seq[(String, String)]): String = {
    val sb = new StringBuilder
    docs.foreach { case (id, src) =>
      sb.append("{\"index\":{\"_id\":\"").append(id).append("\"}}\n")
      sb.append(src).append('\n')
    }
    sb.toString()
  }

  /** One slice's scroll stream as a lazy page-by-page iterator of raw
    * `_source` JSON strings. Runs INSIDE a partition; holds one page in
    * memory at a time.
    */
  private final class ScrollPageIterator(
      base: String, table: String, slice: Int, slices: Int, pageSize: Int
  ) extends Iterator[String] {

    private var scrollId: String = _
    private var page: Vector[String] = Vector.empty
    private var pos = 0
    private var served = 0 // docs handed to the consumer, across pages
    private var restarts = 0
    private var exhausted = false
    private var started = false

    private def searchResp(): Resp = fetchWithRetry(s"search $table", () =>
      request("POST",
        s"$base/_search?table=${enc(table)}&slice=$slice&slices=$slices&size=$pageSize",
        Some("{}")))

    private def scrollResp(): Resp = fetchWithRetry(s"scroll $scrollId", () =>
      request("POST", s"$base/_scroll?id=${enc(scrollId)}", Some("{}")))

    private def absorb(resp: Resp): Unit = {
      // a non-200 absorbed as a page would parse to zero hits and END the
      // stream — silent truncation; fail the task loudly instead (scroll
      // 404s never reach here: they take the resume path)
      require(resp.status == 200,
        s"scan '$table' slice $slice returned ${resp.status}: ${resp.body.take(200)}")
      val root = resp.json
      scrollId = root.path("_scroll_id").asText()
      val hits = root.path("hits").path("hits")
      page = (0 until hits.size()).map(i => hits.get(i).get("_source").toString).toVector
      pos = 0
      if (page.isEmpty) exhausted = true
    }

    /** Scroll context lost (server restart, context expiry): re-open the
      * slice's scroll from the start and fast-forward past the `served`
      * docs already emitted. Exactly-once across the restart relies on a
      * STABLE per-slice order (insertion or sort order — what a store
      * with deterministic slicing provides); without it this degrades to
      * at-least/at-most-once like any offset resume. Bounded at
      * [[ScrollRetries]] restarts per slice, then the task fails (and
      * Spark's task retry is the outer recovery).
      */
    private def resume(): Unit = {
      restarts += 1
      if (restarts > ScrollRetries)
        throw new java.io.IOException(
          s"scroll for '$table' slice $slice invalidated $restarts times")
      var toSkip = served
      exhausted = false
      absorb(searchResp())
      var handedOff = false
      while (!handedOff && !exhausted && toSkip >= page.size) {
        toSkip -= page.size
        val r = scrollResp()
        if (r.status == 404) { resume(); handedOff = true } else absorb(r)
      }
      if (!handedOff) pos = toSkip
    }

    private def advance(): Unit = {
      if (!started) {
        started = true
        absorb(searchResp())
      } else {
        val r = scrollResp()
        if (r.status == 404) resume() else absorb(r)
      }
    }

    override def hasNext: Boolean = {
      while (!exhausted && pos >= page.size) advance()
      !exhausted && pos < page.size
    }

    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException("scroll exhausted")
      val v = page(pos); pos += 1; served += 1; v
    }
  }
}
