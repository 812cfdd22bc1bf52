package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.sources.{DocConnector, FormatConnector, HttpScrollConnector, InMemoryConnector, ParquetConnector}

/** The connector CONTRACT, run identically against every in-tree
  * implementation — the de-risking seam for a network-backed scroll/bulk
  * connector (`transfer.js:79-151,44-77`): a drop-in only has to pass
  * this suite to be safe behind [[graft.Graft]] and
  * [[graft.engine.Transfer]], which is exactly how the in-memory mock
  * earns its place in the worker E2E.
  */
class ConnectorContractSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def freshParquet(): DocConnector =
    new ParquetConnector(Files.createTempDirectory("graft_contract").toString)

  private val servers = ArrayBuffer.empty[StubDocServer]

  private def freshServer(rejectFirstBulkPosts: Int = 0, failFirstScrolls: Int = 0): StubDocServer = {
    val s = new StubDocServer(rejectFirstBulkPosts, failFirstScrolls)
    servers.synchronized { servers += s }
    s
  }

  /** Deliberately tiny pages/flushes so the contract's 10-row tables
    * exercise multi-page scrolls and multi-flush bulks over the socket.
    */
  private def freshHttp(server: StubDocServer): HttpScrollConnector =
    new HttpScrollConnector(server.url, pageSize = 3, slices = 2, flushSize = 4,
      sleepMs = _ => (), backoffSeed = Some(42L))

  override def afterAll(): Unit = {
    servers.foreach(_.stop())
    super.afterAll()
  }

  private def impls: Seq[(String, () => DocConnector)] = Seq(
    "InMemoryConnector" -> (() => new InMemoryConnector),
    "ParquetConnector" -> (() => freshParquet()),
    // text formats: same contract through the same seam — csv/json carry
    // no embedded schema, so the round-trip leans on header + inference
    // (see FormatConnector's scale note about explicit schemas)
    "FormatConnector(csv)" -> (() =>
      new FormatConnector(
        Files.createTempDirectory("graft_contract_csv").toString, "csv")),
    "FormatConnector(json)" -> (() =>
      new FormatConnector(
        Files.createTempDirectory("graft_contract_json").toString, "json")),
    // the over-the-wire scroll/bulk implementation against an in-process
    // HTTP stub — the reference's actual connector shape on a real socket
    "HttpScrollConnector" -> (() => freshHttp(freshServer()))
  )

  private def seed(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, s"doc$i")).toDF("id", "payload")

  for ((name, mk) <- impls) {

    test(s"$name: bulk returns the written count and scan reads it back exactly") {
      val c = mk()
      assert(c.bulk(seed(7), "docs") == 7L)
      val back = c.scan(spark, "docs")
      assert(back.schema.fieldNames.toSeq == Seq("id", "payload"))
      assert(back.as[(Long, String)].collect().sorted.toSeq ==
        seed(7).as[(Long, String)].collect().sorted.toSeq)
    }

    test(s"$name: bulk REPLACES table contents (idempotent under replays)") {
      val c = mk()
      c.bulk(seed(10), "docs")
      // a replayed/partial retry writes fewer rows; the table must hold
      // exactly the last write, never an append of both
      assert(c.bulk(seed(4), "docs") == 4L)
      assert(c.scan(spark, "docs").count() == 4L)
      // byte-identical replay converges
      assert(c.bulk(seed(4), "docs") == 4L)
      assert(c.scan(spark, "docs").count() == 4L)
    }

    test(s"$name: listTables globs (S3 index-metadata scan)") {
      val c = mk()
      c.bulk(seed(1), "alpha")
      c.bulk(seed(1), "alphaTwo")
      c.bulk(seed(1), "beta")
      assert(c.listTables("*").toSet == Set("alpha", "alphaTwo", "beta"))
      assert(c.listTables("alpha*").toSet == Set("alpha", "alphaTwo"))
      assert(c.listTables("beta") == Seq("beta"))
      assert(c.listTables("nope*").isEmpty)
    }

    test(s"$name: scanning an absent table fails loudly, never returns empty") {
      val c = mk()
      intercept[Exception](c.scan(spark, "absent").collect())
    }

    test(s"$name: slice-qualified names address independent per-subtask outputs") {
      val c = mk()
      c.bulk(seed(3), "t/slice1")
      c.bulk(seed(5), "t/slice2")
      assert(c.scan(spark, "t/slice1").count() == 3L)
      assert(c.scan(spark, "t/slice2").count() == 5L)
      // dropping one slice leaves its sibling; an absent one is a no-op
      c.drop("t/slice1")
      c.drop("t/absent")
      intercept[Exception](c.scan(spark, "t/slice1").collect())
      assert(c.scan(spark, "t/slice2").count() == 5L)
    }
  }

  // ------------------------------------------------------------------
  // HTTP-only failure paths: the wire contract under injected faults
  // ------------------------------------------------------------------

  test("HttpScrollConnector: per-item es_rejected_execution_exception triage re-posts ONLY rejects") {
    // the stub rejects every odd item of the first 3 bulk posts; the
    // connector must keep the even successes, re-queue just the
    // rejected half with backoff, and converge to a complete table
    val server = freshServer(rejectFirstBulkPosts = 3)
    val c = new HttpScrollConnector(server.url, pageSize = 10, slices = 1, flushSize = 100,
      sleepMs = _ => (), backoffSeed = Some(7L))
    assert(c.bulk(seed(10), "docs") == 10L)
    // 3 rejecting posts (odd half re-queued each time) + the clean one:
    // the retry loop must have re-posted, not given up or double-written
    assert(server.bulkPosts.get() >= 4, s"expected >=4 posts, got ${server.bulkPosts.get()}")
    assert(c.scan(spark, "docs").as[(Long, String)].collect().sorted.toSeq ==
      seed(10).as[(Long, String)].collect().sorted.toSeq)
  }

  test("HttpScrollConnector: overload past max retries fails the write, other errors fail fast") {
    // every item of every flush rejects -> retry budget exhausts
    val server = new StubDocServer(rejectAllBulkItems = true)
    servers.synchronized { servers += server }
    val c = new HttpScrollConnector(server.url, pageSize = 10, slices = 1, flushSize = 100,
      sleepMs = _ => (), backoffSeed = Some(7L))
    val e = intercept[Exception](c.bulk(seed(10), "docs"))
    // the typed overload failure surfaces through Spark's task wrapper
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("overloaded after")))
  }

  test("HttpScrollConnector: scroll continuations retry through transient 500s") {
    val server = freshServer(failFirstScrolls = 2)
    val c = freshHttp(server)
    c.bulk(seed(10), "docs")
    // pageSize 3 x 2 slices over 10 rows forces scroll continuations;
    // the first two return injected 500s and must be retried, not lost
    assert(c.scan(spark, "docs").count() == 10L)
  }

  private val seedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType)))

  /** Job ids seen for `group` once the status store has caught up (the
    * listener bus is async; poll until at least `atLeast` jobs appear).
    */
  private def jobsInGroup(group: String, atLeast: Int): Array[Int] = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var ids = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    while (ids.length < atLeast && System.nanoTime() < deadline) {
      Thread.sleep(50)
      ids = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    }
    Thread.sleep(200) // settle: catch any straggler job events
    spark.sparkContext.statusTracker.getJobIdsForGroup(group)
  }

  test("HttpScrollConnector: schema-bearing scan is one job; inference pays a second scroll") {
    val server = freshServer()
    val c = freshHttp(server)
    c.bulk(seed(10), "docs")
    spark.sparkContext.setJobGroup("graft-scan-schema", "schema scan")
    val got = c.scan(spark, "docs", seedSchema).as[(Long, String)].collect()
    spark.sparkContext.setJobGroup("graft-scan-infer", "inferring scan")
    val inferred = c.scan(spark, "docs").as[(Long, String)].collect()
    spark.sparkContext.clearJobGroup()
    assert(got.sorted.toSeq == seed(10).as[(Long, String)].collect().sorted.toSeq)
    assert(inferred.sorted.toSeq == got.sorted.toSeq)
    val infer = jobsInGroup("graft-scan-infer", 2)
    val schema = jobsInGroup("graft-scan-schema", 1)
    assert(schema.length == 1, s"schema scan ran ${schema.length} jobs, want 1")
    assert(infer.length >= 2, s"inference scan ran ${infer.length} jobs (expected its extra pass)")
  }

  test("HttpScrollConnector: more slices than documents — empty slices scan clean") {
    val server = freshServer()
    val c = new HttpScrollConnector(server.url, pageSize = 2, slices = 8, flushSize = 4,
      sleepMs = _ => (), backoffSeed = Some(42L))
    c.bulk(seed(5), "docs")
    val back = c.scan(spark, "docs", seedSchema)
    assert(back.rdd.getNumPartitions == 8, "one partition per slice, empty slices included")
    assert(back.as[(Long, String)].collect().sorted.toSeq ==
      seed(5).as[(Long, String)].collect().sorted.toSeq)
  }

  test("HttpScrollConnector: mid-scroll context invalidation resumes by offset — no loss, no dup") {
    // 12 docs / 2 slices / pageSize 2 = 3 data pages per slice; the stub
    // drops ALL scroll contexts after the 4th served page, so both
    // slices lose their scroll mid-stream and must re-search + fast-
    // forward (the pre-resume connector treated the 404 continuation as
    // end-of-stream: silent truncation)
    val server = new StubDocServer(invalidateScrollAfterPages = 4)
    servers.synchronized { servers += server }
    val c = new HttpScrollConnector(server.url, pageSize = 2, slices = 2, flushSize = 100,
      sleepMs = _ => (), backoffSeed = Some(42L))
    c.bulk(seed(12), "docs")
    val got = c.scan(spark, "docs", seedSchema).as[(Long, String)].collect()
    assert(got.length == 12, s"resume lost or duplicated rows: got ${got.length}")
    assert(got.sorted.toSeq == seed(12).as[(Long, String)].collect().sorted.toSeq)
  }

  test("HttpScrollConnector: fully-rejected batches re-post the whole queue until overload clears") {
    val server = new StubDocServer(rejectAllFirstBulkPosts = 2)
    servers.synchronized { servers += server }
    val c = new HttpScrollConnector(server.url, pageSize = 10, slices = 1, flushSize = 100,
      sleepMs = _ => (), backoffSeed = Some(7L))
    assert(c.bulk(seed(6), "docs") == 6L)
    // 2 starved posts + at least one clean re-post of the full queue
    assert(server.bulkPosts.get() >= 3, s"expected >=3 posts, got ${server.bulkPosts.get()}")
    assert(c.scan(spark, "docs").as[(Long, String)].collect().sorted.toSeq ==
      seed(6).as[(Long, String)].collect().sorted.toSeq)
  }
}
