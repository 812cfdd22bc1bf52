package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{EventStream, NoveltyGate, ProfileGate, QualityGate}

/** Structured-streaming analog of the scroll loop: drain-all semantics,
  * convergence with the batch twin, stateful per-key transform.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs `body` launches from this thread, counted under a
    * private job group. A sentinel job in a second group flushes the
    * listener bus: events arrive in order, so once the sentinel's start
    * is seen every job `body` launched has been counted.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        else if (g == s"$group-flush") flushed.countDown()
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Every file scan in the plans the queries `body` runs executed —
    * through adaptive stages and into the plans of frames it cached —
    * collected by a query-execution listener and flushed like
    * [[jobsLaunchedBy]] (both listeners share the listener bus).
    */
  private def fileScansOf(body: => Unit): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val found = new java.util.concurrent.ConcurrentLinkedQueue[FileSourceScanExec]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans(qe.executedPlan).foreach(found.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try jobsLaunchedBy(body)
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(found).asScala.toSeq
  }

  test("events ts-variant adaptivity: a nanos-long events table streams identically to batch") {
    // synthesize the TIMESTAMP(NANOS) variant as it reaches the engine:
    // ts on disk is an int64 of epoch nanos (what nanosAsLong decodes
    // the real nanos files to) — the stream must sniff this and agree
    // with Tables.events instead of failing on a hard-pinned NTZ schema
    val dir = Files.createTempDirectory("graft_nanos_events").toString
    val base = 1700000000L * 1000000000L
    val rows = Seq(
      (1L, base + 1500L, 10L, "click", 1.0, """{"k":1}"""),
      (2L, base + 2L * 3600L * 1000000000L + 999L, 11L, "purchase", 2.0, """{"k":2}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // the corpus ships events.parquet as a single FILE (the stream's
    // pathGlobFilter matches file names) — write then move the part file
    val scratch = Files.createTempDirectory("graft_nanos_scratch").toString
    rows.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    val batch = Tables.events(spark, dir)
      .select("event_id", "ts", "ts_ns")
      .as[(Long, java.sql.Timestamp, Long)].collect().sortBy(_._1).toSeq
    // sub-microsecond nanos survive in ts_ns exactly
    assert(batch.map(_._3) ==
      Seq(base + 1500L, base + 2L * 3600L * 1000000000L + 999L))
    val ckpt = Files.createTempDirectory("graft_nanos_ckpt").toString
    EventStream.runAvailableNow(
      EventStream.readEvents(spark, dir).select("event_id", "ts", "ts_ns"),
      "nanos_events_test", ckpt, OutputMode.Append)
    val streamed = spark.table("nanos_events_test")
      .as[(Long, java.sql.Timestamp, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch, s"stream/batch ts divergence: $streamed vs $batch")
  }

  test("windowed counts stream converges to the batch twin") {
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val stream = EventStream.readEvents(spark, sf)
    EventStream.runAvailableNow(
      EventStream.windowedCounts(stream), "wc_test", ckpt, OutputMode.Complete
    )
    val streamed = spark.table("wc_test")
      .select("hour", "event_type", "cnt")
      .as[(String, String, Long)].collect().toSet
    val batch = EventStream.windowedCountsBatch(spark, sf)
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch, s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
  }

  test("sliding-window stream (chained stateful aggs) equals q_sliding_window with EXACT distinct users") {
    // two stateful aggregations chained in append mode (Spark >= 3.5):
    // (window, type, user) state makes the distinct exact without any
    // per-window user set; a far-future sentinel batch pushes the
    // watermark past every real window so they all finalize
    val src = Files.createTempDirectory("graft_slide_src").toString
    val ckpt = Files.createTempDirectory("graft_slide_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
    ev.coalesce(1).write.parquet(src + "/a_events")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    Seq((Long.MaxValue, -1L, "sentinel", 0.0,
        new java.sql.Timestamp(maxTs.getTime + 6L * 3600 * 1000)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .coalesce(1).write.parquet(src + "/z_sentinel")
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.slidingUserCounts(stream), "slide_test", ckpt, OutputMode.Append)
    val streamed = spark.table("slide_test")
      .select("event_type", "win_start", "n_events", "n_users", "sum_v")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Relational.qSlidingWindow(spark, sf)
      .select("event_type", "win_start", "n_events", "n_users", "sum_v")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(3)}; batch-only: ${batch.diff(streamed).take(3)}")
    assert(streamed.nonEmpty && streamed.exists(_._4 > 1), "distinct-user path must be exercised")
  }

  test("value-histogram stream converges to the oracle-checked batch twin") {
    val ckpt = Files.createTempDirectory("graft_vhist_ckpt").toString
    EventStream.runAvailableNow(
      EventStream.valueHistogramStream(EventStream.readEvents(spark, sf)),
      "vhist_test", ckpt, OutputMode.Complete)
    val streamed = spark.table("vhist_test")
      .select("event_type", "k", "n_events", "total_cents", "min_cents", "max_cents")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Relational.qValueHistogram(spark, sf)
      .select("event_type", "k", "n_events", "total_cents", "min_cents", "max_cents")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(3)}; batch-only: ${batch.diff(streamed).take(3)}")
    assert(streamed.map(_._2).size > 1, "a one-bucket fixture is vacuous")
  }

  test("funnel-steps stream (mapGroupsWithState) equals the batch funnel on a time-ordered source") {
    // per-user in-order arrival across micro-batches is the operator's
    // documented contract: feed the corpus as three sequential
    // time-range files (distinct names AND write times, so the file
    // source triggers them oldest-first), with users spanning file
    // boundaries — the cross-batch state handoff is exercised, not
    // vacuous
    val src = Files.createTempDirectory("graft_funnel_src").toString
    val ckpt = Files.createTempDirectory("graft_funnel_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts_ns").cast("long").as("ts_ns"))
      .persist()
    val times = ev.select("ts_ns").orderBy("ts_ns").as[Long].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    ev.filter(col("ts_ns") < c1).coalesce(1).write.parquet(s"$src/a_part")
    ev.filter(col("ts_ns") >= c1 && col("ts_ns") < c2).coalesce(1).write.parquet(s"$src/b_part")
    ev.filter(col("ts_ns") >= c2).coalesce(1).write.parquet(s"$src/c_part")
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.funnelStepsStream(stream).toDF(), "funnel_state_test", ckpt, OutputMode.Update)
    val updates = spark.table("funnel_state_test").collect()
    // an Update-mode sink appends every emission: the user's final
    // funnel is their max-seq row (seq monotone by construction)
    val finals = updates.groupBy(_.getLong(0)).values.map(_.maxBy(_.getLong(4))).toSeq
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val s2 = finals.flatMap(r => for (a <- opt(r, 1); b <- opt(r, 2)) yield b - a)
    val s3 = finals.flatMap(r => for (b <- opt(r, 2); c <- opt(r, 3)) yield c - b)
    val got = Set(
      (1L, finals.count(r => opt(r, 1).nonEmpty).toLong, 0L),
      (2L, s2.size.toLong, s2.sum),
      (3L, s3.size.toLong, s3.sum))
    val want = graft.operators.Relational.qFunnelSteps(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"funnel stream $got != batch $want")
    assert(got.exists(t => t._1 == 3L && t._2 > 0), "no user completed the funnel: vacuous fixture")
    // cross-batch handoff really happened: some user appears in more
    // than one micro-batch's emissions
    assert(updates.groupBy(_.getLong(0)).values.exists(_.size > 1),
      "every user fit in one batch: boundary handoff not exercised")
    // r17: an in-order source must report ZERO ordering violations
    assert(updates.forall(_.getLong(5) == 0L),
      "in-order arrival flagged as out-of-order: frontier bookkeeping broken")
    spark.catalog.clearCache()
  }

  test("funnel-steps stream: a cross-batch out-of-order event surfaces in the ooo counter (r17)") {
    // user 7's view lands in a LATER micro-batch with an EARLIER
    // event-time than the already-folded click — under per-key
    // in-order arrival this cannot happen, and the r16 fold silently
    // produced a funnel the batch query would not; now the violation
    // is counted on the emitted row
    val src = Files.createTempDirectory("graft_funnel_ooo_src").toString
    val ckpt = Files.createTempDirectory("graft_funnel_ooo_ckpt").toString
    Seq((7L, "view", 2000000L), (7L, "click", 3000000L))
      .toDF("user_id", "event_type", "ts_ns").coalesce(1).write.parquet(s"$src/a_part")
    Seq((7L, "view", 1000000L), (8L, "view", 4000000L))
      .toDF("user_id", "event_type", "ts_ns").coalesce(1).write.parquet(s"$src/b_part")
    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.funnelStepsStream(stream).toDF(), "funnel_ooo_test", ckpt, OutputMode.Update)
    val finals = spark.table("funnel_ooo_test").collect()
      .groupBy(_.getLong(0)).values.map(_.maxBy(_.getLong(4))).toSeq
    val u7 = finals.find(_.getLong(0) == 7L).get
    assert(u7.getLong(5) >= 1L, s"out-of-order batch must be counted: $u7")
    // the in-order user in the same run stays clean
    val u8 = finals.find(_.getLong(0) == 8L).get
    assert(u8.getLong(5) == 0L, s"in-order user wrongly flagged: $u8")
    spark.catalog.clearCache()
  }

  test("event-transition stream (flatMapGroupsWithState) equals the batch matrix on a time-ordered source") {
    // same contract and fixture shape as the funnel twin: three
    // sequential time-range files; a user whose consecutive events
    // straddle a file boundary gets that transition ONLY via the
    // carried last-type state — losing the handoff loses the row and
    // fails the matrix equality below
    val src = Files.createTempDirectory("graft_trans_src").toString
    val ckpt = Files.createTempDirectory("graft_trans_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns").cast("long").as("ts_ns"))
      .persist()
    val times = ev.select("ts_ns").orderBy("ts_ns").as[Long].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    ev.filter(col("ts_ns") < c1).coalesce(1).write.parquet(s"$src/a_part")
    ev.filter(col("ts_ns") >= c1 && col("ts_ns") < c2).coalesce(1).write.parquet(s"$src/b_part")
    ev.filter(col("ts_ns") >= c2).coalesce(1).write.parquet(s"$src/c_part")
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, event_type STRING, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.eventTransitionsStream(stream).toDF(), "trans_test", ckpt, OutputMode.Append)
    val got = spark.table("trans_test")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .as[(String, String, Long)].collect().toSet
    val want = graft.operators.Relational.qEventTransitions(spark, sf)
      .as[(String, String, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    assert(got.map(_._3).sum > spark.table("trans_test").select("user_id").distinct().count(),
      "fixture too sparse: most users have a single transition")
    // r17: an in-order source must emit no flagged rows
    assert(spark.table("trans_test").filter(col("ooo")).isEmpty,
      "in-order arrival flagged as out-of-order: frontier bookkeeping broken")
    spark.catalog.clearCache()
  }

  test("entry-path stream (mapGroupsWithState) equals q_top_paths on a time-ordered source; OOO counted (r17)") {
    // per-user first-4 path folded with O(k) state; the top-20 rollup
    // over the finals must equal the oracle-checked batch query
    val src = Files.createTempDirectory("graft_paths_src").toString
    val ckpt = Files.createTempDirectory("graft_paths_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns").cast("long").as("ts_ns"))
      .persist()
    val times = ev.select("ts_ns").orderBy("ts_ns").as[Long].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    ev.filter(col("ts_ns") < c1).coalesce(1).write.parquet(s"$src/a_part")
    ev.filter(col("ts_ns") >= c1 && col("ts_ns") < c2).coalesce(1).write.parquet(s"$src/b_part")
    ev.filter(col("ts_ns") >= c2).coalesce(1).write.parquet(s"$src/c_part")
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, event_type STRING, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.pathPrefixStream(stream).toDF(), "paths_test", ckpt, OutputMode.Update)
    val updates = spark.table("paths_test").collect()
    val finals = updates.groupBy(_.getLong(0)).values.map(_.maxBy(_.getLong(3))).toSeq
    assert(finals.forall(_.getLong(4) == 0L), "in-order source must report zero violations")
    val counts = finals.groupBy(_.getString(1)).map { case (p, xs) => (p, xs.size.toLong) }
    val got = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
      .zipWithIndex.map { case ((p, n), i) => ((i + 1).toLong, p, n) }
    val want = graft.operators.Relational.qTopPaths(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, s"stream top paths $got\nbatch $want")
    // cross-batch handoff exercised: some user emits in more than one
    // micro-batch (the carried state served those later rows; at this
    // SF most users' first 4 events land inside one time-third, so
    // path GROWTH across batches is not guaranteed — presence is)
    assert(updates.groupBy(_.getLong(0)).values.exists(_.size > 1),
      "every user fit in one batch: boundary handoff not exercised")
    // and an out-of-order follow-up batch flags the affected user
    val ooSrc = Files.createTempDirectory("graft_paths_ooo_src").toString
    val ooCkpt = Files.createTempDirectory("graft_paths_ooo_ckpt").toString
    Seq((7L, 1L, "view", 2000000L)).toDF("user_id", "event_id", "event_type", "ts_ns")
      .coalesce(1).write.parquet(s"$ooSrc/a_part")
    Seq((7L, 2L, "click", 1000000L)).toDF("user_id", "event_id", "event_type", "ts_ns")
      .coalesce(1).write.parquet(s"$ooSrc/b_part")
    EventStream.runAvailableNow(
      EventStream.pathPrefixStream(spark.readStream
        .schema("user_id LONG, event_id LONG, event_type STRING, ts_ns LONG")
        .option("maxFilesPerTrigger", 1).parquet(ooSrc + "/*")).toDF(),
      "paths_ooo_test", ooCkpt, OutputMode.Update)
    val f7 = spark.table("paths_ooo_test").collect().maxBy(_.getLong(3))
    assert(f7.getLong(4) >= 1L, s"out-of-order batch must be counted: $f7")
    spark.catalog.clearCache()
  }

  test("event-transition stream: a cross-batch out-of-order event flags its batch's rows (r17)") {
    // user 9's third event arrives in a later batch with a time BETWEEN
    // the two already-seen events: the emitted (B -> C) transition is
    // not the batch matrix's answer (which orders C between A and B),
    // and must carry the ooo flag instead of passing as exact
    val src = Files.createTempDirectory("graft_trans_ooo_src").toString
    val ckpt = Files.createTempDirectory("graft_trans_ooo_ckpt").toString
    Seq((9L, 1L, "view", 1000000L), (9L, 2L, "purchase", 3000000L))
      .toDF("user_id", "event_id", "event_type", "ts_ns").coalesce(1).write.parquet(s"$src/a_part")
    Seq((9L, 3L, "click", 2000000L), (10L, 4L, "view", 4000000L), (10L, 5L, "click", 5000000L))
      .toDF("user_id", "event_id", "event_type", "ts_ns").coalesce(1).write.parquet(s"$src/b_part")
    // a LATER in-order batch for user 9: its carried from-type is
    // still corrupted, so the flag must be STICKY (r17 review fix)
    Seq((9L, 6L, "buy", 9000000L))
      .toDF("user_id", "event_id", "event_type", "ts_ns").coalesce(1).write.parquet(s"$src/c_part")
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, event_type STRING, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.eventTransitionsStream(stream).toDF(), "trans_ooo_test", ckpt, OutputMode.Append)
    val rows = spark.table("trans_ooo_test")
      .as[(Long, String, String, Boolean)].collect().toSet
    assert(rows.contains((9L, "purchase", "click", true)),
      s"the out-of-order batch's transition must be flagged: $rows")
    assert(rows.contains((9L, "click", "buy", true)),
      s"post-corruption transitions must STAY flagged (sticky): $rows")
    assert(rows.contains((9L, "view", "purchase", false)), s"the in-order first batch stays clean: $rows")
    assert(rows.contains((10L, "view", "click", false)),
      s"the concurrent in-order user stays clean: $rows")
    spark.catalog.clearCache()
  }

  test("windowed top-k stream (TypedImperativeAggregate state) converges to the batch twin") {
    val ckpt = Files.createTempDirectory("graft_topk_ckpt").toString
    // maxFilesPerTrigger=1 with a multi-file source would be ideal; the
    // events table is one file, so buffer serialization is still forced
    // by the shuffle's partial/final aggregation round-trip per batch
    val stream = EventStream.readEvents(spark, sf)
    EventStream.runAvailableNow(
      EventStream.windowedTopK(stream), "topk_test", ckpt, OutputMode.Complete
    )
    val streamed = spark.table("topk_test")
      .select("hour", "rnk", "event_id")
      .as[(String, Long, Long)].collect().toSet
    val batch = EventStream.windowedTopKBatch(spark, sf)
      .select("hour", "rnk", "event_id")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
  }

  test("stream-stream attribution join converges to the batch twin") {
    val ckpt = Files.createTempDirectory("graft_attr_ckpt").toString
    val stream = EventStream.readEvents(spark, sf, maxFilesPerTrigger = 1)
    EventStream.runAvailableNow(
      EventStream.attributionStream(stream), "attr_test", ckpt, OutputMode.Append
    )
    val streamed = spark.table("attr_test")
      .groupBy("purchase_id", "user_id")
      .agg(count(lit(1)).as("n_clicks"), max(unix_micros(col("click_ts"))).as("last_click_us"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = EventStream.attributionBatch(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "batch twin must attribute at least one purchase")
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
  }

  test("dedup ingest: digest table drops cross-batch and in-batch dups; replay converges") {
    import graft.streaming.IngestDedup
    val dest = Files.createTempDirectory("graft_ingest").toString + "/docs"
    val digests = Files.createTempDirectory("graft_ingest_h").toString + "/digests"
    // batch 0: one in-batch dup (ids 1/2 share content)
    val b0 = Seq((1L, "alpha text"), (2L, "alpha text"), (3L, "beta text")).toDF("doc_id", "text")
    assert(IngestDedup.processBatch(b0, 0L, dest, digests) == 2L)
    // batch 1: cross-batch dup (alpha again) + one genuinely new doc
    val b1 = Seq((4L, "alpha text"), (5L, "gamma text")).toDF("doc_id", "text")
    assert(IngestDedup.processBatch(b1, 1L, dest, digests) == 1L)
    assert(spark.read.parquet(dest).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
    // crash replay of batch 1: overwrite-by-batch layout converges
    assert(IngestDedup.processBatch(b1, 1L, dest, digests) == 1L)
    assert(spark.read.parquet(dest).count() == 3L)
    // at-least-once redelivery: the SAME row twice in one batch (same
    // doc_id AND text) must land exactly once — both copies pass the
    // min-doc_id keep, only the content-hash dedup collapses them
    val b2 = Seq((6L, "delta text"), (6L, "delta text")).toDF("doc_id", "text")
    assert(IngestDedup.processBatch(b2, 2L, dest, digests) == 1L)
    assert(spark.read.parquet(dest).filter(col("doc_id") === 6L).count() == 1L)
  }

  test("dedup ingest: an all-dropped batch leaves the digest table readable for later batches") {
    import graft.streaming.IngestDedup
    val dest = Files.createTempDirectory("graft_ingest_empty").toString + "/docs"
    val digests = Files.createTempDirectory("graft_ingest_empty_h").toString + "/digests"
    // batch 0: upstream gates dropped everything — a zero-row frame
    // still commits its batch=0 digest partition (zero data files)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(IngestDedup.processBatch(empty, 0L, dest, digests) == 0L)
    // batch 1 must scan the digest dir WITHOUT schema inference — a
    // footerless batch=0 tree used to throw UNABLE_TO_INFER_SCHEMA and
    // poison every later batch
    val b1 = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    assert(IngestDedup.processBatch(b1, 1L, dest, digests) == 2L)
    // and the dedup contract still holds across the gap
    val b2 = Seq((3L, "alpha text"), (4L, "gamma text")).toDF("doc_id", "text")
    assert(IngestDedup.processBatch(b2, 2L, dest, digests) == 1L)
  }

  test("dedup ingest: prefix-partitioned digests prune the prior-digest scan") {
    import graft.streaming.IngestDedup
    val dest = Files.createTempDirectory("graft_ingest_pp").toString + "/docs"
    val digests = Files.createTempDirectory("graft_ingest_pp_h").toString + "/digests"
    // batch 0: enough distinct content to spread digests over many of
    // the 256 md5-prefix partitions
    val b0 = (1 to 400).map(i => (i.toLong, s"doc body number $i")).toDF("doc_id", "text")
    IngestDedup.processBatch(b0, 0L, dest, digests)
    // the stored layout IS prefix-partitioned
    val allDigests = spark.read.parquet(digests)
    assert(allDigests.columns.toSet == Set("h", "hp", "batch"))
    val totalFiles = allDigests.inputFiles.length
    assert(totalFiles > 10, s"expected many prefix partitions, got $totalFiles files")
    // a one-doc batch touches ONE prefix: its prior-digest scan must
    // read only that partition's files, not the whole history
    val one = Seq((1001L, "a new single document")).toDF("doc_id", "text")
    val hp = one.select(substring(md5(col("text")), 1, 2)).as[String].head()
    var pruned: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { pruned = IngestDedup.priorDigests(spark, digests, 1L, Seq(hp)) } == 0,
      "resolving the prior-digest scan must list on the driver, not launch a listing job")
    // a replay of batch 0 itself must not see its own digests
    assert(IngestDedup.priorDigests(spark, digests, 0L, Seq(hp)).count() == 0L,
      "the replaying batch's own partition must be excluded")
    assert(pruned.count() > 0L, "other batches' digests under the prefix are visible")
    val scannedFiles = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles.toInt
    }.getOrElse(fail("no file scan in the prior-digest plan"))
    assert(scannedFiles < totalFiles,
      s"prefix pruning must cut the scan: read $scannedFiles of $totalFiles files")
    assert(scannedFiles >= 0 && IngestDedup.processBatch(one, 1L, dest, digests) == 1L)
    // and correctness is unchanged: re-ingesting old + new content drops
    // the old, keeps nothing new twice
    val b2 = Seq((2001L, "doc body number 7"), (2002L, "a new single document"))
      .toDF("doc_id", "text")
    assert(IngestDedup.processBatch(b2, 2L, dest, digests) == 0L)
  }

  test("dedup ingest end-to-end: file stream drains with AvailableNow") {
    import graft.streaming.IngestDedup
    val src = Files.createTempDirectory("graft_ingest_src").toString
    val dest = Files.createTempDirectory("graft_ingest_e2e").toString + "/docs"
    val digests = Files.createTempDirectory("graft_ingest_e2e_h").toString + "/digests"
    val ckpt = Files.createTempDirectory("graft_ingest_e2e_ck").toString
    // two source files -> two micro-batches (maxFilesPerTrigger=1);
    // content "dup text" spans them, so the dedup must be CROSS-batch
    Seq((1L, "dup text"), (2L, "uniq a")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f1")
    Seq((3L, "dup text"), (4L, "uniq b")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    IngestDedup.runDedupIngest(stream, dest, digests, ckpt)
    val got = spark.read.parquet(dest).select("text").as[String].collect().sorted.toSeq
    assert(got == Seq("dup text", "uniq a", "uniq b"),
      s"exactly one copy of the duplicated content must survive: $got")
  }

  test("near-dup ingest: corpus + prior-batch matches drop, in-batch id_b drops, replay converges") {
    import graft.streaming.NearDupIngest
    import graft.operators.Dedup
    val dest = Files.createTempDirectory("graft_nd").toString + "/docs"
    val idxDir = Files.createTempDirectory("graft_nd_i").toString + "/idx"
    val corpus = Seq((1L, "a1 a2 a3 a4 a5 a6"), (2L, "b1 b2 b3 b4 b5 b6"))
      .toDF("doc_id", "text")
    val cDf = Dedup.gramDf(corpus, 3)
    val cIdx = Dedup.ngramIndex(corpus, 3, Some(cDf))
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Long =
      NearDupIngest.processBatch(b, id, dest, idxDir, cIdx, cDf, k = 3, threshold = 0.5)
    // batch 0: 101 near-dups corpus doc 1 (J=0.6); 102 novel; 103
    // near-dups 102 WITHIN the batch (larger id drops)
    val b0 = Seq(
      (101L, "a1 a2 a3 a4 a5 x"), (102L, "c1 c2 c3 c4 c5 c6"), (103L, "c1 c2 c3 c4 c5 y")
    ).toDF("doc_id", "text")
    assert(run(b0, 0L) == 1L, "only the novel doc survives batch 0")
    // batch 1: 104 near-dups 102 from the PRIOR batch's accreted index;
    // 105 novel
    val b1 = Seq((104L, "c1 c2 c3 c4 c5 z"), (105L, "d1 d2 d3 d4")).toDF("doc_id", "text")
    assert(run(b1, 1L) == 1L, "prior-batch index must catch 104")
    assert(spark.read.parquet(dest).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(102L, 105L))
    // crash replay of batch 1: self-excluded index + overwrite layout
    assert(run(b1, 1L) == 1L)
    assert(spark.read.parquet(dest).count() == 2L, "replay must not duplicate")
  }

  test("near-dup ingest end-to-end: file stream drains against the corpus asset") {
    import graft.streaming.NearDupIngest
    val src = Files.createTempDirectory("graft_nd_src").toString
    val dest = Files.createTempDirectory("graft_nd_e2e").toString + "/docs"
    val idxDir = Files.createTempDirectory("graft_nd_e2e_i").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft_nd_e2e_ck").toString
    // two files -> two micro-batches; the near-dup pair SPANS them, so
    // the catch must come from the accreted batch index, while the
    // standing side is the real sf0.001 corpus asset
    Seq((201L, "e1 e2 e3 e4 e5 e6")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f1")
    Seq((202L, "e1 e2 e3 e4 e5 q"), (203L, "f1 f2 f3 f4")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    NearDupIngest.runNearDedupIngest(stream, sf, dest, idxDir, ckpt, k = 3, threshold = 0.5)
    val got = spark.read.parquet(dest).select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(201L, 203L),
      s"cross-batch near-dup 202 must drop, novel docs land: $got")
  }

  test("foreachBatch parquet upsert sink: last write wins, resumable") {
    val dest = Files.createTempDirectory("graft_upsert_dest").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_upsert_ckpt").toString
    val stream = EventStream.readEvents(spark, sf)
    EventStream.runParquetUpsert(
      stream, dest, ckpt,
      keys = Seq("user_id", "event_type"), versionCols = Seq("ts", "event_id")
    )
    val got = spark.read.parquet(dest)
    val want = graft.operators.Relational.k1UpsertDedup(spark, sf)
    assert(got.count() == want.count(), "sink must hold exactly one row per key")
    // re-run from the same checkpoint: no new input, output unchanged
    EventStream.runParquetUpsert(
      stream, dest, ckpt,
      keys = Seq("user_id", "event_type"), versionCols = Seq("ts", "event_id")
    )
    assert(spark.read.parquet(dest).count() == want.count())
  }

  test("streaming sessionization converges to the batch session counts") {
    val ckpt = Files.createTempDirectory("graft_sess_ckpt").toString
    val stream = EventStream.readEvents(spark, sf)
    EventStream.runAvailableNow(
      EventStream.sessionizeStream(stream).toDF(), "sess_test", ckpt, OutputMode.Update
    )
    val got = spark.table("sess_test")
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    val want = EventStream.sessionizeBatch(spark, sf)
      .groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    want.foreach { case (u, n) =>
      assert(got.get(u).contains(n), s"user $u: stream=${got.get(u)} batch=$n")
    }
  }

  test("timeout sessionization: sessions close via watermark, state is freed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user_id, ts_seconds)
    val events = input.toDF().toDF("user_id", "ts_s")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
    val ckpt = Files.createTempDirectory("graft_sto_ckpt").toString
    val q = EventStream.sessionizeStreamTimeout(events, gapUs = 60L * 1000000)
      .toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sto_test")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // user 1: two events 10s apart (one session), then silence;
    // user 2 far in the future advances the watermark past 1's gap
    input.addData((1L, 1000L), (1L, 1010L))
    q.processAllAvailable()
    input.addData((2L, 100000L))
    q.processAllAvailable()
    input.addData((2L, 200000L)) // push watermark further so 1's timeout fires
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sto_test")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().filter(_._1 == 1L)
    assert(got.toSeq == Seq((1L, 1000000000L, 1010000000L, 2L)),
      s"expected user 1's closed session, got ${got.toSeq}")
  }

  test("session-stats stream (histogram off closed sessions) equals q_session_stats on a time-split source") {
    // the sessionizer's reporting family gets its streaming twin (r17):
    // closed sessions from the timeout sessionizer feed the same
    // count/total/max rollup the oracle-checked batch query runs. Two
    // far-future sentinel files push the watermark so EVERY real
    // session closes; the sentinel user is filtered between the stages
    // (it only exists to advance the watermark). Finals from the
    // Update-mode sink are the per-bucket column maxima — every
    // histogram column is monotone under accretion.
    val src = Files.createTempDirectory("graft_sstats_src").toString
    val ckpt = Files.createTempDirectory("graft_sstats_ckpt").toString
    val ev = Tables.events(spark, sf).select(col("user_id"), col("ts")).persist()
    val times = ev.select("ts").orderBy("ts").as[java.sql.Timestamp].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    val maxTs = times.last
    ev.filter(col("ts") < lit(c1)).coalesce(1).write.parquet(s"$src/a_part")
    ev.filter(col("ts") >= lit(c1) && col("ts") < lit(c2)).coalesce(1).write.parquet(s"$src/b_part")
    ev.filter(col("ts") >= lit(c2)).coalesce(1).write.parquet(s"$src/c_part")
    ev.unpersist()
    Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 10L * 3600 * 1000)))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$src/z1_sentinel")
    Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 20L * 3600 * 1000)))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$src/z2_sentinel")
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    // the downstream rollup is watermark-free (no late-row discard
    // path) — the checker's flagged scenario cannot occur; see the
    // operator's deployment note
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    try {
      EventStream.runAvailableNow(
        EventStream.sessionStatsStream(
          EventStream.sessionizeStreamTimeout(stream).toDF().filter(col("user_id") >= 0)),
        "sstats_test", ckpt, OutputMode.Update)
    } finally {
      spark.conf.unset("spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    }
    val got = spark.table("sstats_test").collect()
      .groupBy(_.getLong(0)).map { case (k, rows) =>
        (k, rows.map(_.getLong(1)).max, rows.map(_.getLong(2)).max, rows.map(_.getLong(3)).max)
      }.toSet
    val want = graft.operators.Relational.qSessionStats(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    assert(want.size > 1 && want.exists(_._1 > 1), "one-bucket fixture is vacuous")
    spark.catalog.clearCache()
  }

  test("hourly-profile stream (Complete cells) equals q_hourly_profile on a time-split source") {
    // the diurnal rollup gets its streaming twin (r18): same hour/cent
    // expression trees, Complete mode (bounded 24×types state). The
    // batch query's n_users (exact distinct — a second stateful agg)
    // and share_bp (a division over the complete table) are documented
    // out of the streaming surface; the accretive columns pin exactly.
    val src = Files.createTempDirectory("graft_hprof_src").toString
    val ckpt = Files.createTempDirectory("graft_hprof_ckpt").toString
    val ev = Tables.events(spark, sf).select(col("ts"), col("event_type"), col("value")).persist()
    val times = ev.select("ts").orderBy("ts").as[java.sql.Timestamp].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    ev.filter(col("ts") < lit(c1)).coalesce(1).write.parquet(s"$src/a_part")
    ev.filter(col("ts") >= lit(c1) && col("ts") < lit(c2)).coalesce(1).write.parquet(s"$src/b_part")
    ev.filter(col("ts") >= lit(c2)).coalesce(1).write.parquet(s"$src/c_part")
    ev.unpersist()
    val stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.hourlyProfileStream(stream),
      "hprof_test", ckpt, OutputMode.Complete)
    val got = spark.table("hprof_test")
      .select("hr", "event_type", "n_events", "total_cents")
      .as[(Long, String, Long, Long)].collect().toSet
    val want = graft.operators.Relational.qHourlyProfile(spark, sf)
      .select("hr", "event_type", "n_events", "total_cents")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    assert(want.size > 3, "a near-empty cell table is vacuous")
  }

  test("user-lifespan stream (per-user min/max state) folds to q_user_lifespan on a time-split source") {
    // per-user custom state (r18): count/min/max are order-free
    // monoids, so the twin carries no ooo frontier by design; the
    // doubling-bucket histogram is folded over the LATEST per-user
    // rows (n is strictly monotone per update — max(n) selects them)
    // with the batch query's own bucket expression, then compared.
    val src = Files.createTempDirectory("graft_ulife_src").toString
    val ckpt = Files.createTempDirectory("graft_ulife_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), expr("CAST(ts_ns AS BIGINT)").as("ts_ns")).persist()
    val times = ev.select("ts").orderBy("ts").as[java.sql.Timestamp].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    def slice(f: org.apache.spark.sql.DataFrame, p: String) =
      f.select("user_id", "ts_ns").coalesce(1).write.parquet(s"$src/$p")
    slice(ev.filter(col("ts") < lit(c1)), "a_part")
    slice(ev.filter(col("ts") >= lit(c1) && col("ts") < lit(c2)), "b_part")
    slice(ev.filter(col("ts") >= lit(c2)), "c_part")
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.userLifespanStream(stream).toDF(),
      "ulife_test", ckpt, OutputMode.Update)
    val latest = spark.table("ulife_test")
      .groupBy("user_id").agg(max(struct(col("n"), col("span_s"))).as("m"))
      .select(col("m.n").as("n"), col("m.span_s").as("span_s"))
    val got = latest
      .groupBy((length(bin(col("span_s") + 1)) - 1).cast("long").as("k"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("total_events"),
        max(col("span_s")).as("max_span_s"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = graft.operators.Relational.qUserLifespan(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    // non-vacuity: state accreted ACROSS triggers — some user emitted
    // more than one update, so min/max genuinely folded over batches
    // (at this SF every span lands in one doubling bucket, so bucket
    // multiplicity can't be the guard)
    val updates = spark.table("ulife_test").count()
    val users = spark.table("ulife_test").select("user_id").distinct().count()
    assert(updates > users, s"no cross-batch state was exercised: $updates updates / $users users")
  }

  test("decay-score stream (per-user day-bucket state) folds to q_decay_score_day at any split (r20)") {
    // per-user day->cents map state: bucket sums and the frontier are
    // order-free monoids, so the twin carries no ooo frontier by
    // design — BOTH a time-split and an arbitrary id-split source must
    // reach the batch answer. Normalization (the global reference day)
    // is read-time: decayScoreDayFinalize folds the LATEST per-user
    // rows (n_events strictly monotone) against the max frontier.
    def runAndFinalize(splitCol: org.apache.spark.sql.Column, tag: String): Set[(Long, Long, Long, Long)] = {
      val src = Files.createTempDirectory(s"graft_dcy_${tag}_src").toString
      val ckpt = Files.createTempDirectory(s"graft_dcy_${tag}_ckpt").toString
      val ev = Tables.events(spark, sf)
        .select(col("user_id"), expr("CAST(ts_ns AS BIGINT)").as("ts_ns"),
          col("value"), splitCol.as("__s")).persist()
      (0 until 3).foreach(i =>
        ev.filter(col("__s") === i).select("user_id", "ts_ns", "value")
          .coalesce(1).write.parquet(s"$src/p$i"))
      ev.unpersist()
      val stream = spark.readStream
        .schema("user_id LONG, ts_ns LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
      EventStream.runAvailableNow(
        EventStream.decayScoreStream(stream).toDF(),
        s"dcy_${tag}_test", ckpt, OutputMode.Update)
      EventStream.decayScoreDayFinalize(spark.table(s"dcy_${tag}_test"))
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    val want = graft.operators.Relational.qDecayScoreDay(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    // time-split (the deployment shape)
    val ev0 = Tables.events(spark, sf).select(col("ts")).orderBy("ts")
      .as[java.sql.Timestamp].collect()
    val (c1, c2) = (ev0(ev0.length / 3), ev0(2 * ev0.length / 3))
    val byTime = runAndFinalize(
      when(col("ts") < lit(c1), 0).when(col("ts") < lit(c2), 1).otherwise(2), "t")
    assert(byTime == want,
      s"stream-only: ${byTime.diff(want).take(3)}; batch-only: ${want.diff(byTime).take(3)}")
    // arbitrary id-split: users' events interleave out of time order
    // across micro-batches — the monoid must not care
    val byId = runAndFinalize(pmod(col("event_id"), lit(3)).cast("int"), "i")
    assert(byId == want, s"order-dependence leaked into the decay state: " +
      s"stream-only ${byId.diff(want).take(3)}")
    assert(want.size > 3, "a near-empty user table is vacuous")
    // bounded-state pruning is EXACT, not approximate: a user whose old
    // bucket fell >62 days behind their own frontier scores identically
    // to the batch query (the old bucket contributes zero either way),
    // and n_events still counts the pruned bucket's events
    val src2 = Files.createTempDirectory("graft_dcy_prune_src").toString
    val ckpt2 = Files.createTempDirectory("graft_dcy_prune_ckpt").toString
    val day = 86400000000000L // ns
    Seq((7L, 0L * day, 8.0)).toDF("user_id", "ts_ns", "value")
      .coalesce(1).write.parquet(s"$src2/a_part")
    Seq((7L, 100L * day, 4.0), (8L, 100L * day + 1L, 2.0))
      .toDF("user_id", "ts_ns", "value")
      .coalesce(1).write.parquet(s"$src2/b_part")
    val stream2 = spark.readStream
      .schema("user_id LONG, ts_ns LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(src2 + "/*")
    EventStream.runAvailableNow(
      EventStream.decayScoreStream(stream2).toDF(),
      "dcy_prune_test", ckpt2, OutputMode.Update)
    val pruned = EventStream.decayScoreDayFinalize(spark.table("dcy_prune_test"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // user 7: day-0 bucket pruned (100 > 62 behind its own frontier),
    // n_events 2, last age 0, score = 400 cents >> 0; user 8: 200 >> 0
    assert(pruned == Set((7L, 2L, 0L, 400L), (8L, 1L, 0L, 200L)), s"$pruned")
    // and the state really is bounded: the latest emission for user 7
    // carries one live bucket, not two
    val lastBuckets = spark.table("dcy_prune_test")
      .filter(col("user_id") === 7L).orderBy(col("n_events").desc)
      .select(size(col("buckets"))).as[Int].head()
    assert(lastBuckets == 1, s"pruning must drop the dead bucket: $lastBuckets live")
    spark.catalog.clearCache()
  }

  test("rfm stream (per-user three-long state) segments to q_rfm at any split (r20)") {
    // per-user (max, count, sum) — order-free monoids, no ooo frontier
    // by design; the quartile cuts are READ-TIME (a user's quartile
    // depends on every other user's rank), run by the finalizer through
    // the batch query's own rfmSegments stage — parity is structural
    def runAndFinalize(splitCol: org.apache.spark.sql.Column, tag: String): Set[(Long, Long, Long, Long, Long, Long, Long, Long)] = {
      val src = Files.createTempDirectory(s"graft_rfm_${tag}_src").toString
      val ckpt = Files.createTempDirectory(s"graft_rfm_${tag}_ckpt").toString
      val ev = Tables.events(spark, sf)
        .select(col("user_id"), expr("CAST(ts_ns AS BIGINT)").as("ts_ns"),
          col("value"), splitCol.as("__s")).persist()
      (0 until 3).foreach(i =>
        ev.filter(col("__s") === i).select("user_id", "ts_ns", "value")
          .coalesce(1).write.parquet(s"$src/p$i"))
      ev.unpersist()
      val stream = spark.readStream
        .schema("user_id LONG, ts_ns LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
      EventStream.runAvailableNow(
        EventStream.rfmStream(stream).toDF(),
        s"rfm_${tag}_test", ckpt, OutputMode.Update)
      EventStream.rfmFinalize(spark.table(s"rfm_${tag}_test"))
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    }
    val want = graft.operators.Relational.qRfm(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val ev0 = Tables.events(spark, sf).select(col("ts")).orderBy("ts")
      .as[java.sql.Timestamp].collect()
    val (c1, c2) = (ev0(ev0.length / 3), ev0(2 * ev0.length / 3))
    val byTime = runAndFinalize(
      when(col("ts") < lit(c1), 0).when(col("ts") < lit(c2), 1).otherwise(2), "t")
    assert(byTime == want,
      s"stream-only: ${byTime.diff(want).take(3)}; batch-only: ${want.diff(byTime).take(3)}")
    val byId = runAndFinalize(pmod(col("event_id"), lit(3)).cast("int"), "i")
    assert(byId == want, s"order-dependence leaked into the rfm state: " +
      s"stream-only ${byId.diff(want).take(3)}")
    // every quartile code occurs and users genuinely accreted across
    // triggers (some user emitted more than one update)
    assert(want.map(_._8).size > 3, "a near-constant segment table is vacuous")
    val updates = spark.table("rfm_t_test").count()
    val users = spark.table("rfm_t_test").select("user_id").distinct().count()
    assert(updates > users, s"no cross-batch state was exercised: $updates updates / $users users")
    // r22 (carried from the r20 verdict): a maintenance-compacted sink
    // — latest row per user by the strictly-monotone frequency — must
    // finalize to the SAME segments as the raw O(users × batches)
    // update history, so a deployment can bound the twins' read path
    // by compacting periodically
    val compacted = EventStream.compactUpdates(
      spark.table("rfm_t_test"), "user_id", "frequency")
    assert(compacted.count() == users,
      "compaction must keep exactly one row per user")
    val overCompacted = EventStream.rfmFinalize(compacted)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(overCompacted == want,
      "finalize-over-compacted must equal finalize-over-raw")
    spark.catalog.clearCache()
  }

  test("compactUpdates: rows tied on (key, seq) compact to the same row in either input order") {
    // a twin restarted from a fresh checkpoint into the same sink emits
    // a second row at a seq the sink already holds
    val a = (7L, 3L, 100L)
    val b = (7L, 3L, 90L)
    def kept(rows: Seq[(Long, Long, Long)]) =
      EventStream.compactUpdates(
        rows.toDF("user_id", "frequency", "monetary_c").coalesce(1),
        "user_id", "frequency")
        .as[(Long, Long, Long)].collect().toSeq
    val (ab, ba) = (kept(Seq(a, b)), kept(Seq(b, a)))
    assert(ab == ba, s"the kept row depends on input order: $ab vs $ba")
    assert(ab == Seq(b), s"ties resolve by the remaining columns ascending: $ab")
  }

  test("user type-diversity stream (per-user set state) folds to q_user_type_diversity on a time-split source (r19)") {
    // per-user distinct-type set state: set-union/count are order-free
    // monoids (no ooo frontier by design, like the lifespan twin); the
    // ≤|types|-bucket rollup folds over the LATEST per-user rows (n is
    // strictly monotone per update — max(struct(n, ...)) selects them)
    val src = Files.createTempDirectory("graft_udiv_src").toString
    val ckpt = Files.createTempDirectory("graft_udiv_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts")).persist()
    val times = ev.select("ts").orderBy("ts").as[java.sql.Timestamp].collect()
    // 12 time slices (not 3): with ~5 events/user per trigger the type
    // sets are still PARTIAL in early triggers, so cross-batch set
    // growth is observable — the guard below depends on it
    val nSlices = 12
    def slice(f: org.apache.spark.sql.DataFrame, p: String) =
      f.select("user_id", "event_type").coalesce(1).write.parquet(s"$src/$p")
    for (i <- 0 until nSlices) {
      val lo = times(times.length * i / nSlices)
      val filtered = ev.filter(col("ts") >= lit(lo))
      val part =
        if (i == nSlices - 1) filtered
        else filtered.filter(col("ts") < lit(times(times.length * (i + 1) / nSlices)))
      slice(if (i == 0) part.unionByName(ev.filter(col("ts") < lit(lo))) else part,
        f"part_$i%02d")
    }
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.userTypeDiversityStream(stream).toDF(),
      "udiv_test", ckpt, OutputMode.Update)
    val latest = spark.table("udiv_test")
      .groupBy("user_id").agg(max(struct(col("n"), col("n_types"))).as("m"))
      .select(col("m.n_types").as("n_types"), col("m.n").as("n"))
    val got = latest
      .groupBy("n_types")
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("total_events"))
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.operators.Relational.qUserTypeDiversity(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    assert(want.nonEmpty)
    // cross-batch accretion actually exercised: updates outnumber users
    // AND some user's type SET visibly grew between triggers (at this
    // SF every user converges to the full type vocabulary — one bucket
    // — so set growth, not bucket multiplicity, is the honest guard)
    val updates = spark.table("udiv_test").count()
    val users = spark.table("udiv_test").select("user_id").distinct().count()
    assert(updates > users, s"no cross-batch state was exercised: $updates updates / $users users")
    val grew = spark.table("udiv_test").groupBy("user_id")
      .agg((max(col("n_types")) > min(col("n_types"))).as("g"))
      .filter(col("g")).count()
    assert(grew > 0, "no user's distinct-type set grew across batches")
  }

  test("burstiness stream (open-hour state) folds to q_user_burstiness on a time-split source (r19)") {
    // per-user (open hour, closed three-sum) state: each update's Fano
    // factor includes the open hour, so the latest row per user (by the
    // monotone n) feeds the batch query's own bucket expression
    val src = Files.createTempDirectory("graft_burst_src").toString
    val ckpt = Files.createTempDirectory("graft_burst_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), expr("CAST(ts_ns AS BIGINT)").as("ts_ns")).persist()
    val times = ev.select("ts").orderBy("ts").as[java.sql.Timestamp].collect()
    val nSlices = 12
    def slice(f: org.apache.spark.sql.DataFrame, p: String) =
      f.select("user_id", "ts_ns").coalesce(1).write.parquet(s"$src/$p")
    for (i <- 0 until nSlices) {
      val lo = times(times.length * i / nSlices)
      val filtered = ev.filter(col("ts") >= lit(lo))
      val part =
        if (i == nSlices - 1) filtered
        else filtered.filter(col("ts") < lit(times(times.length * (i + 1) / nSlices)))
      slice(if (i == 0) part.unionByName(ev.filter(col("ts") < lit(lo))) else part,
        f"part_$i%02d")
    }
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.burstinessStream(stream).toDF(),
      "burst_test", ckpt, OutputMode.Update)
    val latest = spark.table("burst_test")
      .groupBy("user_id").agg(max(struct(col("n"), col("fano_q"))).as("m"))
      .select(col("m.fano_q").as("fano_q"))
    val got = latest
      .groupBy((length(bin(col("fano_q") + 1)) - 1).cast("long").as("k"))
      .agg(count(lit(1)).as("n_users"), max(col("fano_q")).as("max_fano_q"))
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.operators.Relational.qUserBurstiness(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    assert(spark.table("burst_test").filter(col("ooo")).count() == 0,
      "a time-split source must not trip the closed-hour flag")
    // cross-batch accretion exercised (n is strictly monotone per
    // update, so updates > users means hour state genuinely carried;
    // at this SF the integer fano itself converges within a trigger,
    // so value movement can't be the guard)
    val updates = spark.table("burst_test").count()
    val users = spark.table("burst_test").select("user_id").distinct().count()
    assert(updates > users, s"no cross-batch state was exercised: $updates updates / $users users")
  }

  test("burstiness stream: late-within-hour folds exactly, late-across-hour flags sticky (r19)") {
    val src = Files.createTempDirectory("graft_burst_ooo_src").toString
    val ckpt = Files.createTempDirectory("graft_burst_ooo_ckpt").toString
    val H = 3600L * 1000000000L // 1h in ns
    // user 9: hours 0 and 2 seen, then a LATE hour-0 event (closed -> flag);
    // user 10: hour 0, hour 1, then a late event still in hour 1 (open ->
    // exact, no flag)
    Seq((9L, 0L), (9L, 2 * H), (10L, 0L), (10L, H))
      .toDF("user_id", "ts_ns").coalesce(1).write.parquet(s"$src/a_part")
    Seq((9L, 1000L), (10L, H + 1000L))
      .toDF("user_id", "ts_ns").coalesce(1).write.parquet(s"$src/b_part")
    val stream = spark.readStream
      .schema("user_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.burstinessStream(stream).toDF(),
      "burst_ooo_test", ckpt, OutputMode.Update)
    val byUser = spark.table("burst_ooo_test")
      .groupBy("user_id").agg(max(struct(col("n"), col("ooo"), col("fano_q"))).as("m"))
      .select(col("user_id"), col("m.n").as("n"), col("m.ooo").as("ooo"),
        col("m.fano_q").as("fano_q"))
      .as[(Long, Long, Boolean, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(byUser(9L)._1 == 3L && byUser(9L)._2,
      s"a closed-hour late event must flag the user: $byUser")
    // user 10's late event is within the OPEN hour: exact and unflagged —
    // counts {1, 2} over 2 hours: fano = (2*5 - 9) DIV (2*3) = 0
    assert(byUser(10L) == ((3L, false, 0L)),
      s"late-within-hour must fold exactly without a flag: $byUser")
  }

  test("interval-merge stream (open-span state) folds to q_interval_merge on a time-split source (r19)") {
    // per-user open-span + closed-rollup state: each update's totals
    // already include the open span, so the latest row per user (by the
    // monotone seq) IS the batch answer
    val src = Files.createTempDirectory("graft_imrg_src").toString
    val ckpt = Files.createTempDirectory("graft_imrg_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), expr("CAST(ts_ns AS BIGINT)").as("ts_ns")).persist()
    val times = ev.select("ts").orderBy("ts").as[java.sql.Timestamp].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    def slice(f: org.apache.spark.sql.DataFrame, p: String) =
      f.select("user_id", "ts_ns").coalesce(1).write.parquet(s"$src/$p")
    slice(ev.filter(col("ts") < lit(c1)), "a_part")
    slice(ev.filter(col("ts") >= lit(c1) && col("ts") < lit(c2)), "b_part")
    slice(ev.filter(col("ts") >= lit(c2)), "c_part")
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.intervalMergeStream(stream).toDF(),
      "imrg_test", ckpt, OutputMode.Update)
    val latest = spark.table("imrg_test")
      .groupBy("user_id")
      .agg(max(struct(col("seq"), col("n_spans"), col("covered_us"), col("longest_us"))).as("m"))
      .select(col("user_id"), col("m.n_spans").as("n_spans"),
        col("m.covered_us").as("covered_us"), col("m.longest_us").as("longest_us"))
    val got = latest.as[(Long, Long, Long, Long)].collect().toSet
    val want = graft.operators.Intervals.coverageQuery(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    assert(want.exists(_._2 > 1), "a single-span-per-user fixture is vacuous")
    // no ooo on a time-split source; spans genuinely accreted
    assert(spark.table("imrg_test").filter(col("ooo")).count() == 0)
    val updates = spark.table("imrg_test").count()
    val users = spark.table("imrg_test").select("user_id").distinct().count()
    assert(updates > users, s"no cross-batch state was exercised: $updates updates / $users users")
  }

  test("interval-merge stream: a cross-batch out-of-order event flags the user's totals, sticky (r19)") {
    // user 9's bridge event (t=1800s — it would chain the two standing
    // spans into ONE in batch semantics) arrives a batch late: the fold
    // cannot reopen the closed span, so the totals must carry the ooo
    // flag rather than silently claim exactness; user 10 stays clean
    val src = Files.createTempDirectory("graft_imrg_ooo_src").toString
    val ckpt = Files.createTempDirectory("graft_imrg_ooo_ckpt").toString
    val G = 1000000000L // 1s in ns
    Seq((9L, 0L * G), (9L, 3600L * G), (10L, 0L * G))
      .toDF("user_id", "ts_ns").coalesce(1).write.parquet(s"$src/a_part")
    Seq((9L, 1800L * G), (10L, 600L * G))
      .toDF("user_id", "ts_ns").coalesce(1).write.parquet(s"$src/b_part")
    val stream = spark.readStream
      .schema("user_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.intervalMergeStream(stream).toDF(),
      "imrg_ooo_test", ckpt, OutputMode.Update)
    def toPair(t: (Long, Long, Boolean)) = t._1 -> (t._2, t._3)
    val byUser = spark.table("imrg_ooo_test")
      .groupBy("user_id")
      .agg(max(struct(col("seq"), col("n_spans"), col("ooo"))).as("m"))
      .select(col("user_id"), col("m.n_spans").as("n_spans"), col("m.ooo").as("ooo"))
      .as[(Long, Long, Boolean)].collect().map(toPair).toMap
    assert(byUser(9L) == ((2L, true)),
      s"the late bridge event must leave the split spans FLAGGED: $byUser")
    assert(byUser(10L) == ((1L, false)),
      s"the concurrent in-order user stays clean: $byUser")
  }

  test("gap stream (frontier-carrying) folds to q_gap_hist on a time-split source") {
    // the session-gap calibration chart gets its streaming twin (r18):
    // per-user gaps from flatMapGroupsWithState (each gap emitted
    // exactly once — the predecessor is batch-local or the carried
    // frontier), rolled up by the batch query's own doubling-bucket
    // expression as a watermark-free Update-mode aggregate. A user
    // whose consecutive events straddle a file boundary gets that gap
    // ONLY via the carried frontier — losing the handoff fails the
    // histogram equality below.
    val src = Files.createTempDirectory("graft_gaps_src").toString
    val ckpt = Files.createTempDirectory("graft_gaps_ckpt").toString
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts_ns").cast("long").as("ts_ns"),
        col("ts"))
      .persist()
    val times = ev.select("ts").orderBy("ts").as[java.sql.Timestamp].collect()
    val (c1, c2) = (times(times.length / 3), times(2 * times.length / 3))
    def slice(f: org.apache.spark.sql.DataFrame, p: String) =
      f.select("user_id", "event_id", "ts_ns").coalesce(1).write.parquet(s"$src/$p")
    slice(ev.filter(col("ts") < lit(c1)), "a_part")
    slice(ev.filter(col("ts") >= lit(c1) && col("ts") < lit(c2)), "b_part")
    slice(ev.filter(col("ts") >= lit(c2)), "c_part")
    ev.unpersist()
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    try {
      EventStream.runAvailableNow(
        EventStream.gapHistStream(EventStream.gapStream(stream).toDF()),
        "gaps_test", ckpt, OutputMode.Update)
    } finally {
      spark.conf.unset("spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    }
    val got = spark.table("gaps_test").collect()
      .groupBy(_.getLong(0)).map { case (k, rows) =>
        (k, rows.map(_.getLong(1)).max, rows.map(_.getLong(2)).max, rows.map(_.getLong(3)).max)
      }.toSet
    val want = graft.operators.Relational.qGapHist(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only: ${got.diff(want).take(3)}; batch-only: ${want.diff(got).take(3)}")
    assert(want.size > 1, "a one-bucket fixture is vacuous")
    spark.catalog.clearCache()
  }

  test("gap stream: a cross-batch out-of-order event flags its rows, sticky (r18)") {
    // user 9's third event lands in a later batch with a time BETWEEN
    // the two already-folded ones: the emitted gap is computed against
    // the wrong predecessor and must carry the ooo flag — and STAY
    // flagged on later in-order batches (the frontier is corrupted for
    // good); the frontier itself must never rewind (the negative-gap
    // emission is flagged, and the NEXT gap measures from the true max)
    val src = Files.createTempDirectory("graft_gaps_ooo_src").toString
    val ckpt = Files.createTempDirectory("graft_gaps_ooo_ckpt").toString
    Seq((9L, 1L, 1000000000L), (9L, 2L, 3000000000L))
      .toDF("user_id", "event_id", "ts_ns").coalesce(1).write.parquet(s"$src/a_part")
    Seq((9L, 3L, 2000000000L), (10L, 4L, 4000000000L), (10L, 5L, 5000000000L))
      .toDF("user_id", "event_id", "ts_ns").coalesce(1).write.parquet(s"$src/b_part")
    Seq((9L, 6L, 9000000000L))
      .toDF("user_id", "event_id", "ts_ns").coalesce(1).write.parquet(s"$src/c_part")
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.gapStream(stream).toDF(), "gaps_ooo_test", ckpt, OutputMode.Append)
    val rows = spark.table("gaps_ooo_test")
      .as[(Long, Long, Boolean, Boolean)].collect().toSet
    assert(rows.contains((9L, 2L, false, false)),
      s"the in-order first batch stays clean: $rows")
    assert(rows.contains((9L, -1L, true, true)),
      s"the out-of-order gap must be flagged AND corrupt, not silently folded: $rows")
    // sticky + frontier not rewound: the later in-order event measures
    // from the TRUE max (3s, not the out-of-order 2s) and stays
    // ooo-flagged — but its VALUE is exact (3s -> 9s really are
    // consecutive), so it is NOT corrupt (r20): the histogram keeps it
    assert(rows.contains((9L, 6L, true, false)),
      s"post-corruption gaps stay ooo-flagged but exact values are not corrupt: $rows")
    assert(rows.contains((10L, 1L, false, false)),
      s"the concurrent in-order user stays clean: $rows")
    spark.catalog.clearCache()
  }

  test("gap stream: batch-local late gaps straddling processed events are corrupt (r21)") {
    // ADVICE r20: events 0s,5s,10s processed, then late 2s and 7s arrive
    // together — the emitted batch-local gap 2s->7s (= 5) straddles the
    // processed 5s event, so its VALUE is wrong (true gaps are 3 and 2)
    // and it must be marked corrupt, not just the frontier-anchored gap.
    // An in-order follow-up (12s) measures from the never-rewound
    // frontier and stays exact (ooo-flagged, NOT corrupt).
    val src = Files.createTempDirectory("graft_gaps_straddle_src").toString
    val ckpt = Files.createTempDirectory("graft_gaps_straddle_ckpt").toString
    Seq((9L, 1L, 0L), (9L, 2L, 5000000000L), (9L, 3L, 10000000000L))
      .toDF("user_id", "event_id", "ts_ns").coalesce(1).write.parquet(s"$src/a_part")
    Seq((9L, 4L, 2000000000L), (9L, 5L, 7000000000L))
      .toDF("user_id", "event_id", "ts_ns").coalesce(1).write.parquet(s"$src/b_part")
    Seq((9L, 6L, 12000000000L))
      .toDF("user_id", "event_id", "ts_ns").coalesce(1).write.parquet(s"$src/c_part")
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_ns LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    EventStream.runAvailableNow(
      EventStream.gapStream(stream).toDF(), "gaps_straddle_test", ckpt, OutputMode.Append)
    val rows = spark.table("gaps_straddle_test")
      .as[(Long, Long, Boolean, Boolean)].collect().toSet
    assert(rows.contains((9L, -8L, true, true)),
      s"the frontier-anchored negative gap stays corrupt: $rows")
    assert(rows.contains((9L, 5L, true, true)),
      s"the batch-local late gap straddles a processed event — corrupt: $rows")
    assert(rows.contains((9L, 2L, true, false)),
      s"the post-violation frontier gap is exact: ooo-flagged, NOT corrupt: $rows")
    spark.catalog.clearCache()
  }

  test("gap hist excludes corrupt gaps but keeps a sticky-ooo user's exact ones (r19, narrowed r20)") {
    // a negative gap from a corrupted frontier would land in bucket 0
    // (gap_s = -1) or bucket 63 (gap_s < -1) via bin(gap_s + 1) — the
    // rollup must drop corrupt rows so disordered input degrades
    // visibly instead of polluting the chart. But a sticky-ooo user's
    // LATER gaps have exact values (measured from the never-rewound
    // frontier): dropping those too (the r19 form) permanently starved
    // a long-lived user out of the calibration after one early hiccup
    val gaps = Seq(
      (9L, -1L, true, true), (9L, -5L, true, true),
      (9L, 2L, true, false),
      (10L, 2L, false, false)
    ).toDF("user_id", "gap_s", "ooo", "corrupt")
    val got = EventStream.gapHistStream(gaps)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 4L, 2L)),
      s"corrupt gaps leaked, or an ooo user's exact gap was dropped: $got")
  }

  test("upsert sink recovers when a crash left only the .old copy") {
    val dest = Files.createTempDirectory("graft_upsert_crash").toString + "/out"
    val stream1 = EventStream.readEvents(spark, sf)
    EventStream.runParquetUpsert(
      stream1, dest, Files.createTempDirectory("graft_uc_ckpt1").toString,
      keys = Seq("user_id", "event_type"), versionCols = Seq("ts", "event_id")
    )
    val want = spark.read.parquet(dest).count()
    // simulate death between rename(dest -> .old) and rename(tmp -> dest)
    val destFile = new java.io.File(dest)
    assert(destFile.renameTo(new java.io.File(dest + ".old")))
    // a retried batch (fresh checkpoint replays the input) must restore
    // .old as the existing history, not merge against nothing
    EventStream.runParquetUpsert(
      EventStream.readEvents(spark, sf), dest,
      Files.createTempDirectory("graft_uc_ckpt2").toString,
      keys = Seq("user_id", "event_type"), versionCols = Seq("ts", "event_id")
    )
    assert(spark.read.parquet(dest).count() == want,
      "history lost: crash recovery did not restore the .old copy")
    assert(!new java.io.File(dest + ".old").exists())
  }

  test("timeout sessionization: cross-batch late events extend, never rewind") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user_id, ts_seconds)
    val events = input.toDF().toDF("user_id", "ts_s")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
    val ckpt = Files.createTempDirectory("graft_late_ckpt").toString
    val q = EventStream.sessionizeStreamTimeout(events, gapUs = 60L * 1000000)
      .toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_test")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // batch 1 opens session [2000s, 2010s]; watermark stays behind (1h)
    input.addData((1L, 2000L), (1L, 2010L))
    q.processAllAvailable()
    // batch 2: a LATE event at 1990s (inside the gap, before session
    // start) must widen start — the old code rewound end to 1990 and
    // fired the timeout 20s early; and a far-past singleton at 100s
    // must emit its own closed session without touching the open one
    input.addData((1L, 1990L), (1L, 100L))
    q.processAllAvailable()
    // advance the watermark far enough to time the open session out
    input.addData((2L, 100000L))
    q.processAllAvailable()
    input.addData((2L, 200000L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("late_test")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().filter(_._1 == 1L).toSet
    val us = 1000000L
    assert(got == Set((1L, 100 * us, 100 * us, 1L), (1L, 1990 * us, 2010 * us, 3L)),
      s"late-event handling wrong: $got")
  }

  test("timeout sessionization: consecutive late events within one gap merge into one session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (user_id, ts_seconds)
    val events = input.toDF().toDF("user_id", "ts_s")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
    val ckpt = Files.createTempDirectory("graft_latemerge_ckpt").toString
    val q = EventStream.sessionizeStreamTimeout(events, gapUs = 60L * 1000000)
      .toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("latemerge_test")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // batch 1 opens [2000s, 2010s]; batch 2 delivers TWO far-past late
    // events 50s apart (inside the 60s gap of each other) — they must
    // fold into ONE closed late session [100s, 150s] with 2 events, not
    // two singletons
    input.addData((1L, 2000L), (1L, 2010L))
    q.processAllAvailable()
    input.addData((1L, 100L), (1L, 150L))
    q.processAllAvailable()
    // advance the watermark so the open session times out too
    input.addData((2L, 100000L))
    q.processAllAvailable()
    input.addData((2L, 200000L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("latemerge_test")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().filter(_._1 == 1L).toSet
    // batch twin on the same input: the lag -> new-session-flag -> running
    // sum grouping of sessionizeBatch, applied to user 1's full event set
    val batchTwin = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us")
      Seq((1L, 2000L), (1L, 2010L), (1L, 100L), (1L, 150L))
        .toDF("user_id", "ts_s")
        .withColumn("ts_us", col("ts_s") * 1000000L)
        .withColumn("prev", lag("ts_us", 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_us") - col("prev") > 60L * 1000000, 1L).otherwise(0L))
        .withColumn("sid",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("ts_us").as("s"), max("ts_us").as("e"), count(lit(1)).as("n"))
        .select("user_id", "s", "e", "n")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    assert(got == batchTwin, s"stream $got must converge to batch twin $batchTwin")
    val us = 1000000L
    assert(got.contains((1L, 100 * us, 150 * us, 2L)),
      s"two late events within one gap must merge into one session: $got")
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val events = input.toDF()
      .toDF("event_id", "ts_s", "event_type")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    val q = EventStream.dedupStream(events, "10 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_test")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // batch 1: two events; batch 2: one re-delivery + one new event
    input.addData((1L, 1000L, "click"), (2L, 1010L, "view"))
    q.processAllAvailable()
    input.addData((1L, 1000L, "click"), (3L, 1020L, "purchase"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_test").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L), s"expected dedup to [1,2,3], got $got")
  }

  test("stateful userTotals tallies events and purchases per user") {
    val ckpt = Files.createTempDirectory("graft_ckpt2").toString
    val stream = EventStream.readEvents(spark, sf)
    EventStream.runAvailableNow(
      EventStream.userTotals(stream).toDF(), "ut_test", ckpt, OutputMode.Update
    )
    // last state per user must match the batch ground truth
    val got = spark.table("ut_test")
      .groupBy("user_id")
      .agg(max("events").as("events"), max("purchases").as("purchases"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val want = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases")
      )
      .as[(Long, Long, Long)].collect()
    want.foreach { case (u, e, p) =>
      assert(got.contains(u), s"user $u missing from stream output")
      assert(got(u) == ((e, p)), s"user $u: got ${got(u)}, want ($e,$p)")
    }
  }

  test("streaming perplexity: stream-static model join equals the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // frozen model from a trusted reference corpus (the CCNet shape)
    val model = TextAnalysis.perplexityModel(
      Seq((100L, "a b a b c"), (101L, "b c d")).toDF("doc_id", "text"))
    val rows = Seq((1L, "a b c zz"), (2L, "zz yy"), (3L, "a b a b"))
    val input = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_ppl_ckpt").toString
    val q = TextAnalysis.perplexityWith(input.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("ppl_stream")
      .option("checkpointLocation", ckpt)
      .start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("doc_id", "n_bigrams", "n_oov", "nll_q", "mean_nll_q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._1).toSeq
    val got = canon(spark.table("ppl_stream"))
    val want = canon(TextAnalysis.perplexityWith(rows.toDF("doc_id", "text"), model))
    assert(got == want, s"stream $got != batch $want")
    // the all-OOV doc scores null, never a fake zero
    val oov = got.find(_._1 == 2L).get
    assert(oov._3 == 1L && oov._4.isEmpty && oov._5.isEmpty)
  }

  test("chunk-store ingest: store holds each chunk once, reassembly is lossless, replay converges") {
    import graft.streaming.ChunkStoreIngest
    val storeDir = Files.createTempDirectory("graft_chunkstore").toString + "/store"
    val manifestDir = Files.createTempDirectory("graft_chunkmanifest").toString + "/manifest"
    val rnd = new scala.util.Random(11)
    def blob(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(160)
    val t1 = blob(120) + shared + blob(40)
    val t2 = blob(60) + shared + blob(90)
    val t4 = blob(200)
    val batch0 = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    // doc 3 is an exact copy of doc 1's text: every chunk already stored
    val batch1 = Seq((3L, t1), (4L, t4)).toDF("doc_id", "text")
    val (m0, s0) = ChunkStoreIngest.processBatch(batch0, 0L, storeDir, manifestDir, divisor = 16)
    val (m1, s1) = ChunkStoreIngest.processBatch(batch1, 1L, storeDir, manifestDir, divisor = 16)
    assert(m0 > 0 && s0 > 0 && m1 > 0)
    val store = spark.read.parquet(storeDir)
    // dedup invariant: every digest appears exactly once across batches
    assert(store.count() == store.select("digest").distinct().count())
    // doc 3 (known content) contributed nothing; doc 4's chunks are new
    val doc3Digests = spark.read.parquet(manifestDir)
      .filter(col("doc_id") === 3L).select("digest").distinct().count()
    assert(doc3Digests > 0 && s1 < doc3Digests + spark.read.parquet(manifestDir)
      .filter(col("doc_id") === 4L).select("digest").distinct().count(),
      "batch 1 must store fewer chunks than it references")
    // lossless: reassembly reproduces every ingested document exactly
    val texts = Map(1L -> t1, 2L -> t2, 3L -> t1, 4L -> t4)
    val got = ChunkStoreIngest.reassemble(spark, storeDir, manifestDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == texts, "manifest + store must reproduce the corpus byte-for-byte")
    // crash-replay of batch 1: same partitions rewritten, same state
    val (m1b, s1b) = ChunkStoreIngest.processBatch(batch1, 1L, storeDir, manifestDir, divisor = 16)
    assert((m1b, s1b) == ((m1, s1)), "replay must write the identical partition")
    // fresh read: the overwrite replaced batch=1's files
    val store2 = spark.read.parquet(storeDir)
    assert(store2.count() == store2.select("digest").distinct().count())
    assert(ChunkStoreIngest.reassemble(spark, storeDir, manifestDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == texts)
  }

  test("semantic ingest: paraphrase-tier drops vs corpus + history, within-batch rule, replay converges") {
    import graft.streaming.SemanticIngest
    import graft.operators.Similarity
    val warehouse = Files.createTempDirectory("graft_sem_wh").toString
    spark.conf.set("spark.graft.index.dir", warehouse)
    Similarity.dropInMemoryIndexes()
    try {
      val corpusDir = Files.createTempDirectory("graft_sem_corpus").toString
      val destDir = Files.createTempDirectory("graft_sem_dest").toString + "/dest"
      val idxDir = Files.createTempDirectory("graft_sem_idx").toString + "/idx"
      def v(xs: Float*): Array[Float] = xs.toArray
      // corpus: two unit axes
      Seq((1L, v(1f, 0f, 0f, 0f), 0), (2L, v(0f, 1f, 0f, 0f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
      val corpusBands = Similarity.corpusBandedEmbeddings(spark, corpusDir, bits = 4, tables = 8, dim = 4)
      val corpusVecs = Tables.embeddings(spark, corpusDir)
        .select(col("vec_id"), col("embedding"))
      def run(batch: Seq[(Long, Array[Float])], id: Long): Long =
        SemanticIngest.processBatch(batch.toDF("vec_id", "embedding"), id,
          destDir, idxDir, corpusBands, corpusVecs,
          threshold = 0.9, bits = 4, tables = 8, dim = 4, seedBase = 42L)
      // batch 0: 10 = scaled copy of corpus 1 (cos 1 -> drop);
      // 11 = new direction (kept); 12/13 = within-batch near-identical
      // pair (larger id 13 drops); 14 = orthogonal to all (kept)
      val w0 = run(Seq(
        (10L, v(2f, 0f, 0f, 0f)),
        (11L, v(0f, 0f, 1f, 0f)),
        (12L, v(1f, 1f, 1f, 0f)), (13L, v(2f, 2f, 2f, 0f)),
        (14L, v(0f, 0f, 0f, 1f))), 0L)
      assert(w0 == 3, s"batch 0 must keep 11, 12, 14 — wrote $w0")
      val kept0 = spark.read.parquet(destDir).select("vec_id")
        .as[Long].collect().sorted.toSeq
      assert(kept0 == Seq(11L, 12L, 14L))
      // batch 1: 20 = copy of batch-0 survivor 12 (HISTORY drop — the
      // accreted band rows, not the corpus, catch it); 21 = copy of
      // corpus 2 (corpus drop); 22 = genuinely new (kept)
      val w1 = run(Seq(
        (20L, v(3f, 3f, 3f, 0f)),
        (21L, v(0f, 5f, 0f, 0f)),
        (22L, v(1f, -1f, 0f, 0f))), 1L)
      assert(w1 == 1, s"batch 1 must keep only 22 — wrote $w1")
      // replay batch 1: same partition rewritten, same verdicts
      assert(run(Seq(
        (20L, v(3f, 3f, 3f, 0f)),
        (21L, v(0f, 5f, 0f, 0f)),
        (22L, v(1f, -1f, 0f, 0f))), 1L) == 1, "replay must converge")
      val keptAll = spark.read.parquet(destDir).select("vec_id")
        .as[Long].collect().sorted.toSeq
      assert(keptAll == Seq(11L, 12L, 14L, 22L))
      // accreted band rows cover exactly the kept vectors
      val idxIds = spark.read.parquet(idxDir).select("vec_id").distinct()
        .as[Long].collect().sorted.toSeq
      assert(idxIds == keptAll, "band accretion must track the kept set")
      // batch-twin parity: the cross-side verdicts match cosineIncremental
      // over corpus + batch-0 survivors when ids play the split
      val combined = Tables.embeddings(spark, corpusDir)
        .select(col("vec_id"), col("embedding"))
        .unionByName(Seq((11L, v(0f, 0f, 1f, 0f)), (12L, v(1f, 1f, 1f, 0f)),
          (14L, v(0f, 0f, 0f, 1f)), (20L, v(3f, 3f, 3f, 0f)),
          (21L, v(0f, 5f, 0f, 0f)), (22L, v(1f, -1f, 0f, 0f))).toDF("vec_id", "embedding"))
      val twin = Similarity.cosineIncremental(combined, splitId = 20L,
        threshold = 0.9, bits = 4, tables = 8, dim = 4)
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(twin == Seq(20L, 21L), "batch twin must drop the same batch-1 ids")
    } finally {
      Similarity.dropInMemoryIndexes()
      spark.conf.unset("spark.graft.index.dir")
      spark.catalog.clearCache()
    }
  }

  test("semantic ingest end-to-end: file stream drains through the band asset; novel vectors land") {
    import graft.streaming.SemanticIngest
    import graft.operators.Similarity
    val warehouse = Files.createTempDirectory("graft_sem_e2e_wh").toString
    spark.conf.set("spark.graft.index.dir", warehouse)
    Similarity.dropInMemoryIndexes()
    try {
      val corpusDir = Files.createTempDirectory("graft_sem_e2e_c").toString
      val src = Files.createTempDirectory("graft_sem_e2e_src").toString
      val dest = Files.createTempDirectory("graft_sem_e2e_d").toString + "/dest"
      val idx = Files.createTempDirectory("graft_sem_e2e_i").toString + "/idx"
      val ckpt = Files.createTempDirectory("graft_sem_e2e_ck").toString
      def v(xs: Float*): Array[Float] = xs.toArray
      Seq((1L, v(1f, 0f, 0f, 0f), 0)).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
      // two single-row files => two micro-batches; the second vector is
      // a scaled copy of the first batch's survivor
      Seq((10L, v(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(src + "/f1")
      Seq((20L, v(0f, 2f, 0f, 0f))).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(src + "/f2")
      val stream = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
      SemanticIngest.runSemanticIngest(stream, corpusDir, dest, idx, ckpt,
        threshold = 0.9, bits = 4, tables = 8, dim = 4)
      val kept = spark.read.parquet(dest).select("vec_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(10L), s"10 is novel, 20 duplicates accreted history: $kept")
    } finally {
      Similarity.dropInMemoryIndexes()
      spark.conf.unset("spark.graft.index.dir")
      spark.catalog.clearCache()
    }
  }

  test("chunk-store ingest: each chunk lands once, in the first batch that references it; replay converges") {
    import graft.streaming.ChunkStoreIngest
    val storeDir = Files.createTempDirectory("graft_csonce").toString + "/store"
    val manifestDir = Files.createTempDirectory("graft_csonce_m").toString + "/manifest"
    val rnd = new scala.util.Random(37)
    def blob(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(180)
    val texts = Map(
      1L -> (blob(90) + shared),
      2L -> (shared + blob(70)),
      3L -> blob(150),
      4L -> (blob(40) + shared + blob(40)), // re-references batch-0 chunks
      5L -> blob(120))
    val batches = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L))
    batches.zipWithIndex.foreach { case (ids, b) =>
      ChunkStoreIngest.processBatch(
        ids.map(id => (id, texts(id))).toDF("doc_id", "text"),
        b.toLong, storeDir, manifestDir, divisor = 16)
    }
    // --- the reference semantics, computed independently: a chunk
    // lands in the store partition of the FIRST batch whose manifest
    // references its digest; chunk text comes from the corpus
    val manifest = spark.read.parquet(manifestDir)
      .select(col("doc_id"), col("digest"), col("batch").cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expectedBatch = manifest.groupBy(_._2).view.mapValues(_.map(_._3).min).toMap
    val store = spark.read.parquet(storeDir)
      .select(col("digest"), col("len"), col("chunk"), col("hp"), col("batch").cast("long"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))))
    assert(store.length == expectedBatch.size, "store must hold each digest exactly once")
    store.foreach { case (digest, (len, chunk, hp, batch)) =>
      assert(batch == expectedBatch(digest),
        s"chunk $digest must land in its first-referencing batch (never re-stored or dropped)")
      assert(org.apache.commons.codec.digest.DigestUtils.md5Hex(chunk) == digest &&
        chunk.length.toLong == len, "stored bytes must be the chunk content")
      assert(hp == digest.take(2), "store rows carry the 2-hex pruning prefix")
    }
    // --- reassembly is byte-exact
    val got = ChunkStoreIngest.reassemble(spark, storeDir, manifestDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == texts, "store + manifests must reproduce the corpus byte-for-byte")
    // --- replay of the middle batch converges
    val (m1, s1) = ChunkStoreIngest.processBatch(
      batches(1).map(id => (id, texts(id))).toDF("doc_id", "text"),
      1L, storeDir, manifestDir, divisor = 16)
    assert(m1 > 0 && s1 == store.count(_._2._4 == 1L).toLong, "replay rewrites the same partition")
    assert(ChunkStoreIngest.reassemble(spark, storeDir, manifestDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == texts)
  }

  test("chunk-store ingest end-to-end: file stream drains; shared spans stored once; restore exact") {
    import graft.streaming.ChunkStoreIngest
    val src = Files.createTempDirectory("graft_cs_src").toString
    val store = Files.createTempDirectory("graft_cs_e2e").toString + "/store"
    val manifest = Files.createTempDirectory("graft_cs_e2e_m").toString + "/manifest"
    val ckpt = Files.createTempDirectory("graft_cs_e2e_ck").toString
    val rnd = new scala.util.Random(23)
    def blob(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(200)
    val t1 = blob(80) + shared
    val t2 = shared + blob(80) // shares a long span with t1, ACROSS batches
    Seq((1L, t1)).toDF("doc_id", "text").coalesce(1).write.parquet(src + "/f1")
    Seq((2L, t2)).toDF("doc_id", "text").coalesce(1).write.parquet(src + "/f2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    // divisor 16 => a boundary every ~16 chars, so the 200-char shared
    // span contains several fully-aligned interior chunks
    ChunkStoreIngest.runChunkIngest(stream, store, manifest, ckpt, divisor = 16)
    val st = spark.read.parquet(store)
    assert(st.count() == st.select("digest").distinct().count())
    // cross-batch suppression: batch 1 references chunks batch 0 stored
    val refs = spark.read.parquet(manifest).select("digest").distinct().count()
    assert(st.count() < refs + 1 || st.count() <= refs, // stored <= referenced
      s"store ${st.count()} must not exceed referenced $refs")
    assert(spark.read.parquet(store).filter(col("batch") === 1).count() <
      spark.read.parquet(manifest).filter(col("doc_id") === 2L).count(),
      "batch 1 must store fewer chunks than doc 2 references (shared span suppressed)")
    val got = ChunkStoreIngest.reassemble(spark, store, manifest)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> t1, 2L -> t2))
  }

  test("chunk-store crash between sidecar and store writes: replay converges, nothing lost or duplicated") {
    // the scaladoc's replay argument, executed: the manifest lands
    // BEFORE the store partition, and a replay that lost the store
    // partition re-derives it against the same prior batches
    import graft.streaming.ChunkStoreIngest
    val storeDir = Files.createTempDirectory("graft_cscrash").toString + "/store"
    val manifestDir = Files.createTempDirectory("graft_cscrash_m").toString + "/manifest"
    val rnd = new scala.util.Random(91)
    def blob(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(150)
    val t1 = blob(80) + shared
    val t2 = shared + blob(60)
    ChunkStoreIngest.processBatch(Seq((1L, t1)).toDF("doc_id", "text"),
      0L, storeDir, manifestDir, divisor = 16)
    // batch 1 runs fully, then we simulate the crash window: manifest
    // written, the STORE partition lost before commit
    ChunkStoreIngest.processBatch(Seq((2L, t2)).toDF("doc_id", "text"),
      1L, storeDir, manifestDir, divisor = 16)
    val b1Store = new java.io.File(s"$storeDir/batch=1")
    assert(b1Store.isDirectory)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(b1Store)
    // REPLAY batch 1: the probe finds the shared chunks in batch 0's
    // leaves and keeps them deduped, while batch-1-only chunks land again
    ChunkStoreIngest.processBatch(Seq((2L, t2)).toDF("doc_id", "text"),
      1L, storeDir, manifestDir, divisor = 16)
    val store = spark.read.parquet(storeDir)
    assert(store.count() == store.select("digest").distinct().count(),
      "post-replay store must hold each chunk exactly once")
    val got = ChunkStoreIngest.reassemble(spark, storeDir, manifestDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> t1, 2L -> t2), "reassembly must be lossless after the crash-replay")
  }

  test("chunk store refuses to write an hp-partitioned batch into a pre-hp flat store") {
    import graft.streaming.ChunkStoreIngest
    val storeDir = Files.createTempDirectory("graft_csflat").toString + "/store"
    val manifestDir = Files.createTempDirectory("graft_csflat_m").toString + "/manifest"
    // fabricate a legacy flat-layout store: batch=0 with bare parquet
    // files, no hp partition level
    Seq(("d0", 5L, "hello")).toDF("digest", "len", "chunk")
      .write.parquet(s"$storeDir/batch=0")
    val ex = intercept[IllegalStateException] {
      ChunkStoreIngest.processBatch(Seq((1L, "some fresh document text here")).toDF("doc_id", "text"),
        1L, storeDir, manifestDir, divisor = 16)
    }
    assert(ex.getMessage.contains("pre-hp flat layout"), ex.getMessage)
    // nothing was written: the store still reads cleanly as flat
    assert(spark.read.parquet(storeDir).count() == 1L)
    assert(!new java.io.File(manifestDir).exists(),
      "the batch must fail before any write")
  }

  /** A chunk store with two prior batches (several documents each, so
    * each batch spreads over many `hp=` leaves) and a `blob` generator
    * for the third batch's content; returns (store, manifest, prior
    * texts, blob).
    */
  private def twoBatchChunkStore(name: String, seed: Int)
      : (String, String, Map[Long, String], Int => String) = {
    import graft.streaming.ChunkStoreIngest
    val storeDir = Files.createTempDirectory(name).toString + "/store"
    val manifestDir = Files.createTempDirectory(s"${name}_m").toString + "/manifest"
    val rnd = new scala.util.Random(seed)
    def blob(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val texts = (1L to 8L).map(id => id -> blob(320)).toMap
    Seq(Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L)).zipWithIndex.foreach { case (ids, b) =>
      ChunkStoreIngest.processBatch(ids.map(id => (id, texts(id))).toDF("doc_id", "text"),
        b.toLong, storeDir, manifestDir, divisor = 16)
    }
    (storeDir, manifestDir, texts, blob _)
  }

  /** Scans among `scans` that read the chunk store. */
  private def storeScans(scans: Seq[org.apache.spark.sql.execution.FileSourceScanExec],
      storeDir: String) =
    scans.filter(_.relation.location.rootPaths.exists { p =>
      val path = p.toUri.getPath
      path == storeDir || path.startsWith(storeDir + "/")
    })

  test("chunk-store layout check is driver-local: zero Spark jobs on a store with history") {
    import graft.streaming.ChunkStoreIngest
    val (storeDir, manifestDir, texts, blob) = twoBatchChunkStore("graft_cslayout", 17)
    assert(jobsLaunchedBy(ChunkStoreIngest.requireHpCompatible(spark, storeDir)) == 0,
      "the hp-layout check must list the store on the driver, never read it with Spark")
    // the third batch goes through the same check and lands normally
    val t9 = blob(200)
    ChunkStoreIngest.processBatch(Seq((9L, texts(2L)), (10L, t9)).toDF("doc_id", "text"),
      2L, storeDir, manifestDir, divisor = 16)
    val store = spark.read.parquet(storeDir)
    assert(store.count() == store.select("digest").distinct().count())
    assert(ChunkStoreIngest.reassemble(spark, storeDir, manifestDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      texts ++ Map(9L -> texts(2L), 10L -> t9))
  }

  test("chunk-store exact anti-join scans only the batch's own prefixes of the standing store") {
    import graft.streaming.ChunkStoreIngest
    val (storeDir, manifestDir, texts, blob) = twoBatchChunkStore("graft_csprefix", 29)
    // doc 9 repeats a batch-0 doc (every chunk already stored), doc 10
    // is fresh
    val t10 = blob(480)
    val scans = fileScansOf {
      ChunkStoreIngest.processBatch(Seq((9L, texts(3L)), (10L, t10)).toDF("doc_id", "text"),
        2L, storeDir, manifestDir, divisor = 16)
    }
    val batchDigests = spark.read.parquet(manifestDir).filter(col("batch") === 2)
      .select("digest").distinct().as[String].collect().toSet
    val batchPrefixes = batchDigests.map(_.take(2))
    def leafFiles(batch: Int, hp: String) =
      Option(new java.io.File(s"$storeDir/batch=$batch/hp=$hp")
        .listFiles((_, n) => n.endsWith(".parquet"))).map(_.length).getOrElse(0)
    val priorHps = (0 to 1).flatMap(b => new java.io.File(s"$storeDir/batch=$b").list()
      .filter(_.startsWith("hp=")).map(d => b -> d.stripPrefix("hp=")))
    val onDisk = priorHps.map { case (b, hp) => leafFiles(b, hp) }.sum
    val underBatch = priorHps.filter(bh => batchPrefixes(bh._2))
      .map { case (b, hp) => leafFiles(b, hp) }.sum
    val probe = storeScans(scans, storeDir)
    assert(probe.nonEmpty, "the batch must be checked against the standing store")
    probe.foreach { f =>
      val selected = f.selectedPartitions.totalNumberOfFiles.toInt
      assert(selected == underBatch && selected < onDisk,
        s"the exact probe must read only the $underBatch prior files under the batch's " +
          s"prefixes (of $onDisk on disk), read $selected")
    }
    // and the pruned probe stays exact
    val store = spark.read.parquet(storeDir)
    assert(store.count() == store.select("digest").distinct().count(),
      "every digest stored exactly once")
    val prior = store.filter(col("batch") < 2).select("digest").as[String].collect().toSet
    assert(store.filter(col("batch") === 2).select("digest").as[String].collect().toSet ==
      batchDigests -- prior, "batch 2 stores exactly the digests the prior batches lack")
    assert(ChunkStoreIngest.reassemble(spark, storeDir, manifestDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      texts ++ Map(9L -> texts(3L), 10L -> t10))
  }

  test("composed curated ingest: gate → exact dedup → chunk store equals the batch composition; reassembly lossless") {
    import graft.streaming.{ChunkStoreIngest, CuratedIngest}
    import graft.operators.TextAnalysis
    val weights = TextAnalysis.classifierWeights()
    val src = Files.createTempDirectory("graft_ci_src").toString
    val dest = Files.createTempDirectory("graft_ci_dest").toString + "/docs"
    val digest = Files.createTempDirectory("graft_ci_dig").toString + "/digests"
    val store = Files.createTempDirectory("graft_ci_store").toString + "/store"
    val manifest = Files.createTempDirectory("graft_ci_man").toString + "/manifest"
    val ckpt = Files.createTempDirectory("graft_ci_ck").toString
    val rnd = new scala.util.Random(97)
    def blob(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(150)
    // batch 0: ids 1-3; batch 1: ids 4-6. id 4 repeats id 1's exact
    // text (cross-batch dup), id 5 shares a long span with id 1
    // (chunk-level dedup), junk rows exercise the gate's reject side
    val texts = Map(
      1L -> ("the quick brown fox " + shared),
      2L -> "zzzz qqqq zzzz qqqq zzzz qqqq xxqz",
      3L -> ("lorem ipsum dolor sit amet " + blob(60)),
      4L -> ("the quick brown fox " + shared),
      5L -> (shared + " over the lazy dog again"),
      6L -> "qqqq zzzz qqqq zzzz vvvv wwww qzqz")
    Seq(1L, 2L, 3L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f1")
    Seq(4L, 5L, 6L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f2")
    val all = texts.toSeq.toDF("doc_id", "text")
    // the corpus must exercise BOTH gate verdicts or the pin is vacuous
    val verdicts = QualityGate.gate(all, weights).select("kept")
      .collect().map(_.getBoolean(0)).toSet
    assert(verdicts == Set(true, false), s"degenerate gate split: $verdicts")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    CuratedIngest.runCuratedIngest(stream, weights, dest, digest, store, manifest,
      ckpt, divisor = 16)
    // BATCH TWIN of the composition: gate, then keep min doc_id per
    // content (ids rise with batch order, so min-id == first-seen)
    val batchKept = QualityGate.gate(all, weights).filter(col("kept"))
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val landed = spark.read.parquet(dest).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(landed == batchKept,
      s"stream composition must equal the batch gate→dedup: $landed vs $batchKept")
    assert(landed.nonEmpty && landed.size < texts.size,
      "composition must both keep and drop something")
    // stage 3 lossless: the chunk store reproduces every landed doc
    // byte-for-byte, and holds each chunk exactly once
    val st = spark.read.parquet(store)
    assert(st.count() == st.select("digest").distinct().count())
    val got = ChunkStoreIngest.reassemble(spark, store, manifest)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == landed, "reassembly must reproduce exactly the landed docs")
    // replay convergence end-to-end: re-running batch 1 changes nothing
    CuratedIngest.processBatch(
      Seq(4L, 5L, 6L).map(i => (i, texts(i))).toDF("doc_id", "text"),
      1L, weights, dest, digest, store, manifest, divisor = 16)
    val landed2 = spark.read.parquet(dest).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val st2 = spark.read.parquet(store)
    assert(landed2 == landed && st2.count() == st.count(),
      "a replayed micro-batch must converge to the identical composed state")
  }

  test("streaming quality gate: per-micro-batch classifier verdicts equal the batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val weights = TextAnalysis.classifierWeights()
    val rows = Seq((1L, "the quick brown fox"), (2L, "zzzz qqqq"),
      (3L, "a b c d e f"), (4L, "lorem ipsum dolor sit amet"))
    val input = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_gate_ckpt").toString
    val q = QualityGate.gate(input.toDF().toDF("doc_id", "text"), weights)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("gate_stream")
      .option("checkpointLocation", ckpt)
      .start()
    // two separate micro-batches: stateless scoring must not care
    input.addData(rows.take(2): _*)
    q.processAllAvailable()
    input.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "bow_score", "kept")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val got = canon(spark.table("gate_stream"))
    val want = canon(QualityGate.gate(rows.toDF("doc_id", "text"), weights))
    assert(got == want, s"stream $got != batch $want")
    // and the batch operator itself agrees (same expression tree)
    val viaOperator = TextAnalysis.qualityClassify(rows.toDF("doc_id", "text"), weights)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(viaOperator == want)
  }

  test("decontamination gate: per-micro-batch verdicts equal the batch contamination audit (r19)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DecontaminationGate
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // frozen eval suite: two 8+-token docs in their own id namespace
    val evalDocs = Seq(
      (1000001L, "e1 e2 e3 e4 e5 e6 e7 e8 e9"),
      (1000002L, "f1 f2 f3 f4 f5 f6 f7 f8")).toDF("doc_id", "text")
    val rows = Seq(
      (10L, "e1 e2 e3 e4 e5 e6 e7 e8 x1 x2"), // verbatim 8-gram leak -> rejected
      (11L, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),    // clean -> admitted
      (12L, "f1 f2 f3 f4 f5 f6 f7 f8"),        // exact eval doc -> rejected
      (13L, "short doc"),                      // < 8 tokens: no evidence -> admitted
      (14L, null.asInstanceOf[String]))        // null text -> admitted
    val input = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_decon_ckpt").toString
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_eval_docs", "shared_grams", "admitted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    // the gate aggregates per doc, so it runs inside foreachBatch (the
    // CuratedIngest deployment shape), like the novelty tier
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val vs = canon(DecontaminationGate.gate(b.toDF(), evalDocs))
        buf.synchronized { buf ++= vs }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    input.addData(rows.take(3): _*)
    q.processAllAvailable()
    input.addData(rows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val got = buf.sortBy(_._1).toSeq
    // batch twin: the same gate expression over the whole arrival set
    val want = canon(DecontaminationGate.gate(rows.toDF("doc_id", "text"), evalDocs))
    assert(got == want, s"stream $got != batch $want")
    // and the shared-gram counts equal the batch AUDIT's on the same rows
    val audit = graft.operators.TextAnalysis.contamination(
        rows.toDF("doc_id", "text"), evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    got.foreach { case (id, _, shared, admitted) =>
      assert(audit.getOrElse(id, 0L) == shared, s"doc $id: gate $shared != audit")
      assert(admitted == (shared == 0L))
    }
    // non-vacuous: both verdicts occur; the leaky doc shares exactly
    // its one verbatim 8-gram; short/null docs pass with zero evidence
    assert(got.map(_._4).toSet == Set(true, false))
    assert(got.find(_._1 == 10L).exists(t => t._3 == 1L && !t._4))
    assert(got.find(_._1 == 12L).exists(t => t._3 == 1L && !t._4))
    assert(got.find(_._1 == 13L).exists(t => t._3 == 0L && t._4))
    assert(got.find(_._1 == 14L).exists(t => t._3 == 0L && t._4))
  }

  test("streaming novelty gate: per-micro-batch admission equals the batch incremental-novelty operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Dedup, TextAnalysis}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // standing corpus: two docs; arriving docs range from verbatim-old
    // (novelty 0) through mixed to fully-new, plus a shingle-less short
    // doc (no-evidence pass-through) across TWO micro-batches
    val standingDocs = Seq(
      (1L, "s1 s2 s3 s4 s5 s6"), (2L, "t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    // the deployment shape: standing grams from the gram-stats asset
    // schema (g, __df, first_doc) — the gate must prune the extras
    val standingGrams = Dedup.gramDf(standingDocs, 3)
    val rows = Seq(
      (10L, "s1 s2 s3 s4 s5 s6"),        // all old -> 0 bp
      (11L, "s1 s2 s3 n1 n2 n3"),        // mixed
      (12L, "u1 u2 u3 u4 u5"),           // all new -> 10000 bp
      (13L, "one two"),                  // < 3 tokens: no evidence
      (14L, "t4 t5 t6 v1 v2"))
    val input = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_nov_ckpt").toString
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "novelty_bp", "admitted")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    // the gate aggregates per doc, so it runs inside foreachBatch (the
    // deployment shape in CuratedIngest) — not as a bare Append-mode
    // streaming aggregation
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val vs = canon(NoveltyGate.gate(b.toDF(), standingGrams, minNoveltyBp = 5000L))
        buf.synchronized { buf ++= vs }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    input.addData(rows.take(3): _*)
    q.processAllAvailable()
    input.addData(rows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val got = buf.sortBy(_._1).toSeq
    // batch twin: the SAME gate expression over the whole arrival set
    val want = canon(NoveltyGate.gate(rows.toDF("doc_id", "text"), standingGrams, 5000L))
    assert(got == want, s"stream $got != batch $want")
    // and the novelty numbers equal the batch incremental operator's
    // core on the same standing set
    val nums = TextAnalysis.noveltyAgainst(rows.toDF("doc_id", "text"),
        standingGrams.select("g"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    got.filter(_._2 >= 0).foreach { case (id, bp, _) =>
      assert(nums(id) == bp, s"doc $id: gate bp $bp != operator bp ${nums(id)}")
    }
    // the pin is non-vacuous: both verdicts occur, and the shingle-less
    // doc passed through admitted with null novelty
    assert(got.map(_._3).toSet == Set(true, false))
    assert(got.find(_._1 == 13L).exists(t => t._2 == -1L && t._3))
    assert(got.find(_._1 == 10L).exists(t => t._2 == 0L && !t._3))
    assert(got.find(_._1 == 12L).exists(t => t._2 == 10000L && t._3))
  }

  test("accreting novelty gate: batch-1 admissions raise grams against batch-2; rejections do not") {
    import graft.operators.{Dedup, TextAnalysis}
    val standingDocs = Seq(
      (1L, "s1 s2 s3 s4 s5 s6"), (2L, "t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val standingGrams = Dedup.gramDf(standingDocs, 3)
    val gramDir = Files.createTempDirectory("graft_novacc").toString + "/grams"
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "novelty_bp", "admitted")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    // batch 1: doc 20 fully novel (admitted, accretes); doc 21 mixed
    // below threshold (rejected, must NOT accrete its novel gram)
    val b1 = Seq((20L, "a1 a2 a3 a4 a5"), (21L, "s1 s2 s3 s4 c1")).toDF("doc_id", "text")
    val v1 = canon(NoveltyGate.processBatch(b1, 0L, gramDir, standingGrams, minNoveltyBp = 5000L))
    assert(v1 == Seq((20L, 10000L, true), (21L, 3333L, false)), s"batch-1 verdicts: $v1")
    // batch 2: doc 30 redundant ONLY against batch-1's admitted doc —
    // the case the static gate waves through and this tier must stop
    val b2 = Seq(
      (30L, "a1 a2 a3 a4 a5"), // all grams from doc 20's admission
      (31L, "s3 s4 c1"),       // doc 21's novel gram — 21 was REJECTED
      (32L, "b1 b2 b3 b4"))    // genuinely new
      .toDF("doc_id", "text")
    val v2 = canon(NoveltyGate.processBatch(b2, 1L, gramDir, standingGrams, minNoveltyBp = 5000L))
    assert(v2.find(_._1 == 30L).exists(t => t._2 == 0L && !t._3),
      s"doc 30 is redundant against batch-1 admissions and must be rejected: $v2")
    assert(v2.find(_._1 == 31L).exists(t => t._2 == 10000L && t._3),
      s"a REJECTED doc's grams must not have accreted: $v2")
    assert(v2.find(_._1 == 32L).exists(t => t._2 == 10000L && t._3), s"$v2")
    // the static (r15) gate on the same batch waves doc 30 through —
    // the accretion is what changed the verdict, nothing else
    val static2 = canon(NoveltyGate.gate(b2, standingGrams, 5000L))
    assert(static2.find(_._1 == 30L).exists(_._3), "pin is vacuous: static gate also rejects")
    // parity: sequentially-applied incremental novelty — batch 2
    // against standing ∪ grams(batch-1 admissions) — same numbers
    val seqStanding = standingGrams.select("g").unionByName(
      Seq((20L, "a1 a2 a3 a4 a5")).toDF("doc_id", "text")
        .select(explode(graft.functions.sketch.tokenShingles(col("text"), 3)).as("g"))
        .distinct())
    val want = TextAnalysis.noveltyAgainst(b2, seqStanding)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    v2.filter(_._2 >= 0).foreach { case (id, bp, _) =>
      assert(want(id) == bp, s"doc $id: accreted gate bp $bp != sequential operator ${want(id)}")
    }
    // crash-replay of the LAST batch: self-excluding its own partition
    // reproduces the same verdicts and rewrites the same accreted grams
    val replay = canon(NoveltyGate.processBatch(b2, 1L, gramDir, standingGrams, 5000L))
    assert(replay == v2, s"replay diverged: $replay vs $v2")
    val accreted = spark.read.parquet(gramDir).select("g").distinct().count()
    // batch 0: doc 20's 3 novel shingles; batch 1: doc 31's 1 + doc
    // 32's 2 — rejected docs contribute 0
    assert(accreted == 6L, s"accreted gram count: $accreted")
    spark.catalog.clearCache()
  }

  test("curated ingest with novelty tier: landed set equals the batch gate→novelty→dedup composition") {
    import graft.streaming.CuratedIngest
    import graft.operators.{Dedup, TextAnalysis}
    val weights = TextAnalysis.classifierWeights()
    val src = Files.createTempDirectory("graft_cin_src").toString
    val dest = Files.createTempDirectory("graft_cin_dest").toString + "/docs"
    val digest = Files.createTempDirectory("graft_cin_dig").toString + "/digests"
    val store = Files.createTempDirectory("graft_cin_store").toString + "/store"
    val manifest = Files.createTempDirectory("graft_cin_man").toString + "/manifest"
    val ckpt = Files.createTempDirectory("graft_cin_ck").toString
    // texts built from words the hashed-bow classifier scores POSITIVE
    // (probed), except the deliberate quality reject — each verdict
    // below must come from the intended tier
    val standingDocs = Seq(
      (1L, "forest lambda autumn willow thunder sigma"),
      (2L, "trout stone golden alpha theta cedar")).toDF("doc_id", "text")
    val standingGrams = Dedup.gramDf(standingDocs, 3)
    val texts = Map(
      10L -> "forest lambda autumn willow thunder sigma", // quality-pass, redundant vs standing
      11L -> "voyage valley heron cloud crimson zeta",    // quality-pass, fully novel
      12L -> "voyage valley heron cloud crimson zeta",    // exact dup of 11
      13L -> "zzzz qqqq zzzz qqqq zzzz qqqq xxqz",        // quality reject
      14L -> "forest lambda autumn falcon copper salmon") // quality-pass, 3/4 novel shingles
    Seq(10L, 11L, 12L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f1")
    Seq(13L, 14L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    CuratedIngest.runCuratedIngest(stream, weights, dest, digest, store, manifest,
      ckpt, gates = Seq(new NoveltyGate.Static(standingGrams, 5000L)), divisor = 16)
    val all = texts.toSeq.toDF("doc_id", "text")
    // batch twin: quality gate -> novelty gate (same standing set) ->
    // first-seen exact dedup (min doc_id per content)
    val batchKept = NoveltyGate.gate(
        QualityGate.gate(all, weights).filter(col("kept")).select("doc_id", "text"),
        standingGrams, 5000L)
      .filter(col("admitted"))
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val landed = spark.read.parquet(dest).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(landed == batchKept,
      s"stream composition must equal batch gate→novelty→dedup: $landed vs $batchKept")
    // the novelty tier did real work: the redundant doc is absent, the
    // novel doc landed exactly once
    assert(!landed.contains(10L) && landed.contains(11L) && !landed.contains(12L))
  }

  test("curated ingest decontamination tier: landed set equals batch quality→decontaminate→novelty→dedup; eval grams derived once (r20)") {
    import graft.streaming.{CuratedIngest, DecontaminationGate}
    import graft.operators.{Dedup, TextAnalysis}
    val weights = TextAnalysis.classifierWeights()
    val src = Files.createTempDirectory("graft_cde_src").toString
    val evalDir = Files.createTempDirectory("graft_cde_eval").toString
    val ckpt = Files.createTempDirectory("graft_cde_ck").toString
    def outDirs() = (
      Files.createTempDirectory("graft_cde_dest").toString + "/docs",
      Files.createTempDirectory("graft_cde_dig").toString + "/digests",
      Files.createTempDirectory("graft_cde_store").toString + "/store",
      Files.createTempDirectory("graft_cde_man").toString + "/manifest")
    // frozen eval suite in its own directory: one 8-token doc -> one
    // 8-gram (words from the probed classifier-positive pool, so a doc
    // leaking it still passes quality and the verdict is THIS tier's)
    Seq((900L, "voyage valley heron cloud crimson zeta falcon copper"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$evalDir/documents.parquet")
    val evalDocs = spark.read.parquet(s"$evalDir/documents.parquet")
    val standingDocs = Seq(
      (1L, "trout stone golden alpha theta cedar")).toDF("doc_id", "text")
    val standingGrams = Dedup.gramDf(standingDocs, 3)
    val texts = Map(
      10L -> "voyage valley heron cloud crimson zeta falcon copper salmon", // leaks the eval 8-gram
      11L -> "forest lambda autumn willow thunder sigma",                   // clean, novel
      12L -> "forest lambda autumn willow thunder sigma",                   // exact dup of 11
      13L -> "zzzz qqqq zzzz qqqq zzzz qqqq xxqz",                          // quality reject
      14L -> "trout stone golden alpha theta cedar")                        // clean, redundant vs standing
    Seq(10L, 11L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f1")
    Seq(12L, 13L, 14L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f2")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    val builds0 = DecontaminationGate.evalGramBuilds.get()
    val (dest, digest, store, manifest) = outDirs()
    CuratedIngest.runCuratedIngest(stream(), weights, dest, digest, store, manifest,
      ckpt, gates = Seq(new DecontaminationGate(spark, evalDir),
        new NoveltyGate.Static(standingGrams, 5000L)), divisor = 16)
    // the frozen suite was shingled exactly once across the two
    // micro-batches (the committed-asset contract, r20)
    assert(DecontaminationGate.evalGramBuilds.get() == builds0 + 1,
      "eval grams must be derived once per suite, not once per batch")
    val all = texts.toSeq.toDF("doc_id", "text")
    def firstSeen(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val qualityKept = QualityGate.gate(all, weights).filter(col("kept"))
      .select("doc_id", "text")
    // batch twin of the full composition, each stage the batch operator
    val batchKept = firstSeen(NoveltyGate.gate(
        DecontaminationGate.gate(qualityKept, evalDocs)
          .filter(col("admitted")).select("doc_id", "text"),
        standingGrams, 5000L)
      .filter(col("admitted")).select("doc_id", "text"))
    val landed = spark.read.parquet(dest).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(landed == batchKept,
      s"stream composition must equal batch quality→decontaminate→novelty→dedup: $landed vs $batchKept")
    // the pin is sharp: WITHOUT the decontamination tier the leaked doc
    // would have landed (it passes quality and is novel vs standing) —
    // only the new tier rejects it
    val withoutDecon = firstSeen(NoveltyGate.gate(qualityKept, standingGrams, 5000L)
      .filter(col("admitted")).select("doc_id", "text"))
    assert(withoutDecon.contains(10L) && !landed.contains(10L),
      s"the decontamination tier must be what rejected doc 10: $withoutDecon vs $landed")
    assert(landed.contains(11L) && !landed.contains(12L) &&
      !landed.contains(13L) && !landed.contains(14L), s"$landed")
    // replay convergence: a fresh checkpoint over the same source lands
    // the same set into fresh stores, and the committed eval-gram asset
    // is REUSED (no second shingle pass)
    val (dest2, digest2, store2, manifest2) = outDirs()
    CuratedIngest.runCuratedIngest(stream(), weights, dest2, digest2, store2, manifest2,
      Files.createTempDirectory("graft_cde_ck2").toString,
      gates = Seq(new DecontaminationGate(spark, evalDir),
        new NoveltyGate.Static(standingGrams, 5000L)), divisor = 16)
    assert(DecontaminationGate.evalGramBuilds.get() == builds0 + 1,
      "a second run on the same frozen suite must reuse the committed asset")
    val landed2 = spark.read.parquet(dest2).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(landed2 == landed, s"replay diverged: $landed2 vs $landed")
    spark.catalog.clearCache()
  }

  test("curated ingest with the accreting novelty gate: batch-1 admissions reject a redundant batch-2 doc; every persist released") {
    import graft.streaming.{ChunkStoreIngest, CuratedIngest, DecontaminationGate}
    import graft.operators.{Dedup, TextAnalysis}
    val weights = TextAnalysis.classifierWeights()
    val src = Files.createTempDirectory("graft_cia_src").toString
    val evalDir = Files.createTempDirectory("graft_cia_eval").toString
    val root = Files.createTempDirectory("graft_cia").toString
    // words from the probed classifier-positive pool, so every verdict
    // below comes from the intended gate
    Seq((900L, "alpha theta cedar forest lambda autumn willow thunder"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$evalDir/documents.parquet")
    val standingGrams = Dedup.gramDf(
      Seq((1L, "trout stone golden alpha theta cedar")).toDF("doc_id", "text"), 3)
    val texts = Map(
      11L -> "voyage valley heron cloud crimson zeta",                        // novel: admitted, accretes
      12L -> "alpha theta cedar forest lambda autumn willow thunder sigma",   // leaks the eval 8-gram
      13L -> "zzzz qqqq zzzz qqqq zzzz qqqq xxqz",                            // quality reject
      21L -> "valley heron cloud crimson zeta falcon",                        // 3 of 4 shingles from doc 11
      22L -> "falcon copper salmon trout stone golden")                       // 3 of 4 shingles novel
    Seq(11L, 12L, 13L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f1")
    Seq(21L, 22L).map(i => (i, texts(i))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(src + "/f2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src + "/*")
    spark.catalog.clearCache()
    CuratedIngest.runCuratedIngest(stream, weights, s"$root/docs", s"$root/digests",
      s"$root/store", s"$root/manifest", s"$root/ckpt",
      gates = Seq(new DecontaminationGate(spark, evalDir),
        new NoveltyGate.Accreting(s"$root/grams", standingGrams, 5000L)),
      divisor = 16)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"a batch must release everything it persists: ${spark.sparkContext.getPersistentRDDs.keys}")
    val landed = spark.read.parquet(s"$root/docs").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(landed == Map(11L -> texts(11L), 22L -> texts(22L)), s"$landed")
    // the pin is sharp: against the standing set alone doc 21 is novel —
    // only batch 1's accreted admission rejects it
    val static21 = NoveltyGate.gate(Seq((21L, texts(21L))).toDF("doc_id", "text"),
      standingGrams, 5000L).select("admitted").as[Boolean].collect().toSeq
    assert(static21 == Seq(true), s"pin is vacuous: the static gate rejects doc 21 too")
    assert(ChunkStoreIngest.reassemble(spark, s"$root/store", s"$root/manifest")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == landed)
  }

  test("curated ingest: empty- and null-text docs come back from reassembly with their landed text") {
    import graft.streaming.{ChunkStoreIngest, CuratedIngest}
    val weights = graft.operators.TextAnalysis.classifierWeights()
    def docs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def landAndRestore(rows: Seq[(Long, String)]) = {
      val root = Files.createTempDirectory("graft_ci_empty").toString
      CuratedIngest.processBatch(rows.toDF("doc_id", "text"), 0L, weights, s"$root/docs",
        s"$root/digests", s"$root/store", s"$root/manifest", divisor = 16)
      (docs(spark.read.parquet(s"$root/docs")),
        docs(ChunkStoreIngest.reassemble(spark, s"$root/store", s"$root/manifest")))
    }
    val forest = "forest lambda autumn willow thunder sigma"
    val (landed, restored) = landAndRestore(Seq((1L, forest), (2L, "")))
    assert(landed == Map(1L -> forest, 2L -> ""), s"both docs pass the gate and land: $landed")
    assert(restored == landed, s"reassembly must return every landed doc: $restored")
    // a null text dedups against "" (same digest), so it lands alone
    val (landedNull, restoredNull) = landAndRestore(Seq((3L, forest), (4L, null)))
    assert(landedNull.contains(4L) && landedNull(4L) == null, s"$landedNull")
    assert(restoredNull == landedNull, s"reassembly must return the null doc as null: $restoredNull")
  }

  test("standing-table reads declare exactly the schema each writer writes") {
    import graft.streaming.{ChunkStoreIngest, IngestDedup, NearDupIngest, SemanticIngest}
    import graft.operators.Dedup
    // names and types; nullability is not compared, because a file
    // source reads every column (and array element) as nullable
    def fields(schema: org.apache.spark.sql.types.StructType) =
      schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    // the files' columns: partition columns live in the path, not the files
    def written(table: String, partitionCols: String*) =
      fields(spark.read.parquet(table).schema) -- partitionCols
    val root = Files.createTempDirectory("graft_schemas").toString
    val batch = Seq((1L, "a1 a2 a3 a4 a5 a6 and a chunkable body of text"), (2L, "b1 b2 b3 b4"))
      .toDF("doc_id", "text")
    IngestDedup.processBatch(batch, 0L, s"$root/docs", s"$root/digests")
    assert(fields(IngestDedup.DigestSchema) == written(s"$root/digests", "batch", "hp"))
    ChunkStoreIngest.processBatch(batch, 0L, s"$root/store", s"$root/manifest", divisor = 16)
    assert(fields(ChunkStoreIngest.StoreSchema) == written(s"$root/store", "batch", "hp"))
    // near dedup declares the schema of the index rows the batch builds
    val corpusDf = Dedup.gramDf(batch, 3)
    val fresh = Seq((10L, "c1 c2 c3 c4 c5 c6")).toDF("doc_id", "text")
    NearDupIngest.processBatch(fresh, 0L, s"$root/nd", s"$root/ndidx",
      Dedup.ngramIndex(batch, 3, Some(corpusDf)), corpusDf, k = 3, threshold = 0.5)
    assert(fields(Dedup.ngramIndex(fresh, 3, Some(corpusDf)).schema) == written(s"$root/ndidx", "batch"))
    // semantic ingest declares the batch's own vector schema and its band rows'
    val vectors = Seq((20L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val bands = SemanticIngest.bandRows(vectors, 4, 8, 4, 42L)
    SemanticIngest.processBatch(vectors, 0L, s"$root/sem", s"$root/semidx",
      bands.limit(0), vectors.limit(0), 0.9, 4, 8, 4, 42L)
    assert(fields(vectors.schema) == written(s"$root/sem", "batch"))
    assert(fields(bands.schema) == written(s"$root/semidx", "batch"))
    new NoveltyGate.Accreting(s"$root/grams", corpusDf.limit(0))(fresh, 0L).unpersist()
    assert(fields(NoveltyGate.GramSchema) == written(s"$root/grams", "batch"))
  }

  test("streaming profile gate: standing-corpus median/MAD screen equals the batch operator; cold sources pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.Tables.documents(spark, SparkSpec.Sf001)
    val profile = ProfileGate.profile(corpus)
    // arriving docs: known sources with normal / extreme lengths plus a
    // source the profile has never seen (cold start — must pass)
    val known = corpus.select("source").distinct().collect().map(_.getString(0)).sorted
    val rows = Seq(
      (1L, known.head, 300L), (2L, known.head, 900000L),
      (3L, known.last, 250L), (4L, known.last, 0L),
      (5L, "brand_new_source", 123456L))
    val input = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft_pgate_ckpt").toString
    val q = ProfileGate.gate(
        input.toDF().toDF("doc_id", "source", "n_chars"), profile)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("pgate_stream")
      .option("checkpointLocation", ckpt)
      .start()
    input.addData(rows.take(3): _*)
    q.processAllAvailable()
    input.addData(rows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "len_outlier")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    val got = canon(spark.table("pgate_stream"))
    val want = canon(ProfileGate.gate(rows.toDF("doc_id", "source", "n_chars"), profile))
    assert(got == want, s"stream $got != batch $want")
    assert(got.find(_._1 == 2L).exists(_._2), "an extreme length in a profiled source must flag")
    assert(got.find(_._1 == 5L).exists(!_._2), "a cold-start source must pass un-flagged")
    // and the flag agrees with the batch outlier OPERATOR on the corpus
    // itself: gate(corpus, profile) flags exactly lengthOutliers' rows
    val flagged = ProfileGate.gate(corpus, profile)
      .filter(col("len_outlier")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batch = TextAnalysis.lengthOutliers(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == batch, "gate over the corpus must equal the batch outlier set")
  }

  test("old-release checkpoint restart: state-schema incompatibility fails at query start with the migration contract (r18)") {
    // an "r16-shaped" twin — the same single mapGroupsWithState over the
    // same key, but with the state record MISSING the r17 frontier
    // fields — writes a checkpoint; restarting the current funnel twin
    // on it must fail with the operator-facing guidance, not Spark's
    // raw schema diff
    val src = Files.createTempDirectory("graft_mig_src").toString
    val ckpt = Files.createTempDirectory("graft_mig_ckpt").toString
    Seq((1L, "view", 1000000L), (2L, "view", 1500000L))
      .toDF("user_id", "event_type", "ts_ns").coalesce(1).write.parquet(s"$src/a_part")
    def stream = spark.readStream
      .schema("user_id LONG, event_type STRING, ts_ns LONG")
      .parquet(src + "/*")
    val old = stream.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[OldFunnelState, Long](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) { (u, it, st) =>
        st.update(OldFunnelState(None, None, None, it.size.toLong)); u
      }
    // foreachBatch sink: the memory sink cannot recover from an
    // existing checkpoint at all, so only this (production) runner
    // ever reaches the state schema check on restart; the sink must
    // ACT on the batch or the stateful operator never commits
    EventStream.runAvailableNowForeach(old.toDF(), ckpt, OutputMode.Update)((b, _) => { b.count(); () })
    // a new file so the restarted query plans a real micro-batch
    Seq((1L, "click", 2000000L))
      .toDF("user_id", "event_type", "ts_ns").coalesce(1).write.parquet(s"$src/b_part")
    val e = intercept[IllegalStateException] {
      EventStream.runAvailableNowForeach(
        EventStream.funnelStepsStream(stream).toDF(), ckpt, OutputMode.Update)((b, _) => { b.count(); () })
    }
    assert(e.getMessage.contains("FRESH checkpoint") && e.getMessage.contains(ckpt),
      s"expected the migration contract, got: ${e.getMessage.take(300)}")
    assert(EventStream.stateSchemaIncompatible(e.getCause),
      "the original schema-compat failure must ride along as the cause")
    // and a fresh checkpoint heals it — the guidance is executable
    val fresh = Files.createTempDirectory("graft_mig_fresh").toString
    EventStream.runAvailableNow(
      EventStream.funnelStepsStream(stream).toDF(), "mig_fresh", fresh, OutputMode.Update)
    assert(spark.table("mig_fresh").count() > 0)
    spark.catalog.clearCache()
  }
}

/** The r16 shape of [[graft.streaming.EventStream.FunnelState]] — kept
  * ONLY to write an old-release checkpoint in the migration spec.
  */
case class OldFunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long], seq: Long)
