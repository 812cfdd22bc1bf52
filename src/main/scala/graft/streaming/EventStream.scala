package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming analog of the reference's scroll->mutate->bulk loop
  * (`SURVEY.md` §2.7): each scroll page is a micro-batch, flushSize is
  * the per-trigger cap, the completed-subtask set is the checkpoint.
  *
  * `Trigger.AvailableNow` gives exactly the reference's bounded-stream
  * semantics: drain everything that exists, then stop — resumable from
  * the checkpoint (P5 resume semantics).
  */
object EventStream {

  /** events.parquet schema with `ts` as micros NTZ — the common shipped
    * variant (see Tables.events for the full ts contract; [[readEvents]]
    * sniffs the actual on-disk variant and adapts).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType), // micros, no zone; UTC session
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** File-source stream over the events table; `maxFilesPerTrigger`
    * plays the reference's flushSize (batch cap). Normalizes to the
    * same (`ts` micros TIMESTAMP, `ts_ns` exact long nanos) contract
    * as [[graft.Tables.events]] — including the SAME schema
    * adaptivity: the table has shipped with `ts` as both
    * TIMESTAMP(NANOS) (a long under `nanosAsLong`) and micros NTZ, so
    * the stream sniffs the on-disk footer once (schema-only batch
    * read, no data scan) and picks the matching user schema +
    * normalization; a hard-pinned NTZ schema would misread the nanos
    * variant that the batch path accepts.
    *
    * Declaring the stream BEFORE the first file lands (the normal
    * file-stream pattern) has nothing to sniff: the stream then
    * assumes the micros-NTZ variant — pass `tsType = Some(LongType)`
    * to pin the nanos variant for an ingest directory known to
    * receive it (a streaming source schema cannot change mid-query,
    * so late adaptation is impossible by construction).
    */
  def readEvents(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1,
      tsType: Option[org.apache.spark.sql.types.DataType] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC") // NTZ cast is instant-preserving only in UTC
    val onDiskTs = tsType.getOrElse {
      try spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }
    }
    val schema = StructType(eventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = onDiskTs) else f))
    // file source requires a directory; glob-filter to the events table
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    onDiskTs match {
      case LongType => // TIMESTAMP(NANOS) as long
        raw
          .withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros((CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000)"))
      case _ => // micros TIMESTAMP / TIMESTAMP_NTZ
        raw
          .withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L")) // exact for session gaps
    }
  }

  /** Session gap: 30 minutes, in exact nanoseconds. */
  val SessionGapNs: Long = 30L * 60 * 1000L * 1000L * 1000L

  /** Session gap in microseconds — the cross-engine unit (DuckDB's
    * TIMESTAMP is micros-precision, so the oracle computes in micros;
    * we truncate our exact ns the same way).
    */
  val SessionGapUs: Long = 30L * 60 * 1000L * 1000L

  /** Attribution lookback (micros) — the ONE constant behind both
    * [[attributionStream]] and [[attributionBatch]], so the stream and
    * its oracle-checked batch twin can never silently diverge on the
    * window length.
    */
  val AttributionWindowUs: Long = 30L * 60 * 1000L * 1000L

  /** Batch sessionization: gap-based session ids via the classic
    * lag -> new-session flag -> running sum. All arithmetic is exact
    * integer microseconds on both engines (DuckDB timestamps are
    * micros-precision), so the oracle matches bit-for-bit.
    * One shuffle on user_id; both windows share it.
    */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(spark, dir)
      .withColumn("ts_us", expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    ev
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn(
        "new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1L)
          .otherwise(0L)
      )
      .withColumn(
        "session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      )
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us")
      )
      .orderBy("user_id", "session_id")
  }

  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Streaming sessionization: per-user state holds observed event
    * times; each batch re-derives the gap-based session count. Demo
    * keeps full per-user state (bounded: one user's events); the
    * production variant ages state out with an event-time timeout +
    * watermark so only open sessions stay resident.
    */
  def sessionizeStream(events: DataFrame, gapNs: Long = SessionGapNs): Dataset[UserSessions] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts_ns"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Seq[Long], UserSessions](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Seq[Long]]) =>
          val all = (state.getOption.getOrElse(Seq.empty) ++ rows.map(_._2)).sorted
          state.update(all)
          val sessions = all.foldLeft((0L, Long.MinValue)) {
            case ((n, prev), t) => (if (prev == Long.MinValue || t - prev > gapNs) n + 1 else n, t)
          }._1
          UserSessions(uid, sessions, all.size.toLong)
      }
  }

  final case class SessionOut(
      user_id: Long,
      session_start_us: Long,
      session_end_us: Long,
      n_events: Long
  )

  /** Production streaming sessionization: `flatMapGroupsWithState` with
    * an EVENT-TIME timeout. Per-user state holds only the OPEN session
    * (start, last-seen, count — three longs, not the event history);
    * when the watermark passes last-seen + gap, the state times out,
    * the closed session is emitted, and the store entry is freed. State
    * size is therefore `O(active users within the gap horizon)`,
    * independent of stream length — the shape that runs forever.
    *
    * Late events inside the watermark extend the open session; events
    * later than the watermark are dropped by the watermark itself.
    */
  def sessionizeStreamTimeout(
      events: DataFrame,
      gapUs: Long = SessionGapUs
  ): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    // state tuple: (start_us, end_us, count) of the open session
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout
      ) { case (uid, rows, state: GroupState[(Long, Long, Long)]) =>
        if (state.hasTimedOut) {
          val (s, e, n) = state.get
          state.remove()
          Iterator.single(SessionOut(uid, s, e, n))
        } else {
          // exact micros: getTime is ms-truncated, sub-ms lives in getNanos
          val ts = rows
            .map(r => r._2.getTime / 1000L * 1000000L + r._2.getNanos / 1000L)
            .toSeq.sorted
          // Gap-merge the open state interval and the batch's events as
          // sorted intervals (merge when the next start is within one gap
          // of the running end). Folding late events through their own
          // accumulator interval — instead of emitting each as a closed
          // singleton — makes consecutive late events within one gap of
          // EACH OTHER form a single late session, and a run of late
          // events bridging into the open session extends it, exactly as
          // the batch sessionizer would have grouped the same input.
          val incoming = (state.getOption.toList ++ ts.map(t => (t, t, 1L))).sortBy(_._1)
          val mergedRev = incoming.foldLeft(List.empty[(Long, Long, Long)]) {
            case ((s, e, n) :: rest, (s2, e2, n2)) if s2 <= e + gapUs =>
              (s, math.max(e, e2), n + n2) :: rest
            case (acc, iv) => iv :: acc
          }
          // the latest interval stays open; everything earlier is closed
          val open = mergedRev.headOption
          val closed = mergedRev.drop(1).reverse.map { case (s, e, n) => SessionOut(uid, s, e, n) }
          open.foreach { o =>
            state.update(o)
            // close the session `gap` after its last event (event time)
            state.setTimeoutTimestamp((o._2 + gapUs) / 1000L + 1L)
          }
          closed.iterator
        }
      }
  }

  /** One user's entry-path prefix — the bounded state behind
    * [[pathPrefixStream]]: at most `k` event types plus the ordering
    * frontier.
    */
  case class PathState(path: String, depth: Int, seq: Long, lastT: Long, ooo: Long)

  /** Per-update emission of [[pathPrefixStream]]; `seq` is monotone so
    * a consumer picks each user's latest row, `ooo` is the
    * ordering-violation counter.
    */
  case class PathUpdate(user_id: Long, path: String, depth: Long, seq: Long, ooo: Long)

  /** ENTRY-PATH STREAM — the stateful twin of
    * [[graft.operators.Relational.qTopPaths]]' per-user half: each
    * user's first-`k`-event-type path maintained in
    * `mapGroupsWithState` with O(k) state (the joined prefix plus the
    * fold frontier — never an event list). The top-20 rollup stays a
    * batch/report concern (a global top-k over accreting counts is
    * Complete-mode territory); what streams is the expensive part, the
    * per-user path fold over the event firehose.
    *
    * Same ordering contract and violation counter as
    * [[funnelStepsStream]]: exact under per-key in-order arrival
    * across micro-batches (within a batch events are sorted by
    * (time, event_id), the batch query's key); a batch arriving behind
    * the frontier increments `ooo` on the emitted row. StreamingSpec
    * pins the finals' path counts equal to the oracle-checked batch
    * top-20 on a time-split source.
    */
  def pathPrefixStream(events: DataFrame, k: Int = 4): Dataset[PathUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[PathState, PathUpdate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (user, it, state) =>
          val s0 = state.getOption.getOrElse(PathState("", 0, 0L, Long.MinValue, 0L))
          val sorted = it.toArray.sortBy(e => (e._4, e._2))
          val violated = sorted.nonEmpty && sorted.head._4 < s0.lastT
          var path = s0.path
          var depth = s0.depth
          sorted.foreach { case (_, _, tpe, _) =>
            if (depth < k) {
              path = if (depth == 0) tpe else s"$path>$tpe"
              depth += 1
            }
          }
          val ns = PathState(path, depth, s0.seq + 1,
            sorted.lastOption.fold(s0.lastT)(e => math.max(s0.lastT, e._4)),
            s0.ooo + (if (violated) 1L else 0L))
          state.update(ns)
          PathUpdate(user, ns.path, ns.depth.toLong, ns.seq, ns.ooo)
      }
  }

  /** SESSION-STATS STREAM — the incremental form of
    * [[graft.operators.Relational.qSessionStats]]: the session-length
    * histogram maintained OVER THE CLOSED-SESSIONS STREAM
    * ([[sessionizeStreamTimeout]]'s output — a session enters the
    * histogram exactly once, when the watermark closes it). Identical
    * expression tree to the batch rollup (count / total duration / max
    * duration per event-count bucket), so parity is structural once
    * every session has closed.
    *
    * Composable stage by design: takes the closed-sessions frame, so a
    * deployment can sessionize once and fan out to this rollup, the
    * raw session sink, and any other consumer. State shape: the
    * upstream sessionizer holds O(open sessions); this aggregation's
    * state is the histogram itself — ≤ longest-session buckets, each a
    * 3-long sufficient statistic, every column monotone under
    * accretion (counts and sums grow, max never falls), which is what
    * lets an Update-mode consumer take the per-bucket max as the final
    * answer. StreamingSpec pins equality with the oracle-checked batch
    * query on a time-split source.
    *
    * Deployment note: Spark's static checker flags ANY stateful op
    * downstream of flatMapGroupsWithState, because a time-windowed
    * consumer could discard the emitted rows as late (their event
    * times sit behind the watermark by construction — a session closes
    * only after the watermark passes it). This rollup is
    * WATERMARK-FREE: a global Update-mode aggregate has no late-row
    * discard path, every closed session is folded exactly once
    * regardless of its event time. Run the composed query with
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * — the documented escape hatch for exactly this
    * provably-unaffected shape.
    */
  def sessionStatsStream(closedSessions: DataFrame): DataFrame =
    closedSessions
      .groupBy(col("n_events"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("session_end_us") - col("session_start_us")).as("total_duration_us"),
        max(col("session_end_us") - col("session_start_us")).as("max_duration_us"))

  /** Streaming dedup: drop re-deliveries of the same key while it can
    * still legally arrive (the watermark bounds the dedup state — the
    * reference's at-least-once bulk retries made idempotent, but with
    * state that ages out instead of growing with the stream). Keyed on
    * `event_id`; the state store holds one entry per key inside the
    * watermark horizon, so memory is bounded by event-time skew, not
    * stream length.
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream attribution join: every purchase matched to the same
    * user's clicks in the preceding `windowUs`. Both sides carry
    * watermarks and the join condition bounds click event-time to
    * [purchase - window, purchase], which is what lets Spark EVICT join
    * state: clicks older than watermark+window and purchases older than
    * the watermark can never match again and are dropped — state is
    * bounded by in-flight event-time skew, not by stream history (the
    * difference between a join that runs forever at 100 TB/day and one
    * that accretes the whole click log in executor memory).
    *
    * Append-mode only (Spark's stream-stream inner-join contract);
    * converges to [[attributionBatch]] — asserted in StreamingSpec.
    */
  def attributionStream(events: DataFrame, windowUs: Long = AttributionWindowUs): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(
      clicks,
      col("user_id") === col("buyer_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowUs MICROSECOND"))
      .select(col("purchase_id"), col("buyer_id").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Batch twin of [[attributionStream]], aggregated per purchase (click
    * count + most recent click) — the oracle-checked target the stream
    * must converge to. Exact integer-microsecond arithmetic both sides.
    * Both join inputs shuffle on user_id only; the per-user time-range
    * filter runs post-join, and per-user fan-out is bounded by that
    * user's own activity, not the corpus.
    */
  def attributionBatch(
      spark: SparkSession, dir: String, windowUs: Long = AttributionWindowUs): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .withColumn("tus", expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("tus").as("ctus"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("tus").as("ptus"))
    purchases.join(clicks, "user_id")
      .filter(col("ctus") <= col("ptus") && col("ctus") >= col("ptus") - lit(windowUs))
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("ctus")).as("last_click_us"))
      .orderBy("purchase_id")
  }

  /** Watermarked tumbling-window counts per event type. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"),
        col("cnt")
      )

  /** SLIDING-window rollup with EXACT distinct users in a stream — the
    * continuous twin of `q_sliding_window`, and deliberately the
    * hardest shape Structured Streaming supports: TWO CHAINED STATEFUL
    * AGGREGATIONS in append mode (Spark ≥ 3.5's multiple-stateful-
    * operator support). The first aggregation keys state by
    * (window, type, user) — collapsing each user to one row per window
    * is what makes the distinct EXACT without holding a user set in
    * any single buffer; the second re-aggregates those rows to
    * (window, type) counts. The watermark propagates through both
    * operators; a window emits once the watermark passes its end, so
    * results are append-only and replay-stable.
    *
    * State shape at scale: stage-1 state is (windows × types × active
    * users) skinny count rows — the same cardinality any exact
    * distinct must pay, but spread across the shuffle, never a
    * per-window blob; stage-2 state is windows × types. Each event
    * feeds window/slide = 3 windows (constant fan-out).
    */
  def slidingUserCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "3 hours", "1 hour"), col("event_type"), col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("sv"))
      .groupBy(col("window"), col("event_type"))
      .agg(
        sum(col("n")).as("n_events"),
        // a NULL user forms a stage-1 group like any key, but the batch
        // twin's count_distinct IGNORES nulls — count only non-null
        // user groups so parity holds on sources with nullable ids
        // (n_events/sum_v still include the null-user rows, as batch does)
        count(when(col("user_id").isNotNull, lit(1))).as("n_users"),
        sum(col("sv")).as("sum_v"))
      .select(
        (unix_micros(col("window.start")) / lit(3600000000L)).cast("long").as("win_start"),
        col("event_type"), col("n_events"), col("n_users"), col("sum_v"))

  /** VALUE-HISTOGRAM STREAM — the incremental form of
    * [[graft.operators.Relational.qValueHistogram]]: the cent-doubling
    * rollup as a Complete-mode streaming aggregation. Identical
    * expression tree (floor(value·100+0.5) cents, integer-log2 bucket
    * via binary width), so stream-vs-batch parity is structural.
    * State is the OUTPUT table itself — event types × ≤64 doubling
    * buckets, a bounded dimension² rollup, which is exactly when
    * Complete mode is the honest choice (no watermark to reason
    * about, no per-event state).
    */
  def valueHistogramStream(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
      .filter(col("vc") >= 1)
      .groupBy(col("event_type"), (length(bin(col("vc"))) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("vc")).as("total_cents"),
        min(col("vc")).as("min_cents"),
        max(col("vc")).as("max_cents"))

  /** HOURLY-PROFILE STREAM — the incremental form of
    * [[graft.operators.Relational.qHourlyProfile]]'s cell table: the
    * (UTC hour-of-day × type) rollup as a Complete-mode streaming
    * aggregation, identical cent/hour expression trees so parity with
    * the batch query is structural. State is the output itself — a
    * bounded 24 × |types| table, the value-histogram template.
    *
    * Deliberately narrower than the batch query, honestly: `n_users`
    * is an exact distinct, which in Complete mode would need a second
    * stateful aggregation (unsupported), and a per-cell user SET in
    * custom state grows with the user population — neither is a shape
    * this engine ships; `share_bp` is a per-type division OVER the
    * complete table, one client-side pass off this output. The twin
    * pins the accretive columns (n_events, total_cents) exactly.
    */
  def hourlyProfileStream(events: DataFrame): DataFrame =
    events
      .select(hour(col("ts")).cast("long").as("hr"), col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vc"))
      .groupBy(col("hr"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("vc")).as("total_cents"))

  /** One user's lifespan sufficient statistic: event count and the
    * min/max whole-microsecond event times — 24 bytes per user,
    * ORDER-FREE by construction (count/min/max are commutative
    * monoids), which is why this twin carries no `lastT`/`ooo`
    * frontier: an out-of-order batch folds to the same state.
    */
  case class LifespanState(n: Long, minTus: Long, maxTus: Long)
  case class LifespanUpdate(user_id: Long, n: Long, span_s: Long)

  /** USER-LIFESPAN STREAM — the per-user stage of
    * [[graft.operators.Relational.qUserLifespan]] as custom keyed
    * state (`mapGroupsWithState`): each trigger emits the user's
    * updated (event count, active span in whole seconds) under the
    * batch query's exact time grid (ns → µs truncation, span DIV 10⁶).
    * The ≤64-bucket doubling histogram is a bounded fold OVER the
    * latest per-user rows — the session-stats layering, with the
    * bucketing left to the consumer because a user's bucket moves as
    * its span grows (the histogram is not accretive per cell, so the
    * honest streaming surface is the per-user statistic).
    *
    * State at scale: O(active users) × 24 bytes, the same cardinality
    * the batch exchange pays; no event list, no timeline.
    */
  def userLifespanStream(events: DataFrame): Dataset[LifespanUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[LifespanState, LifespanUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[LifespanState]) =>
          var s = state.getOption.getOrElse(LifespanState(0L, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, t) =>
            s = LifespanState(s.n + 1, math.min(s.minTus, t), math.max(s.maxTus, t))
          }
          state.update(s)
          LifespanUpdate(uid, s.n, (s.maxTus - s.minTus) / 1000000L)
      }
  }

  /** One user's burstiness sufficient statistic: the OPEN hour's
    * (bucket, count), the closed hours' three-sum rollup (count of
    * active hours, Σc, Σc²), the fold frontier and an ooo counter —
    * O(1) per user, never an hour list. Counting WITHIN an hour is
    * order-free, so a late event landing in the still-open hour folds
    * EXACTLY; only an event whose hour already closed is flagged (its
    * count belongs in a Σc²-term the state can no longer reopen).
    */
  case class BurstState(openHr: Long, openCnt: Long, hClosed: Long,
      scClosed: Long, sccClosed: Long, lastTus: Long, ooo: Long)

  /** Per-update emission of [[burstinessStream]]: the user's current
    * integer Fano factor with the open hour folded in, the monotone
    * total event count `n` (the latest-row selector), and the sticky
    * ooo flag.
    */
  case class BurstUpdate(user_id: Long, fano_q: Long, n: Long, ooo: Boolean)

  /** USER-BURSTINESS STREAM — the per-user stage of
    * [[graft.operators.Relational.qUserBurstiness]] as custom keyed
    * state: hourly event counts fold into (h, Σc, Σc²) as hours close
    * (a user's next active hour opening closes the previous one — no
    * timer needed; empty hours don't exist in the batch statistic
    * either), and each trigger emits the exact integer Fano factor
    * with the open hour included, so the latest row per user IS the
    * batch query's per-user value. The bucket histogram is the
    * consumer-side fold, as with the lifespan/diversity twins (a
    * user's bucket moves as its dispersion accretes).
    *
    * Ordering contract, finer than the gap twin's: within-hour late
    * arrivals fold exactly (counts commute); only an event for an
    * ALREADY-CLOSED hour sets the sticky flag — its c² term is lost to
    * the closed rollup and the user's dispersion is suspect from then
    * on.
    *
    * State at scale: O(active users) × 7 longs.
    */
  def burstinessStream(events: DataFrame): Dataset[BurstUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[BurstState, BurstUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[BurstState]) =>
          var s = state.getOption.orNull
          rows.map(_._2).toArray.sorted.foreach { t =>
            val hr = t / 3600000000L
            s =
              if (s == null) BurstState(hr, 1L, 0L, 0L, 0L, t, 0L)
              else if (hr == s.openHr)
                s.copy(openCnt = s.openCnt + 1, lastTus = math.max(s.lastTus, t))
              else if (hr > s.openHr)
                BurstState(hr, 1L, s.hClosed + 1,
                  s.scClosed + s.openCnt,
                  s.sccClosed + s.openCnt * s.openCnt,
                  math.max(s.lastTus, t), s.ooo)
              else
                // an hour the state already closed: fold into the open
                // hour's count (n stays right) but flag — the c² split
                // between the two hours is unrecoverable
                s.copy(openCnt = s.openCnt + 1, ooo = s.ooo + 1)
          }
          state.update(s)
          val h = s.hClosed + 1
          val sc = s.scClosed + s.openCnt
          val scc = s.sccClosed + s.openCnt * s.openCnt
          BurstUpdate(uid, (h * scc - sc * sc) / (h * sc), sc, s.ooo > 0L)
      }
  }

  /** One user's interval-merge sufficient statistic: the OPEN span's
    * bounds, the closed spans' rollup (count, covered, longest), the
    * fold frontier and an ooo counter — 56 bytes per user, never an
    * interval list. The sweep is ORDER-SENSITIVE (a span closes only
    * when the next start clears the running end), so like the gap twin
    * the state carries the last folded start and flags violations
    * sticky: an out-of-order event may belong to an already-closed
    * span, and every later total inherits the suspicion.
    */
  case class SpanState(ms: Long, me: Long, nClosed: Long, coveredClosed: Long,
      longestClosed: Long, lastS: Long, seq: Long, ooo: Long)

  /** Per-update emission of [[intervalMergeStream]]: the user's current
    * merged-span totals WITH the open span folded in (so the latest row
    * per user IS the batch answer), plus a monotone `seq` for
    * latest-row selection from an Update-mode sink and the sticky ooo
    * flag.
    */
  case class SpanUpdate(user_id: Long, n_spans: Long, covered_us: Long,
      longest_us: Long, seq: Long, ooo: Boolean)

  /** INTERVAL-MERGE STREAM — the per-user stage of
    * [[graft.operators.Intervals.coverageQuery]] (uptime accounting /
    * activity coverage) as custom keyed state: every event opens a
    * 30-minute activity interval; overlapping/touching intervals
    * coalesce into maximal spans under the batch query's exact rule
    * (a new span begins where a start EXCEEDS the running max end —
    * equality chains). The batch query's window sort becomes a
    * per-batch sort of each user's micro-batch slice folded onto the
    * carried open span; nothing re-reads history.
    *
    * State at scale: O(active users) × 56 bytes. Out-of-order arrival
    * cannot be folded exactly (the violating event may bridge spans the
    * state already closed), so it is DETECTED (frontier + sticky flag),
    * never silently merged — the funnel/gap twins' contract.
    */
  def intervalMergeStream(events: DataFrame,
      winUs: Long = 30L * 60 * 1000000): Dataset[SpanUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SpanState, SpanUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[SpanState]) =>
          val sorted = rows.map(_._2).toArray.sorted
          var s = state.getOption.orNull
          // one violation per batch, counted up front (the gapStream
          // convention): the batch's earliest event preceding the fold
          // frontier means some fold below is against the wrong span
          val ooo = (if (s == null) 0L else s.ooo) +
            (if (s != null && sorted.nonEmpty && sorted.head < s.lastS) 1L else 0L)
          sorted.foreach { t =>
            s =
              if (s == null)
                SpanState(t, t + winUs, 0L, 0L, 0L, t, 1L, ooo)
              else if (t > s.me)
                // the open span closes; a new one opens at t
                SpanState(t, t + winUs, s.nClosed + 1,
                  s.coveredClosed + (s.me - s.ms),
                  math.max(s.longestClosed, s.me - s.ms),
                  math.max(s.lastS, t), s.seq + 1, ooo)
              else
                // extend (touching chains; an ooo event folds here too,
                // flagged — it may really belong to a closed span)
                s.copy(me = math.max(s.me, t + winUs),
                  lastS = math.max(s.lastS, t), seq = s.seq + 1, ooo = ooo)
          }
          state.update(s)
          SpanUpdate(uid, s.nClosed + 1,
            s.coveredClosed + (s.me - s.ms),
            math.max(s.longestClosed, s.me - s.ms),
            s.seq, s.ooo > 0L)
      }
  }

  /** One user's type-diversity sufficient statistic: the distinct
    * event-type SET (bounded by the type vocabulary — ≤ |types|
    * strings, never an event list) plus the event count. Set-union and
    * count are commutative monoids, so like the lifespan twin this
    * state carries no `lastT`/`ooo` frontier: an out-of-order batch
    * folds to the same state.
    */
  case class TypeDiversityState(types: Set[String], n: Long)
  case class TypeDiversityUpdate(user_id: Long, n_types: Long, n: Long)

  /** USER TYPE-DIVERSITY STREAM — the per-user stage of
    * [[graft.operators.Relational.qUserTypeDiversity]] as custom keyed
    * state (`mapGroupsWithState`): each trigger emits the user's
    * updated (distinct-type count, event count). Nulls are excluded
    * from the set — the batch `countDistinct` skips them — but still
    * counted in `n` (the batch `count(lit(1))`). The ≤|types|-bucket
    * rollup is a bounded fold over the LATEST per-user rows (`n` is
    * strictly monotone per update), left to the consumer for the same
    * reason as the lifespan twin: a user's bucket MOVES as its type
    * set grows, so the histogram is not accretive per cell and the
    * honest streaming surface is the per-user statistic.
    *
    * State at scale: O(active users) × |type vocabulary| strings —
    * the same cardinality the batch (user × type) pre-collapse
    * exchange pays.
    */
  def userTypeDiversityStream(events: DataFrame): Dataset[TypeDiversityUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[TypeDiversityState, TypeDiversityUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[TypeDiversityState]) =>
          var s = state.getOption.getOrElse(TypeDiversityState(Set.empty, 0L))
          rows.foreach { case (_, t) =>
            s = TypeDiversityState(if (t != null) s.types + t else s.types, s.n + 1)
          }
          state.update(s)
          TypeDiversityUpdate(uid, s.types.size.toLong, s.n)
      }
  }

  /** One user's day-grid decay sufficient statistic: cent sums per
    * absolute UTC day bucket plus the event count. Bucket-wise sums
    * and the count are commutative monoids, and buckets more than 62
    * days behind the user's own frontier are PRUNED — they can never
    * contribute again (the read-time reference is ≥ every user's
    * frontier and only grows, and the batch query zeroes ages > 62) —
    * so the state is ≤63 (day, cents) pairs + a long per user, never
    * an event list.
    */
  case class DecayState(buckets: Map[Long, Long], n: Long)

  /** Per-update emission of [[decayScoreStream]]: the user's current
    * bucket map, raw — NORMALIZATION IS READ-TIME ([[decayScoreDayFinalize]]):
    * the score divides each bucket by 2^(ref − day) where ref is the
    * GLOBAL max day, which a per-user group cannot know while the
    * stream runs. `n_events` is strictly monotone per update, so a
    * consumer picks each user's latest row from an Update-mode sink.
    */
  case class DecayUpdate(user_id: Long, n_events: Long, max_day: Long,
      buckets: Map[Long, Long])

  /** DECAY-SCORE STREAM — the per-user stage of
    * [[graft.operators.Relational.qDecayScoreDay]] as custom keyed
    * state. Like the lifespan/diversity/burstiness twins the state is
    * an order-free monoid — per-day cent sums commute, the frontier is
    * a max — so the twin needs NO ooo frontier by design: any arrival
    * order folds to the same state, and the parity spec pins both a
    * time-split and an arbitrarily-split source to the batch answer.
    * The µs-anchored [[graft.operators.Relational.qDecayScore]] is
    * deliberately NOT twinned (its per-event truncation against the
    * read-time frontier needs the event list back); the day-grid
    * variant exists to make the decayed-engagement score
    * streaming-exact, with the grid difference declared in its
    * scaladoc instead of approximated silently.
    */
  def decayScoreStream(events: DataFrame): Dataset[DecayUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        // day bucket FLOOR-divides like the batch query:
        // truncating DIV would shift pre-epoch events one bucket high
        // and break the twin's exact-parity claim on such a corpus.
        // floor(floor(ns/1000)/86400e6) == floor(ns/86400e9), so one
        // pmod-floored division over nanos replaces the nested pair.
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 86400000000000)) " +
          "DIV 86400000000000").as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[DecayState, DecayUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[DecayState]) =>
          var buckets = state.getOption.map(_.buckets).getOrElse(Map.empty[Long, Long])
          var n = state.getOption.map(_.n).getOrElse(0L)
          rows.foreach { case (_, day, vc) =>
            buckets = buckets.updated(day, buckets.getOrElse(day, 0L) + vc)
            n += 1
          }
          val frontier = buckets.keys.max
          // prune: a bucket already >62 days behind this user's OWN
          // frontier is >62 behind the global read-time reference too
          val live = buckets.filter { case (d, _) => frontier - d <= 62 }
          state.update(DecayState(live, n))
          DecayUpdate(uid, n, frontier, live)
      }
  }

  /** Read-time normalization of [[decayScoreStream]]'s emissions — the
    * batch query's bucket→score fold over each user's LATEST row: the
    * global reference day is the max frontier across users (= the batch
    * query's max(day) — every day bucket survives in its owner's
    * state), ages and sign-safe shifts identical to
    * [[graft.operators.Relational.qDecayScoreDay]]. The window is
    * user-partitioned (latest-row pick), never global; the explode is
    * ≤63 rows per user.
    */
  def decayScoreDayFinalize(updates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = updates
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("n_events").desc, col("max_day").desc)))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val ref = latest.agg(max(col("max_day")).as("refd"))
    latest
      .select(col("user_id"), col("n_events"),
        explode(col("buckets")).as(Seq("day", "cents")))
      .crossJoin(broadcast(ref))
      .withColumn("age", col("refd") - col("day"))
      .groupBy("user_id")
      .agg(
        first(col("n_events")).as("n_events"),
        min(col("age")).as("last_age_days"),
        coalesce(sum(when(col("age") <= 62,
          expr("CASE WHEN cents < 0 THEN -((-cents) DIV shiftleft(1L, CAST(age AS INT))) " +
            "ELSE cents DIV shiftleft(1L, CAST(age AS INT)) END")).otherwise(lit(0L))), lit(0L))
          .as("decay_score"))
      .orderBy("user_id")
  }

  /** One user's RFM sufficient statistic: latest event time (max),
    * event count, cent-quantized value sum — three longs, all
    * commutative monoids, so the twin carries no ooo frontier (the
    * lifespan/diversity/decay contract: any arrival order folds to the
    * same state).
    */
  case class RfmState(recency_us: Long, frequency: Long, monetary_c: Long)

  /** Per-update emission of [[rfmStream]]: the user's current raw RFM
    * triple. The quartile CUTS are read-time by construction — each
    * user's quartile depends on every other user's rank, which no
    * per-user group can know while the stream runs — so the twin's
    * output is the sufficient statistic and [[rfmFinalize]] owns the
    * segmentation. `frequency` is strictly monotone per update (the
    * latest-row selector for an Update-mode sink).
    */
  case class RfmUpdate(user_id: Long, recency_us: Long, frequency: Long,
      monetary_c: Long)

  /** RFM STREAM — the per-user stage of
    * [[graft.operators.Relational.qRfm]] as custom keyed state: the
    * maintained customer-state table every segmentation dashboard
    * reads, kept exact under streaming ingest at 24 bytes per user.
    * Order-free by design (max/count/sum), like the
    * lifespan/diversity/decay twins; the parity spec pins BOTH a
    * time-split and an arbitrary id-split source to the batch answer.
    */
  def rfmStream(events: DataFrame): Dataset[RfmUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[RfmState, RfmUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[RfmState]) =>
          var s = state.getOption.getOrElse(RfmState(Long.MinValue, 0L, 0L))
          rows.foreach { case (_, tus, vc) =>
            s = RfmState(math.max(s.recency_us, tus), s.frequency + 1, s.monetary_c + vc)
          }
          state.update(s)
          RfmUpdate(uid, s.recency_us, s.frequency, s.monetary_c)
      }
  }

  /** Read-time segmentation of [[rfmStream]]'s emissions: pick each
    * user's LATEST row (frequency is strictly monotone; the window is
    * user-partitioned, never global) and run the BATCH query's own
    * quartile-cut stage ([[graft.operators.Relational.rfmSegments]] —
    * the same GlobalRank ranged ntile cuts, so parity is structural).
    */
  def rfmFinalize(updates: DataFrame): DataFrame =
    graft.operators.Relational.rfmSegments(
      compactUpdates(updates, "user_id", "frequency")
        .select(col("user_id"), col("recency_us"), col("frequency"), col("monetary_c")))

  /** MAINTENANCE COMPACTION for the maintained-table twins' Update-mode
    * sinks: keep each key's LATEST
    * row by a strictly-monotone per-key sequence column — every twin
    * emits one (`frequency` for rfm, `n_events` for decay, `n` for
    * lifespan/burstiness/type-diversity, `seq` for path prefixes) — so
    * a periodically-compacted sink bounds every finalizer's read path
    * at O(keys) instead of O(keys × batches) of raw update history.
    * Idempotent (compacting a compacted table is a no-op), and
    * finalizer-transparent by construction: each finalizer's own
    * latest-row pick selects the same rows over the compacted table
    * (pinned in StreamingSpec). The window is keyed per user — parallel
    * per-partition work, never a global sort. Rows tied on (key, seq) —
    * a twin restarted from a fresh checkpoint into the same sink emits
    * them — resolve by every remaining column ascending, so the kept
    * row never depends on input order.
    */
  def compactUpdates(updates: DataFrame, keyCol: String, seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tiebreak = updates.columns.toSeq.filterNot(Set(keyCol, seqCol)).map(col(_).asc)
    updates
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCol).orderBy(col(seqCol).desc +: tiebreak: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** One user's funnel progress — the BOUNDED sufficient statistic of
    * the strictly-ordered view→click→purchase funnel under in-order
    * arrival: three optional first-transition times, 24 bytes per
    * user, never an event list.
    */
  /** State schema note: `lastT`/`ooo` (also in [[LastType]] and
    * [[PathState]]) are part of the carried state — a checkpoint written
    * without them fails state-store schema compatibility on restart.
    * Such deployments restart these queries from a fresh checkpoint
    * (replaying the source or accepting a state rebuild); there is no
    * in-place migration, by design — the defaults keep new checkpoints
    * self-describing.
    */
  case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long], seq: Long,
      lastT: Long = Long.MinValue, ooo: Long = 0L)

  /** Per-update emission of [[funnelStepsStream]]: the user's current
    * funnel times plus a monotone `seq` so a consumer (or the parity
    * spec) can pick each user's LATEST row from an Update-mode sink.
    * `ooo` counts the micro-batches whose earliest event for this user
    * PRECEDED the carried fold frontier — the ordering contract's
    * violation counter: a non-zero value says this user's funnel
    * may differ from the batch answer, instead of being silently wrong.
    */
  case class FunnelUpdate(user_id: Long, t1: Option[Long], t2: Option[Long],
      t3: Option[Long], seq: Long, ooo: Long)

  /** FUNNEL-STEPS STREAM — the stateful twin of
    * [[graft.operators.Relational.qFunnelSteps]]: per user, the first
    * view time, the first click strictly after it, and the first
    * purchase strictly after that, maintained in
    * `mapGroupsWithState` with O(1) state per user.
    *
    * ORDERING CONTRACT: exact when each user's events arrive in
    * event-time order ACROSS micro-batches (the per-key ordered-log
    * deployment shape — a user-keyed Kafka topic or time-windowed file
    * drops); WITHIN a batch order is free (the group's new events are
    * sorted by time here before folding). Under that contract the
    * greedy fold IS the batch semantics: the first view seen is the
    * min view, the first qualifying click is the min click after it,
    * and so on — which is what makes 3 longs a sufficient statistic
    * (out-of-order history replay would need the full event list; the
    * batch query answers that case). StreamingSpec pins equality with
    * the oracle-checked batch query on a time-split source.
    *
    * VIOLATION DETECTION: the contract is not assumed silently — the
    * state carries the fold frontier (the latest event
    * time already folded), and a batch whose earliest event for the
    * user precedes it increments the emitted `ooo` counter. Production
    * alerts on `max(ooo) > 0` instead of discovering a mis-ordered
    * source from wrong funnels; the in-order parity spec pins
    * `ooo == 0` everywhere, and a cross-batch out-of-order case pins
    * the counter firing.
    */
  def funnelStepsStream(events: DataFrame): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        col("event_type"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelUpdate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (user, it, state) =>
          val s0 = state.getOption.getOrElse(FunnelState(None, None, None, 0L))
          var t1 = s0.t1; var t2 = s0.t2; var t3 = s0.t3
          // batch-local sort: iterator order is shuffle order, the
          // contract's ordering is only across batches
          val sorted = it.toArray.sortBy(_._3)
          val violated = sorted.nonEmpty && sorted.head._3 < s0.lastT
          sorted.foreach { case (_, tpe, t) =>
            tpe match {
              case "view" if t1.isEmpty                                  => t1 = Some(t)
              case "click" if t1.nonEmpty && t2.isEmpty && t > t1.get    => t2 = Some(t)
              case "purchase" if t2.nonEmpty && t3.isEmpty && t > t2.get => t3 = Some(t)
              case _                                                     =>
            }
          }
          val ns = FunnelState(t1, t2, t3, s0.seq + 1,
            sorted.lastOption.fold(s0.lastT)(e => math.max(s0.lastT, e._3)),
            s0.ooo + (if (violated) 1L else 0L))
          state.update(ns)
          FunnelUpdate(user, t1, t2, t3, ns.seq, ns.ooo)
      }
  }

  /** Last seen event type per user — the O(1) state behind
    * [[eventTransitionsStream]].
    */
  case class LastType(tpe: String, lastT: Long = Long.MinValue, ooo: Long = 0L)

  /** One observed consecutive-event transition. `ooo` marks rows whose
    * user's ordering contract has been violated — STICKY from the
    * first violating micro-batch on: once an
    * out-of-order event corrupted the carried last-type, every LATER
    * transition's predecessor is suspect too, not just the violating
    * batch's rows, so the flag rides the state, and a consumer can
    * count/route flagged rows instead of trusting them blindly.
    */
  case class Transition(user_id: Long, from_type: String, to_type: String,
      ooo: Boolean = false)

  /** EVENT-TRANSITION STREAM — the stateful twin of
    * [[graft.operators.Relational.qEventTransitions]]: each user's
    * consecutive-event (from → to) pairs emitted AS THEY HAPPEN from
    * `flatMapGroupsWithState` holding only the user's last event type.
    * Every transition is emitted exactly once (the predecessor is
    * either batch-local or the carried state), so the accumulated
    * emissions rolled up by (from, to) ARE the batch matrix — no
    * latest-row bookkeeping needed downstream.
    *
    * Same ordering contract as [[funnelStepsStream]]: exact under
    * per-key event-time-ordered arrival across micro-batches;
    * within-batch order is sorted locally by (time, event_id). A lost
    * cross-batch handoff would DROP boundary transitions, which is
    * exactly what the parity spec's time-split source would expose.
    */
  def eventTransitionsStream(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastType, Transition](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (user, it, state) =>
          val sorted = it.toArray.sortBy(e => (e._4, e._2))
          val s0 = state.getOption
          // ordering-contract check: an event before the carried
          // frontier means the carried last-type is not this batch's
          // true predecessor. The violation count rides the STATE, so
          // every transition after the corruption stays flagged — the
          // carried from-type is suspect from then on, not just in the
          // violating batch
          val oooCount = s0.fold(0L)(_.ooo) +
            (if (sorted.nonEmpty && s0.exists(s => sorted.head._4 < s.lastT)) 1L else 0L)
          var last = s0.map(_.tpe)
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          sorted.foreach { case (_, _, tpe, _) =>
            last.foreach(f => out += Transition(user, f, tpe, oooCount > 0L))
            last = Some(tpe)
          }
          sorted.lastOption.foreach { e =>
            state.update(LastType(e._3,
              math.max(s0.fold(Long.MinValue)(_.lastT), e._4), oooCount))
          }
          out.iterator
      }
  }

  /** One user's inter-event-gap frontier: the (time, event_id) of the
    * LAST event under the batch query's exact ordering, plus the
    * sticky out-of-order counter — 24 bytes per user.
    */
  case class GapState(lastTus: Long, lastEid: Long, ooo: Long = 0L)

  /** One observed consecutive-event gap in whole seconds. `ooo` is
    * sticky from the first violating micro-batch on (the carried
    * frontier is suspect from then on — the [[Transition]] contract).
    * `corrupt` is PER-GAP, not sticky:
    * true for any gap a processed event could lie strictly inside —
    * in a violating batch, every gap whose predecessor is not strictly
    * ahead of the carried frontier (the frontier-anchored first gap
    * AND batch-local gaps between two late events that straddle
    * processed ones), plus any negative gap. A gap whose predecessor
    * is strictly past the frontier is provably exact (every processed
    * event is <= the frontier), as is every gap of a non-violating
    * batch — keeping those flagged-but-usable is what stops one early
    * hiccup from silently starving a long-lived user out of the
    * calibration histogram.
    */
  case class GapObs(user_id: Long, gap_s: Long, ooo: Boolean = false,
      corrupt: Boolean = false)

  /** INTER-EVENT GAP STREAM — the per-user stage of
    * [[graft.operators.Relational.qGapHist]] as
    * `flatMapGroupsWithState`: each consecutive same-user gap (under
    * the batch query's (time, event_id) order, whole seconds on the
    * µs grid) emitted exactly once — the predecessor is either
    * batch-local or the carried frontier, so the accumulated emissions
    * ARE the batch query's lag rows. Gaps are ORDER-SENSITIVE (unlike
    * the lifespan twin's min/max), so the state carries the fold
    * frontier and flags violations sticky, the funnel/transition
    * contract: an out-of-order event means the carried predecessor
    * was not the true one, and every later gap inherits the suspicion.
    */
  def gapStream(events: DataFrame): Dataset[GapObs] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapState, GapObs](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (user, it, state) =>
          val sorted = it.toArray.sortBy(e => (e._3, e._2))
          val s0 = state.getOption
          val violated = sorted.nonEmpty && s0.exists(s =>
            sorted.head._3 < s.lastTus ||
              (sorted.head._3 == s.lastTus && sorted.head._2 < s.lastEid))
          val oooCount = s0.fold(0L)(_.ooo) + (if (violated) 1L else 0L)
          var last: Option[(Long, Long)] = s0.map(s => (s.lastTus, s.lastEid))
          // a gap's VALUE is wrong iff an already-processed event can
          // lie strictly inside it. Every processed event is <= the
          // carried frontier, so in a VIOLATING batch any gap whose
          // predecessor is not strictly ahead of the frontier is
          // suspect — including batch-local gaps between two late
          // events that straddle processed ones (a first-gap-only rule
          // under-marks exactly those). A predecessor strictly past
          // the frontier is provably clean.
          val frontier0 = s0.fold(Long.MinValue)(_.lastTus)
          val out = scala.collection.mutable.ArrayBuffer.empty[GapObs]
          sorted.foreach { case (_, eid, t) =>
            last.foreach { case (lt, _) =>
              val gap = (t - lt) / 1000000L
              out += GapObs(user, gap, oooCount > 0L,
                (violated && lt <= frontier0) || gap < 0L)
            }
            last = Some((t, eid))
          }
          last.foreach { case (lt, le) =>
            // frontier = the max under the (time, id) order — an OOO
            // batch must never rewind it
            val keep = s0.exists(s =>
              s.lastTus > lt || (s.lastTus == lt && s.lastEid > le))
            val (ft, fe) = if (keep) (s0.get.lastTus, s0.get.lastEid) else (lt, le)
            state.update(GapState(ft, fe, oooCount))
          }
          out.iterator
      }
  }

  /** The gap-doubling rollup over [[gapStream]]'s emissions — the same
    * bucket expression tree as the batch query, as a watermark-free
    * Update-mode aggregate (the session-stats layering: every column
    * is monotone under accretion, so finals are per-bucket maxima).
    * Run composed with
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * — the flagged late-discard scenario cannot occur in a
    * watermark-free global aggregate (see [[sessionStatsStream]]).
    *
    * CORRUPT gaps are EXCLUDED: a gap
    * emitted against a wrong frontier can be negative, and
    * `bin(gap_s + 1)` on a negative value lands in bucket 0
    * (gap_s = −1) or bucket 63 (gap_s < −1) — folding it in would
    * silently pollute exactly the calibration chart the flag was
    * designed to protect. Only corrupt gaps are excluded, not every gap
    * of an ooo-STICKY user: dropping those would let one disordered
    * micro-batch permanently remove all of that user's later (exact)
    * gaps. The per-gap `corrupt` flag keeps those exact emissions in the
    * buckets while the wrong-valued ones vanish (and remain countable
    * on the flagged [[gapStream]] rows).
    */
  def gapHistStream(gaps: DataFrame): DataFrame =
    gaps
      .filter(!col("corrupt"))
      .groupBy((length(bin(col("gap_s") + 1)) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("total_gap_s"),
        max(col("gap_s")).as("max_gap_s"))

  /** Watermarked per-window bounded top-k: the highest-`value` events of
    * each tumbling hour, ranked by the custom [[graft.functions.TopKOrdTie]]
    * aggregate INSIDE Structured Streaming state. This is the aggregate's
    * hardest contract surface: streaming state round-trips the
    * aggregation buffer through serialize/deserialize on every
    * micro-batch, so k-bounded buffer semantics (and NaN/tie ordering)
    * must survive persistence — the suite asserts convergence to the
    * batch twin below. State per window is O(k), not O(rows): the same
    * property that makes the batch aggregate shuffle-light makes the
    * streaming state bounded.
    */
  def windowedTopK(events: DataFrame, k: Int = 3): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.agg.topKOrdTie(col("value"), col("event_id"), k).as("top"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        posexplode(col("top")))
      .select(
        col("hour"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.tie").as("event_id"),
        col("col.ord").as("value"))

  /** Batch twin of [[windowedTopK]], oracle-checked (row_number in the
    * oracle; the bounded aggregate here — same rows proves the aggregate
    * against the window-function semantics it replaces).
    */
  def windowedTopKBatch(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"))
      .agg(graft.functions.agg.topKOrdTie(col("value"), col("event_id"), k).as("top"))
      .select(col("hour"), posexplode(col("top")))
      .select(
        col("hour"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.tie").as("event_id"),
        col("col.ord").as("value"))
      .orderBy("hour", "rnk")

  /** Batch twin of [[windowedCounts]] — byte-identical aggregation over
    * the same table, oracle-checked; the streaming path must converge to
    * this (asserted in the test suite).
    */
  def windowedCountsBatch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type")
      )
      .agg(count(lit(1)).as("cnt"))
      .orderBy("hour", "event_type")

  final case class UserSession(user_id: Long, events: Long, purchases: Long)

  /** Custom per-key state (`mapGroupsWithState`): running per-user event
    * and purchase tallies — the engine's stateful-transform surface.
    */
  def userTotals(events: DataFrame): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), UserSession](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long)]) =>
          val (e0, p0) = state.getOption.getOrElse((0L, 0L))
          var e = e0; var p = p0
          rows.foreach { case (_, t) => e += 1; if (t == "purchase") p += 1 }
          state.update((e, p))
          UserSession(uid, e, p)
      }
  }

  /** Production sink: parquet upsert — each micro-batch is merged
    * last-write-wins into the destination by key (the K1 `doc_as_upsert`
    * semantics on a stream). The destination is read under the batch's
    * own schema (every merge writes that schema), and the merge
    * materializes before the overwrite so re-reading the path being
    * replaced is safe; at scale this becomes overwrite-by-partition on
    * the routing column so only touched partitions rewrite.
    */
  def runParquetUpsert(
      events: DataFrame,
      destDir: String,
      checkpoint: String,
      keys: Seq[String],
      versionCols: Seq[String]
  ): StreamingQuery =
    runAvailableNowForeach(events, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val hconf = spark.sparkContext.hadoopConfiguration
      val dest = new org.apache.hadoop.fs.Path(destDir)
      val fs = dest.getFileSystem(hconf)
      val old = new org.apache.hadoop.fs.Path(destDir + ".old")
      // crash recovery: a previous run may have died between
      // rename(dest -> old) and rename(tmp -> dest); `.old` is then the
      // ONLY copy of merged history — restore it before reading, never
      // treat the missing dest as "no existing data"
      if (!fs.exists(dest) && fs.exists(old) && !fs.rename(old, dest))
        throw new java.io.IOException(s"upsert recovery: cannot restore $old to $dest")
      // explicit existence check — a transient read failure (corrupt
      // footer, FS hiccup) must FAIL the batch, not silently discard
      // all previously merged data
      val existing =
        if (fs.exists(dest)) Some(spark.read.schema(batch.schema).parquet(destDir)) else None
      val unioned = existing.fold(batch)(_.unionByName(batch))
      val merged = graft.operators.Relational.upsertLatest(
        unioned, keys, versionCols.map(c => org.apache.spark.sql.functions.col(c).desc)
      )
      // write the merge to a temp dir, then swap: the path being read is
      // never overwritten in place, so lost cache blocks / lineage
      // recompute can never observe a half-overwritten source
      val tmp = new org.apache.hadoop.fs.Path(destDir + ".merging")
      merged.write.mode("overwrite").parquet(tmp.toString)
      // safe: dest exists here (recovery above restored it if needed),
      // so any surviving `.old` is stale debris from a completed swap
      if (fs.exists(old)) fs.delete(old, true)
      if (existing.isDefined && !fs.rename(dest, old))
        throw new java.io.IOException(s"upsert swap: cannot move $dest aside")
      if (!fs.rename(tmp, dest)) {
        if (existing.isDefined) fs.rename(old, dest)
        throw new java.io.IOException(s"upsert swap failed for $dest")
      }
      fs.delete(old, true)
      ()
    }

  /** Drain-everything run into a named in-memory sink; returns the query
    * after completion. [[runAvailableNowForeach]] is the production
    * runner — memory keeps the test harness self-contained.
    */
  def runAvailableNow(
      out: DataFrame,
      queryName: String,
      checkpoint: String,
      outputMode: OutputMode = OutputMode.Update
  ): StreamingQuery = guardStateSchema(checkpoint) {
    val q = out.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The one AvailableNow runner: drains everything available through
    * `foreachBatch`, handing `sink` each micro-batch and its batch id,
    * and returns the query after completion. Restart-capable — unlike
    * the memory sink of [[runAvailableNow]], it recovers from an existing
    * checkpoint, so it is where the state-store schema check runs on
    * restart ([[guardStateSchema]]). A crash re-delivers the last batch
    * under the same id, so a sink that writes `batch=<id>` partitions
    * with overwrite semantics replays convergently. The ingest modules
    * and the parquet upsert run on it with the default Append mode; the
    * stateful twins pass Update.
    */
  def runAvailableNowForeach(
      out: DataFrame,
      checkpoint: String,
      outputMode: OutputMode = OutputMode.Append
  )(sink: (DataFrame, Long) => Unit): StreamingQuery = guardStateSchema(checkpoint) {
    val q = out.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(batch.toDF(), batchId)
      }
      .start()
    q.awaitTermination()
    q
  }

  /** True when `e`'s cause chain is a state-store SCHEMA
    * incompatibility — the error a checkpoint written without the
    * lastT/ooo frontier fields produces, surfaced by Spark as a generic
    * schema-compat failure buried in a StreamingQueryException.
    */
  private[graft] def stateSchemaIncompatible(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 32) {
      val cond = cur match {
        case st: org.apache.spark.SparkThrowable => Option(st.getCondition).getOrElse("")
        case _ => ""
      }
      val msg = Option(cur.getMessage).getOrElse("")
      if (cond.contains("SCHEMA_NOT_COMPATIBLE") ||
          msg.contains("StateSchemaNotCompatible") ||
          (msg.contains("schema") && msg.contains("incompatible") && msg.contains("state")))
        return true
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    false
  }

  /** OPERATOR-FACING MIGRATION GUARD: the carried state of every
    * frontier-detecting twin ([[FunnelState]]/[[LastType]]/PathState)
    * includes `lastT`/`ooo`, so a checkpoint written without them fails
    * state-store schema compatibility on restart, and Spark reports that
    * as an internal schema-diff wall of text. This wrapper catches that
    * failure AT QUERY START and rethrows with the actionable contract:
    * there is no in-place migration BY DESIGN (the defaults keep new
    * checkpoints self-describing); restart from a fresh checkpoint and
    * replay the source, or accept a state rebuild. The old checkpoint is
    * never touched.
    */
  def guardStateSchema[T](checkpoint: String)(body: => T): T =
    try body
    catch {
      case e: Throwable if stateSchemaIncompatible(e) =>
        throw new IllegalStateException(
          s"streaming state at checkpoint '$checkpoint' was written by an older release " +
            "and is incompatible with this one (the state schema gained ordering-frontier " +
            "fields; there is no in-place migration). Restart the query from a FRESH " +
            "checkpoint and replay the source, or accept a state rebuild — the old " +
            "checkpoint is left untouched.", e)
    }
}
