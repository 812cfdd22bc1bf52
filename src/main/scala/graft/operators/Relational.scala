package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables
import graft.model.ObjectId
import graft.transform._

/** Relational parity operators — each maps one SURVEY.md §2 row onto an
  * idiomatic Spark plan, paired with a DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Determinism rules shared with the oracles:
  *   - money/quantity aggregates go through DECIMAL(18,2) so sums are
  *     exact and order-independent (double sums are not);
  *   - every query ends in a total ORDER BY on its key columns;
  *   - column names are aliased identically on both sides.
  */
object Relational {

  /** Epoch MICROS from `ts_ns` with FLOOR-division semantics: Spark's
    * `div` truncates toward zero while DuckDB's `//` (and its
    * `epoch_us`) floor, so a pre-1970 timestamp would land one unit
    * apart between engines. `a - pmod(a, d)` is the largest multiple
    * of d ≤ a, making the DIV exact floor division in long arithmetic
    * — the same trick every time-bucketing site here composes on
    * (bucket-of-floor == floor-of-bucket only under floor semantics).
    */
  private val floorDivUs =
    "(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000"

  /** Cast to exact decimal for order-independent aggregation. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Present an exact-decimal sum as DOUBLE. The aggregation itself runs
    * in decimal (exact, order-independent); only the final value converts.
    * Rationale: DuckDB's pandas bridge lowers DECIMAL results to float64
    * while Spark writes decimal128 parquet — same values, different
    * physical types, which fails a type-sensitive compare. A double is
    * the one numeric type both engines agree on bit-for-bit (the exact
    * decimal fits in 2^53, so decimal->double is the correctly-rounded
    * conversion on both sides).
    */
  private def sumDec(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Cast a literal to the column's own (timestamp) type — robust to
    * TIMESTAMP vs TIMESTAMP_NTZ parquet inference and foldable, so the
    * comparison pushes down to the parquet scan.
    */
  private def tsLit(df: DataFrame, column: String, value: String): Column =
    lit(value).cast(df.schema(column).dataType)

  // --------------------------------------------------------------------
  // S5/S6: counts and planning statistics
  // --------------------------------------------------------------------

  /** S5 count (`subtasks.js:97-100`): per-slice doc count. One shuffle-free
    * partial-agg + single-row exchange.
    */
  def s5Count(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("cnt"))

  /** S6 stats aggregation (`subtasks.js:210-237`): min/max/count of the
    * size column that seeds partition planning. `l_extendedprice` plays
    * the `_size` role on the test corpus.
    */
  def s6Stats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      min(col("l_extendedprice")).as("min_size"),
      max(col("l_extendedprice")).as("max_size"),
      count(lit(1)).as("cnt")
    )

  /** S7 range-bucket aggregation (`subtasks.js:238-277`): 3-bucket range
    * agg over the size column -> per-bucket doc_count. A when-chain keeps
    * it in one codegen'd pass; the groupBy is on 3 keys so the shuffle is
    * trivially small at any scale.
    */
  def s7RangeBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        when(col("l_extendedprice") < 2000, "b0")
          .when(col("l_extendedprice") < 20000, "b1")
          .otherwise("b2")
          .as("bucket")
      )
      .groupBy("bucket")
      .agg(count(lit(1)).as("doc_count"))
      .orderBy("bucket")

  // --------------------------------------------------------------------
  // F5/F6: predicates
  // --------------------------------------------------------------------

  /** F5 doc-size range predicate (`subtask.js:61-74`): [gte, lt) range
    * filter pushed into the source — Catalyst pushes both bounds to the
    * parquet scan (visible as PushedFilters).
    */
  def f5SizeRange(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 5 && col("l_quantity") < 30)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** F6 row drop via mutator (`transfer.js:272,283`): drop-predicate fused
    * into the pipeline; compiled through the columnar mutator fold.
    */
  def f6MutatorDrop(spark: SparkSession, dir: String): DataFrame = {
    val drop = DropMutator(ObjectId("graft", "dropHighDiscount"), col("l_discount") > 0.06)
    MutatorPipeline
      .applyColumnar(Tables.lineitem(spark, dir), Seq(drop))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("kept"), sumDec(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------------------
  // M2: data mutators
  // --------------------------------------------------------------------

  /** M2 `_index` date-rollup rename (`examples/mutators/indexDate.js`):
    * rows re-route to a monthly table computed from their timestamp —
    * in Spark, a computed partition column. Output: per-new-index counts.
    */
  def m2IndexDateRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rename = WithColumnMutator(
      ObjectId("graft", "indexDate"),
      "_index",
      concat(lit("events-"), date_format(col("ts"), "yyyy.MM"))
    )
    MutatorPipeline
      .applyColumnar(ev, Seq(rename))
      .groupBy("_index")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("_index")
  }

  /** M2 fixed-point price (`examples/mutators/intPrice.js`): float price ->
    * integer cents. floor(x*100+0.5) instead of round() because both
    * engines floor identically while round() ties differ.
    */
  def m2IntPrice(spark: SparkSession, dir: String): DataFrame = {
    val priceCents = AssignMutator(
      ObjectId("graft", "intPrice"),
      col("p_retailprice").isNotNull,
      Seq("price_cents" -> floor(col("p_retailprice") * 100 + 0.5).cast(LongType))
    )
    MutatorPipeline
      .applyColumnar(
        Tables.part(spark, dir).withColumn("price_cents", lit(null).cast(LongType)),
        Seq(priceCents)
      )
      .select("p_partkey", "p_retailprice", "price_cents")
      .orderBy("p_partkey")
  }

  // --------------------------------------------------------------------
  // O1: comparator ordering
  // --------------------------------------------------------------------

  /** O1 custom index comparator (`examples/comparators/indices.js:1-22`):
    * sort index names by trailing date desc, then name asc; dated names
    * before undated. Index names synthesized from order dates.
    */
  def o1Comparator(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        concat(
          when(col("o_orderkey") % 7 === 0, lit("archive"))
            .otherwise(lit("orders")),
          when(col("o_orderkey") % 11 === 0, lit(""))
            .otherwise(concat(lit("-"), date_format(col("o_orderdate"), "yyyy.MM.dd")))
        ).as("index_name")
      )
      .distinct()
      .withColumn("dt", regexp_extract(col("index_name"), "(\\d{4}\\.\\d{2}\\.\\d{2})$", 1))
      .orderBy(desc("dt"), asc("index_name"))
      .select("index_name", "dt")

  // --------------------------------------------------------------------
  // K1: idempotent upsert sink
  // --------------------------------------------------------------------

  /** K1 upsert semantics (`transfer.js:175-189` `doc_as_upsert`): last-
    * write-wins by key. No parquet-native upsert, so dedup-by-key with a
    * row_number window ordered by recency — the engine's Transfer sink
    * applies this before overwrite. Deterministic tiebreak on event_id.
    */
  def upsertLatest(df: DataFrame, keys: Seq[String], versionCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(versionCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  def k1UpsertDedup(spark: SparkSession, dir: String): DataFrame =
    upsertLatest(
      Tables.events(spark, dir),
      Seq("user_id", "event_type"),
      Seq(col("ts_ns").desc, col("event_id").desc)
    )
      .select("user_id", "event_type", "event_id")
      .orderBy("user_id", "event_type")

  // --------------------------------------------------------------------
  // P2/P3/P6: planner + progress parity
  // --------------------------------------------------------------------

  /** P2 adaptive bound search (`subtasks.js:210-351`): exact 3-bucket
    * equi-depth bounds — the deterministic, oracle-checkable twin of the
    * sampling planner in [[graft.engine.Bounds]].
    *
    * NOT `ntile(3).over(Window.orderBy(...))`: a partition-less window
    * sorts the whole table in one task. [[graft.engine.GlobalRank]]
    * computes the identical bucket assignment with a range-partitioned
    * parallel sort + broadcast rank offsets.
    */
  def p2BoundsNtile(spark: SparkSession, dir: String): DataFrame = {
    val sortCols = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    // The 3 buckets are fully described by 6 BOUNDARY ranks: each
    // bucket's count is the ntile formula, its lo is the value at its
    // first rank, its hi the value at its last (the sort is price-first,
    // so min/max within a bucket ARE the boundary values). Point lookups
    // via rowsAtRanks sort only the <=6 partitions holding a boundary,
    // instead of ranking the whole table; the 6 scalars collect to the
    // driver (tiny, documented) and rebuild the grouped result exactly.
    def cuts(total: Long) = graft.engine.GlobalRank.ntileCuts(total, 3)
    val (picked, total) = graft.engine.GlobalRank.rowsAtRanks(
      Tables.lineitem(spark, dir)
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      sortCols,
      t => cuts(t).flatMap { case (_, s, e) => Seq(s, e) }
    )
    // one picked row per requested rank: 2 per bucket, 3 buckets
    val priceAt = graft.engine.DriverBudget.collect("Relational.p2BoundsPicked", 6L)(
        picked.select(col("__grank"), col("l_extendedprice")))
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = cuts(total).filter { case (_, s, e) => e >= s }
      .map { case (b, s, e) => (b, e - s + 1, priceAt(s), priceAt(e)) }
    spark.createDataFrame(rows).toDF("bucket", "cnt", "lo", "hi").orderBy("bucket")
  }

  /** EXACT percentiles at scale — the deterministic counterpart to
    * `approxQuantile` ([[graft.engine.Bounds]]): a quantile_disc-style
    * pick (smallest value with 1-based rank >= ceil(p*n)) over the
    * [[graft.engine.GlobalRank]] global order. One ranged shuffle, no
    * single-partition sort, no sketch error — for when the planner's
    * bound must be reproducible (oracle, audits, replays) rather than
    * approximate.
    */
  def exactPercentiles(
      df: DataFrame,
      valueCol: Column,
      tiebreaks: Seq[Column],
      ps: Seq[Double]
  ): DataFrame = {
    // quantile_disc picks = point lookups at ceil(p*n): rowsAtRanks
    // sorts only the partitions holding a target rank instead of
    // ranking the whole table (see GlobalRank.rowsAtRanks)
    def rankOf(total: Long)(p: Double): Long = math.max(1L, math.ceil(p * total).toLong)
    val (picked, total) = graft.engine.GlobalRank.rowsAtRanks(
      df, valueCol +: tiebreaks, t => ps.map(rankOf(t)))
    val targets = ps.map(p => (p, rankOf(total)(p)))
    picked
      .join(
        broadcast(df.sparkSession.createDataFrame(targets).toDF("p", "__target")),
        col("__grank") === col("__target")
      )
      .select(col("p"), valueCol.as("value"))
  }

  def qPercentilesQuery(spark: SparkSession, dir: String): DataFrame =
    exactPercentiles(
      Tables.lineitem(spark, dir).select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      col("l_extendedprice"),
      Seq(col("l_orderkey"), col("l_linenumber")),
      Seq(0.5, 0.95, 0.99)
    ).orderBy("p")

  /** P3 flush-size calculation (`subtasks.js:267`): batch size =
    * 50MB / (maxDocSize * shards), clamped to [1, 10000]
    * (`MAX_FLUSH_SIZE` `subtasks.js:15`). p_size (in "MB") plays
    * maxDocSize; one shard.
    */
  /** P2's PLANNER twin oracle-checked end-to-end: run the sampling
    * planner ([[graft.engine.Bounds.plan]], approxQuantile-driven) and
    * assert IN-ENGINE that its plan has the properties the exact
    * GlobalRank formulation (`p2_bounds_ntile`) guarantees:
    *
    *  - the buckets TILE the domain (adjacent ranges share a boundary,
    *    the ends are unbounded) — so their counts must sum to EXACTLY
    *    the table count, which the oracle checks independently;
    *  - each bucket's count sits within the Greenwald-Khanna tolerance
    *    of the exact equi-depth count N/buckets: a cut at relative
    *    error eps displaces a boundary by <= eps*N ranks, so a bucket
    *    (two cuts) deviates by <= 2*eps*N (+1 boundary slop).
    *
    * Emitted rows are deterministic (booleans + the exact total), so
    * the DuckDB twin is exact even though the sampled cut VALUES are
    * not — the property, not the sample, is the contract.
    */
  def p2PlanCheck(spark: SparkSession, dir: String): DataFrame = {
    val buckets = 3
    val relErr = 0.01
    val li = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast("double").as("sz"))
    val plan = graft.engine.Bounds.plan(li, "lineitem", "sz", buckets, relErr = relErr)
    val total = plan.map(_.count).sum
    val tiles = plan.size == buckets &&
      plan.head.minSize == Double.NegativeInfinity &&
      plan.last.maxSize == Double.MaxValue &&
      plan.sliding(2).forall {
        case Seq(a, b) => a.maxSize == b.minSize
        case _         => true
      }
    val tol = 2.0 * relErr * total + 1
    val rows = plan.zipWithIndex.map { case (s, i) =>
      (i, tiles && math.abs(s.count - total.toDouble / buckets) <= tol, total)
    }
    spark.createDataFrame(rows).toDF("bucket", "within_tol", "total").orderBy("bucket")
  }

  def p3FlushSize(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(max(col("p_size")).as("max_size"))
      .withColumn(
        "flush_size",
        least(
          greatest(
            floor(lit(50.0 * 1000 * 1000) / (col("max_size") * lit(1000 * 1000.0))).cast(LongType),
            lit(1L)
          ),
          lit(10000L)
        )
      )
      .orderBy("p_brand")

  /** P6 progress tallies (`subtasks.js:410-419,491-497`,
    * `tasks.controller.js:14-27`): transferred/total sums and integer
    * percent-complete per task (event_type plays the task key).
    */
  def p6Progress(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("value") > 0.5, 1L).otherwise(0L)).as("transferred")
      )
      .withColumn("pct", floor(col("transferred") * 100L / col("total")).cast(LongType))
      .orderBy("event_type")

  // --------------------------------------------------------------------
  // The general SQL surface (free from Spark; the reference lacks these,
  // SURVEY §2.5 — our engine exposes them as first-class operators)
  // --------------------------------------------------------------------

  /** TPC-H Q1-style scan+agg: the headline pricing summary. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= tsLit(li, "l_shipdate", "1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumDec(col("l_quantity")).as("sum_qty"),
        sumDec(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Multi-way join: tiny dims broadcast (region, nation — always small),
    * fact-to-fact joins shuffle on their keys with AQE handling skew.
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_li"),
        sumDec(col("l_extendedprice")).as("revenue")
      )
      .orderBy("n_name", "c_mktsegment")
  }

  /** Window functions over the event stream: per-user ordering & running
    * tallies (integer-valued for cross-engine determinism).
    */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("user_id") < 200)
      .select(
        col("event_id"),
        col("user_id"),
        row_number().over(byUser).cast(LongType).as("rn"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("purchases_so_far"),
        lag(col("event_id"), 1).over(byUser).as("prev_event_id")
      )
      .orderBy("user_id", "rn")
  }

  /** Rollup (grouping sets family). NULLS FIRST on both sides — Spark's
    * default ASC is nulls-first, DuckDB's is nulls-last.
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = broadcast(Tables.region(spark, dir))
    val c = Tables.customer(spark, dir)
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sumDec(col("c_acctbal")).as("sum_bal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  /** Set operators: customers that placed orders (semi via INTERSECT)
    * minus low-balance ones (EXCEPT).
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.select(col("c_custkey").as("k"))
      .intersect(o.select(col("o_custkey").as("k")))
      .except(c.filter(col("c_acctbal") < 0).select(col("c_custkey").as("k")))
      .orderBy("k")
  }

  /** Semi/anti joins (EXISTS / NOT EXISTS): customers with orders but
    * none urgent. Both sides hash-join on the key; the anti side streams
    * with no row materialization of the probe payload.
    */
  /** Correlated scalar subquery, decorrelated by hand: orders priced
    * above their own customer's average. SQL engines rewrite the
    * correlated `(SELECT avg(..) WHERE o2.custkey = o.custkey)` into
    * exactly this aggregate + equi-join — declaring the decorrelated form
    * directly keeps the plan a hash aggregate plus one shuffle join at
    * any scale (never a per-row subquery). The average divides an exact
    * decimal sum by a count ONCE, so the threshold double is
    * bit-identical across engines and the `>` cut is deterministic.
    */
  def qCorrSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val custAvg = o.groupBy("o_custkey")
      .agg((sumDec(col("o_totalprice")) / count(lit(1))).as("avg_price"))
    o.join(custAvg, "o_custkey")
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Skew-safe join on a pathologically hot key: `l_returnflag` has 3
    * distinct values, so a plain shuffle join lands the whole fact table
    * on 3 reducers regardless of partition count. `Skew.saltedJoin`
    * spreads each key over `salt` content-derived sub-keys and
    * replicates the (tiny) per-flag aggregate side across them — result
    * identical to the plain join (the oracle IS the plain join), plan
    * parallelism = keys x salt. The threshold double divides an exact
    * decimal sum once, so the `>` cut is engine-exact.
    */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val avgQty = li.groupBy("l_returnflag")
      .agg((sumDec(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    graft.engine.Skew.saltedJoin(li, avgQty, Seq("l_returnflag"), salt = 8)
      .filter(col("l_quantity") > col("avg_qty"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_above"), sumDec(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .join(
        Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
        c("c_custkey") === col("o_custkey"),
        "left_anti"
      )
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** Top-N per group: 2 biggest orders per customer. */
  def qTopNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 500)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 2)
      .select("o_custkey", "rnk", "o_orderkey")
      .orderBy("o_custkey", "rnk")
  }

  /** Top-n per group via the engine's bounded-memory aggregate
    * ([[graft.functions.TopKOrdTie]]): identical answer to
    * [[qTopNPerGroup]], but the shuffle carries at most k rows per
    * group (map-side partial top-k) instead of every row — the shape
    * that survives a skewed 100 TB key where the window sort cannot.
    */
  def qTopNPerGroupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 500)
      .groupBy(col("o_custkey"))
      .agg(graft.functions.agg.topKOrdTie(col("o_totalprice"), col("o_orderkey"), 2).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(
        col("o_custkey"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("col.tie").as("o_orderkey")
      )
      .orderBy("o_custkey", "rnk")

  /** Distinct aggregates: per-flag distinct part/supplier counts
    * (expand + two-phase aggregation under the hood).
    */
  def qDistinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps")
      )
      .orderBy("l_returnflag")

  /** Pivot: monthly event counts, one column per event type. Fixed value
    * list keeps the schema static (no extra distinct-values job) and
    * matches the oracle's CASE columns; nulls coalesce to 0 because a
    * CASE-sum yields 0 where pivot-count yields null.
    */
  /** The corpus's closed event-type vocabulary — shared by the pivot /
    * unpivot inverse pair so the two column lists cannot drift apart.
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    pivoted
      .select(
        col("month") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*
      )
      .orderBy("month")
  }

  /** Equi-width histogram over a numeric column: the classic two-pass
    * shape — a one-row min/max aggregate BROADCAST back over the scan,
    * so the second pass is a narrow projection + one aggregation
    * exchange on the bucket id. All bucket arithmetic is IEEE double
    * (subtraction, one division, floor), bit-identical across engines;
    * the top edge (x == max) clamps into the last bucket.
    */
  def qHistogram(spark: SparkSession, dir: String, buckets: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("x"))
    val stats = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    li.crossJoin(broadcast(stats))
      .withColumn(
        "bucket",
        least(
          floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / buckets)).cast("long"),
          lit(buckets - 1L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min(col("x")).as("b_min"), max(col("x")).as("b_max"))
      .orderBy("bucket")
  }

  /** Unpivot (melt): the wide month x event-type matrix from [[qPivot]]
    * back to long form — the inverse pair proves both reshapes preserve
    * the data (including explicit zero cells, which a plain re-aggregate
    * would not produce). Narrow generated projection, no shuffle beyond
    * the pivot's own.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    qPivot(spark, dir)
      .unpivot(Array(col("month")), EventTypes.map(col(_)).toArray, "event_type", "cnt")
      .orderBy("month", "event_type")

  /** Cube over order status x priority. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Arbitrary GROUPING SETS (the general form ROLLUP/CUBE specialize):
    * per-status, per-priority, and grand-total groups in ONE pass — a
    * single EXPAND + one aggregation exchange instead of three separate
    * scans unioned. `grouping()` flags disambiguate a NULL group key
    * from a NULL data value, which matters once real (nullable) columns
    * feed the sets.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"),
        count(lit(1)).as("n"))
      .orderBy(
        asc("g_status"), asc("g_prio"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Conversion funnel: how many users progressed view -> click ->
    * purchase IN ORDER (each stage strictly after the previous one's
    * first occurrence). Three per-user min-aggregations chained by
    * joins — every shuffle is on the SAME key (user_id), so Spark
    * reuses one exchange layout across all stages rather than
    * re-hashing; the stage frontiers (one row per qualifying user) are
    * persisted because each feeds both the next stage's join and the
    * final count.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .select("user_id", "event_type", "tus")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("fv")).persist(lvl)
    val c = ev.join(v, "user_id")
      .filter(col("event_type") === "click" && col("tus") > col("fv"))
      .groupBy("user_id").agg(min(col("tus")).as("fc")).persist(lvl)
    val p = ev.join(c, "user_id")
      .filter(col("event_type") === "purchase" && col("tus") > col("fc"))
      .groupBy("user_id").agg(min(col("tus")).as("fp"))
    val out = v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .agg(
        count(col("fv")).as("n_view"),
        count(col("fc")).as("n_click_after_view"),
        count(col("fp")).as("n_purchase_after_click"))
    graft.engine.Caching.handoff(out, v, c)
  }

  /** TIME-BOUNDED conversion by cohort — the windowed complement to
    * [[qFunnel]] (which orders steps but never bounds the gap): per
    * first-view DAY cohort, how many users purchased within 24 h of
    * that first view. The product-analytics cut behind "did the funnel
    * get faster", and the same plan shape a trial-to-paid or
    * label-within-horizon feature job runs.
    *
    * Scale shape: first-view is one map-side-combined (user) aggregate;
    * the qualifying-purchase probe joins the purchase slice (filter
    * pushed to the scan) against that user-keyed frame and distincts on
    * user — every exchange is user-keyed, nothing corpus-sized is
    * sorted; the cohort rollup is days-sized. All-integer micros (the
    * `ts_ns DIV 1000 == epoch_us` convention), so the cohort cut and
    * the window edge are exact on both engines.
    */
  def qConversionWindow(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 24L * 3600 * 1000000
    val dayUs = 86400000000L
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .select("user_id", "event_type", "tus")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("fv"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("tus") > col("fv") && col("tus") <= col("fv") + lit(winUs))
      .select("user_id").distinct()
      .withColumn("conv", lit(1L))
    v.join(conv, Seq("user_id"), "left")
      .groupBy(expr(s"(fv - pmod(fv, $dayUs)) DIV $dayUs").as("cohort_day"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(coalesce(col("conv"), lit(0L))).as("n_converted_24h"))
      .orderBy("cohort_day")
  }

  /** Exact per-group percentiles on a BOUNDED-DOMAIN column: `percentile`
    * is an exact aggregate whose state is the per-group value-count map,
    * so on a domain like l_quantity (50 integer values) state is O(50)
    * per group at any corpus size and partial-aggregates map-side — the
    * scale-safe exact path that `q_percentiles`' GlobalRank covers for
    * unbounded domains. Integer-valued doubles make the interpolation
    * arithmetic ((1-d)*lo + d*hi at most one .5 step) engine-exact.
    */
  def qGroupMedian(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Cohort retention: users grouped by first-seen day, counted on each
    * later day they were active. Both sides of the join are per-user
    * aggregates keyed on `user_id`, so the cohort join reuses one
    * exchange layout; the retention matrix aggregate is
    * (cohort, day-offset)-keyed and tiny. Day arithmetic is integer
    * date subtraction — no fractional months_between to disagree on.
    * (The test corpus spans 30 days, hence day-level cohorts; at
    * production scale the same plan works with week/month truncation.)
    */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val active = ev.distinct()
    val cohort = active.groupBy("user_id").agg(min(col("d")).as("cohort"))
    active.join(cohort, "user_id")
      .groupBy(
        // string date: parquet DATE decodes to incompatible dtypes across
        // the two engines' pandas bridges (see q_pivot's month column)
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_d"),
        datediff(col("d"), col("cohort")).as("days_since"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_d", "days_since")
  }

  /** Markov transition counts over each user's event sequence: for
    * every consecutive (event, next-event) pair within a user, count the
    * (from_type, to_type) edge — the clickstream transition matrix a
    * product-analytics engine derives journey models from. One window
    * partitioned by `user_id` (bounded per-user state, no global sort)
    * feeding a tiny `type x type` aggregate; the exchange layout of the
    * window is reused by nothing downstream, so the plan is one shuffle
    * on `user_id` plus a map-side-combined aggregate. Exact
    * integer-microsecond time axis with `event_id` tiebreak for oracle
    * determinism (see qAsOf).
    */
  def qTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .select("user_id", "event_id", "event_type", "tus")
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    ev.withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** AS-OF join returning the matched ROW's payload: every `probeType`
    * event matched to the LATEST `matchType` event of the same user
    * at-or-before its timestamp (`<=` semantics; simultaneous matches
    * are visible, ties take the max event_id — all pinned by the
    * (tus, rnk, event_id) sort key). [[qAsOf]] is the timestamp-only
    * strictly-before variant; this one carries the matched event's
    * columns through the window (a struct carry-forward), which is what
    * an as-of JOIN — as opposed to an as-of lookup — means.
    *
    * NOT a join at all in the plan: both event roles union into one
    * stream and a single carry-forward window (`last ... ignoreNulls`)
    * resolves every probe in one pass — one shuffle on user_id, one
    * per-user sort, zero join state. The naive formulation is a range
    * join (probe × every earlier match candidate) that explodes
    * quadratically on active users; the carry-forward shape is how an
    * as-of survives 100 TB of events. Probes with no prior match keep
    * null match columns (left semantics).
    */
  def asofLastBefore(
      events: DataFrame, matchType: String, probeType: String): DataFrame = {
    // working-column guard, the Dedup.exact '__h' rule: withColumn would
    // silently REPLACE caller columns of these names
    require(!events.columns.contains("rnk") && !events.columns.contains("__m"),
      "input must not carry reserved working columns 'rnk' / '__m'")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("rnk"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin(matchType, probeType))
      // same-instant matches sort BEFORE the probe: visible at equal tus
      .withColumn("rnk", when(col("event_type") === matchType, 0).otherwise(1))
      .withColumn(
        "__m",
        last(
          when(col("event_type") === matchType, struct(col("tus"), col("event_id"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === probeType)
      .select(
        col("event_id").as("probe_id"),
        col("user_id"),
        col("__m.event_id").as("match_id"),
        (col("tus") - col("__m.tus")).as("gap_us"))
  }

  /** Driver query: each purchase matched to the user's latest prior
    * (or simultaneous) click.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame =
    asofLastBefore(
      Tables.events(spark, dir)
        .withColumn("tus", expr(floorDivUs))
        .select("user_id", "event_id", "event_type", "tus"),
      matchType = "click", probeType = "purchase")
      .withColumnRenamed("probe_id", "purchase_id")
      .withColumnRenamed("match_id", "click_id")
      .orderBy("purchase_id")

  /** Z-score anomaly counts per event type: two passes over the events
    * table — a per-type moment aggregate (sum, sum-of-squares, count on
    * EXACT integer cents, so the partial aggregation order cannot
    * perturb the statistics), broadcast back for the z-score filter.
    * Both passes partial-aggregate map-side; the broadcast keeps the big
    * side shuffle-free, so at 100 TB the cost is two scans and no
    * exchange of event rows. The mean/stddev arithmetic is double, but
    * every operand derives from bit-exact integers via IEEE-deterministic
    * ops (cast, /, sqrt), so the DuckDB twin computing the identical
    * expression tree lands on identical bits — which makes the >3-sigma
    * cut itself deterministic, not just "close".
    */
  def qAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
    val stats = ev.groupBy("event_type").agg(
      sum(col("c")).as("s"),
      sum(col("c") * col("c")).as("ss"),
      count(lit(1)).as("n"))
    val mean = col("s").cast(DoubleType) / col("n")
    // the variance numerator, pre-division: guarding on num > 0 (not on
    // a computed sd) keeps the zero/degenerate test in exact arithmetic
    val num = col("ss").cast(DoubleType) -
      col("s").cast(DoubleType) * col("s").cast(DoubleType) / col("n")
    // z is NULL (→ never an outlier) for degenerate groups: n < 2 has no
    // sample variance, and a constant-valued group has sd = 0 — without
    // the guard z = 0/0 = NaN, and NaN > 3 is TRUE under Spark ordering,
    // flagging EVERY row of a constant group as an outlier
    val z = when(
      col("n") >= 2 && num > 0,
      (col("c").cast(DoubleType) - mean) / sqrt(num / (col("n") - 1)))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", z)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count(when(abs(col("z")) > 3, lit(1))).as("n_outliers"))
      .orderBy("event_type")
  }

  /** As-of join via composition (the custom-operator preference order's
    * first option): each purchase event picks up the most recent PRIOR
    * click of the same user — one window over the unioned stream instead
    * of a range-join. Exact integer-microsecond time axis for oracle
    * parity (see sessionize).
    */
  def qAsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn(
        "last_click_us",
        max(when(col("event_type") === "click", col("tus"))).over(w)
      )
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "tus", "last_click_us")
      .orderBy("user_id", "event_id")
  }

  /** Range-frame window: events per user in the trailing hour (RANGE
    * frame over the exact-micros axis, not ROWS — frame membership is by
    * time distance, so ties and gaps behave correctly).
    */
  def qRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-hourUs, 0)
    ev.filter(col("user_id") < 100)
      .select(
        col("user_id"),
        col("event_id"),
        col("tus"),
        count(lit(1)).over(w).as("events_last_hour")
      )
      .orderBy("user_id", "tus", "event_id")
  }

  /** Approximate aggregates (HLL distinct + quantile sketches) side by
    * side with their exact values. Sketch internals differ across
    * engines, so the oracle-checkable surface is the exact value plus
    * `abs(approx - exact) <= bound` booleans: HLL++ at default rsd 0.05
    * within 10% of the exact distinct count, the 1000-bucket quantile
    * sketch within 5% of the exact median. Both are deterministic for a
    * fixed dataset (sketches have no runtime randomness), so the DuckDB
    * twin asserts the booleans as literal TRUE; the ScalaTest spec
    * additionally checks the raw error magnitudes.
    */
  def qApproxStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // TWO aggregations joined on the tiny grouped result (r21, guide
    // §2.4 — was three): the only split that buys anything is keeping
    // countDistinct out (a DISTINCT agg mixed with non-distinct ones
    // forces the EXPAND strategy — input replicated per agg group,
    // measured 2x slower at sf0.1). The sketches and the EXACT
    // percentile are all ordinary (non-distinct) aggregates and share
    // one ObjectHashAggregate pass fine — the r20 three-way split paid
    // a whole extra corpus scan + exchange + join for nothing.
    val sketches = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median"),
      expr("percentile(l_extendedprice, 0.5)").as("exact_median")
    )
    val exactD = li.groupBy("l_returnflag").agg(
      countDistinct(col("l_partkey")).as("exact_parts")
    )
    sketches.join(exactD, Seq("l_returnflag"))
      .select(
        col("l_returnflag"),
        col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <= col("exact_parts") * 0.1)
          .as("parts_ok"),
        (abs(col("approx_median") - col("exact_median")) <= abs(col("exact_median")) * 0.05)
          .as("median_ok")
      )
      .orderBy("l_returnflag")
  }

  /** Semi-structured payload extraction — the `_source` JSON analog
    * (SURVEY §1.1): events.props is an opaque JSON string; extract a
    * field and aggregate. `get_json_object` is codegen'd and needs no
    * schema declaration, matching the reference's schema-agnostic
    * document handling.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k")
      )
      .groupBy("event_type")
      .agg(
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n")
      )
      .orderBy("event_type")

  // --------------------------------------------------------------------
  // Flagship: the SURVEY §7 end-to-end transfer slice
  // --------------------------------------------------------------------

  /** Minimum end-to-end slice (SURVEY §7): scan -> F5 range predicate
    * (pushed down) -> M1 mutator fold (rename + drop) -> S5-shape counts.
    * Exercises the whole §3.2 data path in one codegen'd plan.
    */
  def transferSlice(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 5 && col("l_quantity") < 30)
    val mutators = Seq(
      WithColumnMutator(
        ObjectId("graft", "routeByFlag"),
        "_index",
        concat(lit("li-"), col("l_returnflag"))
      ),
      DropMutator(ObjectId("graft", "dropDiscounted"), col("l_discount") > 0.08)
    )
    MutatorPipeline
      .applyColumnar(li, mutators)
      .groupBy("_index")
      .agg(count(lit(1)).as("cnt"), sumDec(col("l_quantity")).as("sum_qty"))
      .orderBy("_index")
  }

  /** Time-series RESAMPLE + GAP-FILL — the regularization step every
    * metric/feature pipeline needs before modeling: per event type,
    * hourly buckets over the table's full span, empty buckets made
    * explicit (n_events = 0) and forward-filled with the last observed
    * value. Spark has no native time spine; this builds one.
    *
    * Scale shape: the corpus-sized work is ONE (type, hour) aggregation
    * with map-side partials on an integer hour index (`ts_ns DIV
    * 3.6e12` — nanos stay exact int64; a double division would lose
    * precision above 2^53). The spine is `types × hours` rows built
    * from a BROADCAST 1-row bounds aggregate + `sequence` explode — no
    * driver action, no corpus re-scan. The forward-fill window
    * partitions by type over the RESAMPLED series (bounded by the time
    * span, not the event count), so the window never sees raw events.
    * Values ride as floor(v·100 + 0.5) int64 cents — exact,
    * order-independent sums (the engine's money convention).
    */
  def qGapfill(spark: SparkSession, dir: String): DataFrame = {
    val fillW = Window.partitionBy("event_type").orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (spine, aggs) = hourlySpine(spark, dir)
    val out = spine
      .select(
        col("event_type"), col("hb"),
        coalesce(col("n_raw"), lit(0L)).as("n_events"),
        coalesce(col("q_raw"), lit(0L)).as("q_sum"),
        coalesce(last(col("q_raw"), ignoreNulls = true).over(fillW), lit(0L))
          .as("q_filled"))
      .orderBy("event_type", "hb")
    graft.engine.Caching.handoff(out, aggs)
  }

  /** The dense (event_type, hour) spine with raw per-bucket aggregates
    * (null where the bucket is empty) — shared by [[qGapfill]] and
    * [[qChangepoint]]. Returns the joined spine plus the PERSISTED
    * bucket-aggregate frame feeding it: bounds and the type list derive
    * from that (tiny, types × hours) frame rather than re-scanning the
    * corpus-sized events table — ONE corpus scan total; the caller
    * releases the persisted frame via `Caching.handoff`.
    */
  /** SLIDING-window rollup (3 h window, 1 h slide) per event type:
    * events, distinct users, and the cent-grid value sum per window —
    * the dashboard primitive between tumbling buckets ([[hourlySpine]])
    * and sessionization. A sliding window is a CONSTANT-factor row
    * expansion (each event belongs to exactly window/slide = 3
    * windows), so the plan is explode(3) → one grouped aggregation:
    * count/sum combine map-side; the distinct-user count is Spark's
    * two-phase distinct aggregate, keyed by (type, window, user) —
    * nothing holds a per-window user set in one buffer. Window key =
    * floor-division hour index of the window START (floor semantics
    * shared with the DuckDB twin, exact for any sign).
    */
  def qSlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val ev = Tables.events(spark, dir).select(
      col("event_type"),
      expr(s"(ts_ns - pmod(ts_ns, $hourNs)) DIV $hourNs").as("hb"),
      col("user_id"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("qv"))
    ev.select(col("event_type"), col("user_id"), col("qv"),
        explode(array(col("hb") - 2, col("hb") - 1, col("hb"))).as("win_start"))
      .groupBy("event_type", "win_start")
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(col("qv")).as("sum_v"))
      .orderBy("event_type", "win_start")
  }

  private def hourlySpine(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val ev = Tables.events(spark, dir).select(
      col("event_type"),
      expr(s"(ts_ns - pmod(ts_ns, $hourNs)) DIV $hourNs").as("hb"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("qv"))
    val aggs = ev.groupBy("event_type", "hb").agg(
      count(lit(1)).as("n_raw"),
      sum(col("qv")).as("q_raw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = aggs.agg(min(col("hb")).as("lo"), max(col("hb")).as("hi"))
    val spine = aggs.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hb"))
    (spine.join(aggs, Seq("event_type", "hb"), "left"), aggs)
  }

  /** LEVEL-SHIFT detection over the regularized series — the monitoring
    * question behind data-drift and pipeline-incident alerts: for every
    * hour with a full 24 h window on each side, the day-over-day shift
    * `sum(next 24h) − sum(prev 24h)` of the (gap-explicit) hourly value
    * sums, ranked by magnitude; top 10 per type.
    *
    * Scale shape: everything [[qGapfill]] pays, plus two ROWS-frame
    * window sums over the dense spine — the spine is dense by
    * construction, so ROWS frames equal the intended time-RANGE frames
    * with none of the range-frame sort overhead, and the windows run
    * over the bounded resampled series, never raw events. All-integer
    * sums: the shift is exact and the (|shift| DESC, hb ASC) rank is a
    * total order — hash-stable top-k.
    */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val w = 24
    val (spine, aggs) = hourlySpine(spark, dir)
    val series = spine
      .select(col("event_type"), col("hb"), coalesce(col("q_raw"), lit(0L)).as("q_sum"))
    val byHb = Window.partitionBy("event_type").orderBy("hb")
    val before = sum(col("q_sum")).over(byHb.rowsBetween(-w, -1))
    val beforeN = count(lit(1)).over(byHb.rowsBetween(-w, -1))
    val after = sum(col("q_sum")).over(byHb.rowsBetween(0, w - 1))
    val afterN = count(lit(1)).over(byHb.rowsBetween(0, w - 1))
    val rankW = Window.partitionBy("event_type")
      .orderBy(abs(col("shift")).desc, col("hb").asc)
    val out = series
      .select(col("event_type"), col("hb"),
        before.as("before_sum"), after.as("after_sum"),
        beforeN.as("bn"), afterN.as("an"))
      .filter(col("bn") === w && col("an") === w)
      .withColumn("shift", col("after_sum") - col("before_sum"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= 10)
      .select("event_type", "hb", "before_sum", "after_sum", "shift", "rank")
      .orderBy("event_type", "rank")
    graft.engine.Caching.handoff(out, aggs)
  }

  /** TOP ENTRY PATHS — each user's first `depth` event types in
    * (ts, event_id) order joined into a `a>b>c` path string, rolled up
    * to the `topK` most common paths: the sequence-mining view of the
    * funnel family (q_funnel asks "who completed THIS path"; this asks
    * "which paths happen"). Ties in the report are pinned by
    * (n_users DESC, path ASC).
    *
    * Scale shape: the per-user prefix is a bounded window (row_number
    * ≤ depth over the user partition — the q_sessionize exchange); the
    * path assembly is `depth` conditional aggregates in ONE grouped
    * pass (no array sort, no collect_list — concat_ws skips the NULL
    * tail for users with fewer events); the rollup keys on the path
    * string (≤ |event_types|^depth groups, map-side combined); and the
    * final topK rows are report state, ranked on the driver (the
    * vocabCoverage pattern — no partition-less window).
    */
  def qTopPaths(spark: SparkSession, dir: String,
      depth: Int = 4, topK: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8], got $depth")
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .select("user_id", "event_id", "event_type", "tus")
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val prefix = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= depth)
    val slots = (1 to depth).map(i =>
      max(when(col("rn") === i, col("event_type"))).as(s"e$i"))
    val paths = prefix.groupBy("user_id")
      .agg(slots.head, slots.tail: _*)
      .select(concat_ws(">", (1 to depth).map(i => col(s"e$i")): _*).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
    val top = graft.engine.DriverBudget.collect("Relational.topPaths", topK.toLong)(
        paths.orderBy(desc("n_users"), asc("path")).limit(topK))
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (path, n) => (-n, path) }
    import spark.implicits._
    top.zipWithIndex
      .map { case ((path, n), i) => ((i + 1).toLong, path, n) }
      .toSeq.toDF("rank", "path", "n_users")
  }

  /** RFM SEGMENTATION — per-user recency (latest event), frequency
    * (event count) and monetary (cent-quantized value sum), each cut
    * into ntile(4) quartiles over ALL users, composed into the classic
    * `RFM` segment code (`r·100 + f·10 + m`): the standard
    * user-base-segmentation rollup of event analytics.
    *
    * Scale shape: the per-user rollup is one map-side-combined
    * aggregation; the three quartile cuts are where a naive plan dies —
    * `ntile(4) OVER (ORDER BY ...)` with no partition collapses the
    * user table into ONE task. Each cut here runs through
    * [[graft.engine.GlobalRank.withRowNumber]] (ranged repartition +
    * per-partition windows + broadcast offsets — no single-partition
    * stage) and [[graft.engine.GlobalRank.ntileFromRank]]'s closed-form
    * bucket formula, which is exactly the window function's split.
    * Monetary is summed in integer cents (floor(v·100 + 0.5)), so
    * every ranked key is exact and the quartile boundaries are
    * engine-independent; all three sort keys carry user_id tiebreaks
    * (total order — ranks never depend on partitioning).
    */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .select(col("user_id"), col("tus"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
    rfmSegments(ev.groupBy("user_id").agg(
      max(col("tus")).as("recency_us"),
      count(lit(1)).as("frequency"),
      coalesce(sum(col("vc")), lit(0L)).as("monetary_c")))
  }

  /** The quartile-cut + segment-code stage of [[qRfm]], factored out
    * (round 20) so the streaming twin's read-time finalizer
    * ([[graft.streaming.EventStream.rfmFinalize]]) runs the SAME code
    * path over its latest per-user state rows — parity with the batch
    * query is structural, not re-implemented. Input: one row per user
    * with `user_id, recency_us, frequency, monetary_c`.
    */
  def rfmSegments(u: DataFrame): DataFrame = {
    // QUARTILES BY BOUNDARY COMPARISON (r22, guide §2.4): ntile(4)
    // needs each row's BUCKET, not its full rank — and the bucket
    // boundaries are 3 exact order statistics per key. The pre-r22
    // shape ran a full GlobalRank rank pipeline per key: three SERIAL
    // ranged exchanges of the accumulating full-width user frame,
    // three complete per-partition window sorts, three offset
    // broadcast joins. Now each key runs [[GlobalRank.rowsAtRanks]]
    // over a NARROW (key, user_id) projection — the ranged exchange
    // carries 16 bytes/row, only the ≤3 partitions holding a boundary
    // sort — and the collected boundary tuples come back as literal
    // comparisons in ONE final zero-shuffle projection over the
    // persisted user table. Tiebreak semantics are exact: a row's
    // bucket is 1 + (boundaries strictly before it) under the same
    // (key DESC NULLS LAST, user_id ASC) total order the ranks used, so
    // the result equals ntileFromRank(rank) row for row.
    val uc = u.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def quartileExpr(keyName: String): Column = {
      val (rows, _) = graft.engine.GlobalRank.rowsAtRanks(
        uc.select(col(keyName), col("user_id")),
        Seq(col(keyName).desc, col("user_id").asc),
        // bucket-end ranks for buckets 1..3 (the last bucket needs no
        // boundary; empty buckets when total < 4 have end < start)
        total => graft.engine.GlobalRank.ntileCuts(total, 4)
          .filter { case (_, s, e) => e >= s && e < total }.map(_._3))
      val bounds = graft.engine.DriverBudget.collect("Relational.rfmQuartile", 3L)(
          rows.select(col(keyName), col("user_id"), col("__grank")))
        .map(r => (Option.when(!r.isNullAt(0))(r.getLong(0)), r.getLong(1), r.getLong(2)))
        .sortBy(_._3)
      val key = col(keyName)
      bounds.foldLeft(lit(1L)) { case (acc, (bound, uid, _)) =>
        // boundary tuple strictly BEFORE the row under (key DESC NULLS
        // LAST, user_id ASC): a non-null boundary precedes every null
        // key, a larger key, and the same key with a larger user_id; a
        // null boundary precedes only null keys with a larger user_id
        val before = bound match {
          case Some(k) =>
            key.isNull || lit(k) > key || (lit(k) === key && lit(uid) < col("user_id"))
          case None => key.isNull && lit(uid) < col("user_id")
        }
        acc + when(before, 1L).otherwise(0L)
      }
    }
    // the persisted stages (user table + the three narrow ranged
    // projections inside rowsAtRanks) stay persisted through the
    // caller's one action and are released by the harness's
    // between-query clearCache (the GlobalRank contract — see its
    // scaladoc)
    uc.select(col("user_id"), col("recency_us"), col("frequency"),
        col("monetary_c"),
        quartileExpr("recency_us").as("r_q"),
        quartileExpr("frequency").as("f_q"),
        quartileExpr("monetary_c").as("m_q"))
      .withColumn("segment", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .orderBy("user_id")
  }

  /** SESSION-LENGTH DISTRIBUTION — the histogram view of
    * [[graft.streaming.EventStream.sessionizeBatch]]'s gap-based
    * sessions: how many sessions have k events, with total and max
    * duration per bucket — the engagement-depth report sitting on top
    * of the sessionizer (bounce rate = the k=1 bucket; the histogram
    * tail is the power-user curve).
    *
    * Scale shape: the sessionizer's per-user window exchange is the
    * only data-sized stage; the rollup keys on session length
    * (bounded by the longest session), map-side combined.
    */
  def qSessionStats(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionizeBatch(spark, dir)
      .groupBy("n_events")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("end_us") - col("start_us")).as("total_duration_us"),
        max(col("end_us") - col("start_us")).as("max_duration_us"))
      .orderBy("n_events")

  /** USER LIFESPAN HISTOGRAM (round 17) — users bucketed by the
    * doubling of their active span (first to last event, whole
    * seconds; the +1 puts single-event users in bucket 0 instead of a
    * degenerate log(0)): user count, their event mass, and the
    * longest span per bucket. Lifespan shape is the churn chart every
    * retention model starts from — and the state-sizing input for the
    * streaming sessionizer (state horizon tracks how long users stay
    * active).
    *
    * Scale shape: one user-keyed min/max/count aggregate (map-side
    * combined — the exchange q_retention already pays), folded into
    * ≤64 doubling buckets.
    */
  def qUserLifespan(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        expr("(max(tus) - min(tus)) DIV 1000000").as("span_s"))
      .groupBy((length(bin(col("span_s") + 1)) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n")).as("total_events"),
        max(col("span_s")).as("max_span_s"))
      .orderBy("k")

  /** USER TYPE-DIVERSITY HISTOGRAM (round 18) — users bucketed by how
    * many DISTINCT event types they emit, with user count and event
    * mass per bucket: the engagement-breadth chart (single-type users
    * are drive-by traffic; all-types users are the funnel's healthy
    * population) and the audience-overlap sanity input — if almost
    * nobody emits more than one type, per-type audiences can't
    * overlap and q_audience_overlap's matrix is structurally sparse.
    *
    * Scale shape: one user-keyed exact-distinct aggregate (the
    * (user, type) pre-collapse makes the distinct exact without sets),
    * folded into a ≤|types|-key rollup — the q_user_lifespan exchange
    * shape with a distinct instead of a min/max.
    */
  def qUserTypeDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n"))
      .groupBy("n_types")
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("total_events"))
      .orderBy("n_types")

  /** USER BURSTINESS HISTOGRAM (round 19) — per user, the integer
    * variance-to-mean (Fano) factor of its hourly event counts, users
    * rolled into doubling buckets with the bucket max. Fano ≈ 0 is
    * metronomic traffic (bots, schedulers), large Fano is bursty human
    * sessions — the arrival-process fingerprint that complements
    * [[qGapHist]]'s inter-event view with a per-user dispersion
    * number, and the segmentation input for rate-limit / anomaly
    * baselines. All-integer: var numerator h·Σc² − (Σc)² (≥ 0 by
    * Cauchy–Schwarz) floor-divided by the mean numerator h·Σc.
    *
    * Scale shape: a (user, hour)-keyed count (map-side combined), a
    * user-keyed three-sum fold, then a ≤64-bucket rollup — the
    * q_user_lifespan exchange shape with one extra pre-aggregation.
    */
  def qUserBurstiness(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .groupBy(col("user_id"), expr("tus DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("h"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .select(expr("(h * scc - sc * sc) DIV (h * sc)").as("fano_q"))
      .groupBy((length(bin(col("fano_q") + 1)) - 1).cast("long").as("k"))
      .agg(count(lit(1)).as("n_users"), max(col("fano_q")).as("max_fano_q"))
      .orderBy("k")

  /** INTER-EVENT GAP HISTOGRAM (round 17) — consecutive same-user
    * event gaps in doubling whole-second buckets: the distribution the
    * session GAP CONSTANT is calibrated from (the sessionizer's 30 min
    * cut should sit in this histogram's valley between within-session
    * and between-session mass — this is the chart that proves it) and
    * the arrival-process fingerprint behind any burstiness model.
    *
    * Scale shape: ONE user-partitioned window (ordered by time then
    * event id — the q_sessionize exchange, shared shape), a narrow lag
    * projection, then a ≤64-bucket map-side-combined rollup.
    */
  def qGapHist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("(CAST(ts_ns AS BIGINT) - pmod(CAST(ts_ns AS BIGINT), 1000)) DIV 1000").as("tus"))
      .withColumn("gap_s", expr("(tus - lag(tus, 1) OVER " +
        "(PARTITION BY user_id ORDER BY tus, event_id)) DIV 1000000"))
      .filter(col("gap_s").isNotNull)
      .groupBy((length(bin(col("gap_s") + 1)) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("total_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .orderBy("k")

  /** HOURLY TRAFFIC PROFILE (round 17) — events by UTC hour-of-day ×
    * type, with distinct users, exact cent mass, and each cell's share
    * of its type's daily traffic in basis points: the load-shape table
    * behind capacity planning (when to schedule compactions/GC) and
    * the per-type diurnal fingerprint (purchases peaking off the view
    * peak is a funnel-latency signal).
    *
    * Scale shape: one scan into a (24 × |types|)-keyed aggregate
    * (map-side combined; distinct users exact via the same grouped
    * pass), type totals re-aggregated from the tiny cell table and
    * joined back — the corpus is read once.
    */
  def qHourlyProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(hour(col("ts")).cast("long").as("hr"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("total_cents"))
    val totals = cells.groupBy("event_type").agg(sum(col("n_events")).as("__tot"))
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("share_bp", expr("(10000 * n_events) DIV __tot"))
      .select("hr", "event_type", "n_events", "n_users", "total_cents", "share_bp")
      .orderBy("hr", "event_type")
  }

  /** TIME-DECAYED ENGAGEMENT — per-user value sum under half-life-
    * per-day decay, computed EXACTLY: cents are right-shifted by the
    * event's age in whole days (`vc DIV 2^age`), so the "recency-
    * weighted spend" every churn/engagement model starts from is pure
    * int64 arithmetic — no float `exp`/`pow` whose rounding differs
    * across engines (an exponential-decay score in doubles is a ulp
    * lottery under re-ordered sums; the power-of-two grid is the
    * integer-grid trick the distance kernels use, applied to time).
    * Ages past 62 days contribute zero (the shift would overflow; the
    * true contribution is < 1 cent anyway).
    *
    * Scale shape: the reference instant is one broadcast scalar; decay
    * is a narrow per-row projection fused into the scan; one map-side-
    * combined aggregate keyed by user.
    */
  def qDecayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .select(col("user_id"), col("tus"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
    val ref = ev.agg(max(col("tus")).as("m"))
    ev.crossJoin(broadcast(ref))
      .withColumn("age", expr("(m - tus) DIV 86400000000"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("age")).as("last_age_days"),
        // sign-safe shift: Spark's DIV truncates toward zero while
        // DuckDB's // floors, so a negative vc (refund) would diverge
        // by one cent whenever 2^age doesn't divide it. Dividing the
        // MAGNITUDE and re-applying the sign is truncation-toward-zero
        // on both engines — identical for vc >= 0, exact for refunds.
        coalesce(sum(when(col("age") <= 62,
          expr("CASE WHEN vc < 0 THEN -((-vc) DIV shiftleft(1L, CAST(age AS INT))) " +
            "ELSE vc DIV shiftleft(1L, CAST(age AS INT)) END")).otherwise(lit(0L))), lit(0L))
          .as("decay_score"))
      .orderBy("user_id")
  }

  /** [[qDecayScore]] on the ABSOLUTE day grid, bucket-then-decay
    * (round 20) — the STREAMING-EXACT form of the decayed-engagement
    * score: cents are summed per (user, UTC day bucket) FIRST, then
    * each bucket sum is right-shifted by its age against the corpus's
    * max bucket. Two deliberate differences from [[qDecayScore]], both
    * forced by bounded streaming state and declared here rather than
    * approximated silently: ages live on the absolute day grid
    * (`tus DIV day` both sides) instead of the µs-anchored
    * `(m − tus) DIV day`, and truncation happens once per bucket
    * instead of once per event. Under those semantics the per-user
    * sufficient statistic is a ≤63-entry day→cents map — an order-free
    * monoid, so [[graft.streaming.EventStream.decayScoreStream]]
    * reproduces this query exactly at ANY arrival order with no ooo
    * frontier, the lifespan/diversity/burstiness contract; the
    * µs-anchored original is NOT expressible in bounded state (each
    * event's truncated term depends on the read-time frontier at µs
    * precision, so exactness would need the event list back).
    *
    * Scale shape: one map-side-combined (user, day) rollup, the
    * reference day one broadcast scalar, then a user-keyed fold over
    * ≤63 rows per user. Same sign-safe magnitude-shift as the
    * original (Spark DIV truncates toward zero, DuckDB // floors —
    * dividing the magnitude makes both exact for refund buckets).
    */
  def qDecayScoreDay(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      // FLOOR-divide the day bucket (r21, ADVICE): Spark DIV truncates
      // toward zero while the oracle's `//` floors, so a pre-epoch
      // (negative-µs) timestamp would land one bucket high and days in
      // (-1, 0] would collapse into day 0. Identical for tus >= 0 (the
      // whole test corpus), exact for any corpus.
      .select(col("user_id"),
        expr("(tus - pmod(tus, 86400000000)) DIV 86400000000").as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("cents"))
    val ref = b.agg(max(col("day")).as("refd"))
    b.crossJoin(broadcast(ref))
      .withColumn("age", col("refd") - col("day"))
      .groupBy("user_id")
      .agg(
        sum(col("n")).as("n_events"),
        min(col("age")).as("last_age_days"),
        coalesce(sum(when(col("age") <= 62,
          expr("CASE WHEN cents < 0 THEN -((-cents) DIV shiftleft(1L, CAST(age AS INT))) " +
            "ELSE cents DIV shiftleft(1L, CAST(age AS INT)) END")).otherwise(lit(0L))), lit(0L))
          .as("decay_score"))
      .orderBy("user_id")
  }

  /** CONVERSION FUNNEL — strictly-ordered view → click → purchase
    * steps per user: a user counts at step 2 only with a click AFTER
    * their first view, and at step 3 only with a purchase after that
    * qualifying click (first-touch semantics at every step — the
    * funnel every product dashboard means by "conversion", as opposed
    * to [[qConversionWindow]]'s single-pair window count). Per step:
    * converting users and the total gap-to-previous-step in exact
    * microseconds (ties excluded by the STRICT inequality, mirrored in
    * the oracle — an equal-timestamp pair is not an ordered funnel
    * transition).
    *
    * Scale shape: three user-keyed min-aggregations chained by
    * user-keyed joins — every exchange is keyed on user_id, so AQE
    * reuses one partitioning; the step rollups are 1-row aggregates.
    * No windows, no event×event join.
    */
  def qFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .select(col("user_id"), col("event_type"), col("tus"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("tus") > col("t1"))
      .groupBy("user_id").agg(min(col("tus")).as("t2"), min(col("t1")).as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2.select(col("user_id"), col("t2")), Seq("user_id"))
      .filter(col("tus") > col("t2"))
      .groupBy("user_id").agg(min(col("tus")).as("t3"), min(col("t2")).as("t2"))
    val r1 = s1.agg(count(lit(1)).as("n_users"))
      .select(lit(1L).as("step"), col("n_users"), lit(0L).as("total_gap_us"))
    val r2 = s2.agg(count(lit(1)).as("n_users"),
        coalesce(sum(col("t2") - col("t1")), lit(0L)).as("total_gap_us"))
      .select(lit(2L).as("step"), col("n_users"), col("total_gap_us"))
    val r3 = s3.agg(count(lit(1)).as("n_users"),
        coalesce(sum(col("t3") - col("t2")), lit(0L)).as("total_gap_us"))
      .select(lit(3L).as("step"), col("n_users"), col("total_gap_us"))
    graft.engine.Caching.handoff(
      r1.unionByName(r2).unionByName(r3).orderBy("step"), ev)
  }

  /** EVENT-TYPE TRANSITION MATRIX (round 16) — consecutive-event
    * (from → to) counts per user stream, the first-order Markov table
    * behind journey analysis and anomaly scoring (a spike in
    * purchase→purchase is a replay bug; a missing view→click edge is a
    * broken surface). Consecutiveness is per user in (time, event_id)
    * order — the sessionize ordering rule — with null-typed events
    * excluded up front on BOTH engines so the lag chain and the null
    * sort order can't diverge.
    *
    * Scale shape: one user-partitioned window (the q_sessionize
    * exchange, AQE-shared), then a types²-bounded map-side-combined
    * rollup.
    */
  def qEventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("tus", expr(floorDivUs))
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"), col("tus"))
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    ev.withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("from_type", "to_type")
  }

  /** VALUE HISTOGRAM — event values bucketed by cent-DOUBLING ranges
    * (`k = floor(log2(cents))` via the BIGINT's binary width — the
    * [[graft.operators.TextAnalysis.vocabZipfProfile]] integer-log
    * trick on the money axis) per event type: the spend-distribution
    * report behind pricing and fraud dashboards, with no float `log`
    * or boundary anywhere. Sub-cent values (cents < 1) are excluded —
    * they have no doubling bucket.
    *
    * Scale shape: one narrow scan projection, one map-side-combined
    * rollup on (type, bucket) — at most types × 64 output rows.
    */
  def qValueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .filter(col("vc") >= 1)
      .groupBy(col("event_type"), (length(bin(col("vc"))) - 1).cast("long").as("k"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("vc")).as("total_cents"),
        min(col("vc")).as("min_cents"),
        max(col("vc")).as("max_cents"))
      .orderBy("event_type", "k")

  /** AUDIENCE OVERLAP — pairwise Jaccard of the USER SETS behind each
    * event type (who clicks vs who purchases vs who churns): the
    * audience-similarity matrix behind funnel design and feature
    * cross-sell analysis — [[graft.operators.TextAnalysis]]'
    * vocab_overlap with users in place of terms. Jaccard in integer
    * basis points (`10000·inter DIV union`), engine-independent.
    *
    * Scale shape: one distinct pass collapses events to (type, user)
    * memberships; the pair counts come from a per-user self-join whose
    * fan-out is |types-per-user|² ≤ |event_types|² — a CONSTANT per
    * user, so the exchange is users-sized, never events-sized; the
    * rollup keys on the type pair (≤ |types|² groups, map-side
    * combined) and set sizes broadcast back onto the matrix.
    */
  def qAudienceOverlap(spark: SparkSession, dir: String): DataFrame =
    audienceOverlap(Tables.events(spark, dir))

  /** Frame-level core of [[qAudienceOverlap]] (input needs `event_type`,
    * `user_id`). CARDINALITY CONTRACT: the matrix is event-types² — the
    * key space must be dimension-sized, enforced by
    * [[graft.engine.Skew.requirePairwiseKeyBound]] before the pair
    * stage runs (property-tested in QueriesSpec).
    */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val m = events
      .select(col("event_type"), col("user_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.Skew.requirePairwiseKeyBound(m, "event_type", "q_audience_overlap")
    val sizes = m.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = m.select(col("event_type").as("type_a"), col("user_id"))
      .join(m.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("inter"))
    val out = inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("inter"),
        expr("(10000 * inter) DIV (n_a + n_b - inter)").as("jacc_bp"))
      .orderBy("type_a", "type_b")
    graft.engine.Caching.handoff(out, m)
  }
}
