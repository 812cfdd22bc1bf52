package graft.engine

import org.apache.spark.sql.{DataFrame, Row}

/** EXECUTABLE DRIVER-COLLECT BUDGETS (round 16) — every `.collect()`
  * in the operator library pulls driver-side state whose boundedness
  * was, until this round, a per-site comment contract (centroid
  * models, top-K literals, shard manifests). This helper makes each
  * contract EXECUTABLE: the site names its bound at the call, the
  * observed row count is recorded, and exceeding the bound throws —
  * so a plan drift that turns a "nlist-row model collect" into a
  * corpus-proportional pull fails the sweeping plan audit (which
  * executes every registered query) and fails identically in
  * production instead of silently OOMing the driver at 100 TB.
  *
  * Round 17: the fetch itself is BOUNDED. `take(bound + 1)` pulls at
  * most bound+1 rows to the driver, so an over-budget site is
  * detected with O(bound) driver memory — the r16 form ran the full
  * `collect()` first and could OOM on a corpus-proportional pull
  * before the guard fired, which defeated the guard exactly where it
  * mattered. `take` returns rows in the same partition-major order
  * `collect` does (and respects any sort in the plan), and when the
  * result fits the bound it IS the complete result, so call sites are
  * unchanged. Observations additionally carry the active CONTEXT
  * label (set by the serial plan audit / Verify per query) so a
  * budget failure names the query, not just the site.
  *
  * What is NOT instrumented, deliberately:
  *   - `.head()` on an aggregate — intrinsically one row;
  *   - result dumps owned by the harness (Verify writes parquet,
  *     Bench counts) — a query's RESULT size is its documented
  *     contract, not driver state;
  *   - diagnostics under `tools/` (Profile, AssetBench) — operator
  *     cost there is the point of the tool.
  *
  * Bounds are stated in ROWS because row counts survive scale-factor
  * changes: a corpus-proportional collect blows through a 16-row
  * centroid bound at sf0.001 just as it would at 100 TB, so the audit
  * catches the drift on the cheap fixture.
  */
object DriverBudget {

  /** Typed over-budget signal (r17) — callers that can DEGRADE instead
    * of failing (the knn increment's saturated-delta write) catch this
    * by type, never by message sniffing. Extends IllegalStateException
    * so existing handlers and specs keep working.
    */
  final class BudgetExceeded(msg: String) extends IllegalStateException(msg)

  /** `truncated` (r18): the bounded fetch stops at bound+1 rows, so an
    * over-budget observation's `rows` is a floor, not a measurement —
    * the audit view distinguishes "barely over" from "unknown, ≥
    * bound+1" instead of silently printing the clamp as an exact count.
    */
  final case class Observation(rows: Long, bound: Long, context: String,
      truncated: Boolean = false)

  /** Max observed rows per site this JVM — the audit's coverage view.
    * `context` records which query drove the max, so an audit failure
    * is self-locating without a re-run.
    */
  private[graft] val observed =
    new java.util.concurrent.ConcurrentHashMap[String, Observation]()

  /** Active query label for attribution. The audit and Verify run
    * queries serially on the driver thread, so a plain volatile is
    * the right granularity; concurrent streaming collects inherit
    * whatever batch context is active, which is the honest answer.
    */
  @volatile private var activeContext: String = ""

  /** Set the attribution label for subsequent collects (query name). */
  def setContext(label: String): Unit = activeContext = label

  def clearContext(): Unit = activeContext = ""

  /** Collect `df` under `site`'s declared row bound, fetching at most
    * bound+1 rows so driver memory stays O(bound) even when the site
    * is over budget.
    */
  def collect(site: String, bound: Long)(df: DataFrame): Array[Row] = {
    val fetch = math.min(bound + 1L, Int.MaxValue.toLong).toInt
    val rows = df.take(fetch)
    record(site, rows.length.toLong, bound)
    rows
  }

  private def record(site: String, n: Long, bound: Long): Unit = {
    val ctx = activeContext
    observed.merge(site, Observation(n, bound, ctx, truncated = n > bound),
      (a, b) => if (b.rows > a.rows) b else a)
    if (n > bound)
      throw new BudgetExceeded(
        s"driver-collect budget exceeded at $site" +
          (if (ctx.nonEmpty) s" (query: $ctx)" else "") +
          s": fetched $n rows > bound $bound " +
          "(a corpus-proportional pull reached the driver; the operator's " +
          "plan no longer matches its documented scale contract; fetch was " +
          "truncated at bound+1 rows, so the true size may be larger)")
  }
}
