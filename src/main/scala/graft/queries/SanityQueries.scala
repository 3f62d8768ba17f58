package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.backtest.{Engine, Signals}
import graft.etl.{EventGrammar, ForwardLabels, GoldFeatures, Indicators,
  MarketData}
import graft.ops.Cols

/** Run-sanity and QA-diagnostic surface (ref backtest/sanity.py,
  * backtest/sensitivity_sanity.py, validation/cluster_qa.py:105-158):
  * the data-invariant halves of the reference's run summarizers as
  * oracle-checked queries — trades invariants, grid metric validity,
  * per-column NaN/null audits, and the per-state best/worst rolling
  * window diagnostics. The artifact-level halves (file existence, JSON
  * payload parity) live in `etl.Sanity` + SanitySpec.
  *
  * Scale shape: every battery is a single-pass aggregate with map-side
  * partial aggregation (one row or one row per column out); the QA
  * window diagnostics group once on (win, state) — the same exchange
  * budget as q_stability — and then window over the tiny per-window
  * frame.
  */
object SanityQueries extends QueryModule {

  private val Default = graft.backtest.Grid.Default

  private def chain: String =
    s"""${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${Signals.sql(Default.mode, Default.confirmBars)}"""

  private def finite(c: Column): Column =
    !isnan(c) && abs(c) =!= Double.PositiveInfinity

  /** Gold double columns audited by q_sanity_gold_audit. */
  private val GoldAuditCols = Seq("tmf_slope_10", "tmf_curvature_1",
    "delta_flow_5", "delta_flow_20", "flow_activity_20", "flow_bias_20",
    "persistence_pos_20", "persistence_neg_20")

  /** Scored-grid metric columns audited for null / non-finite cells. */
  private val MetricCols = Seq("expectancy", "profit_factor",
    "ret_cv", "downside_std", "max_drawdown", "robustness_score_v1",
    "robustness_score_v2")

  private def nullCellsSql: String = MetricCols
    .map(c => s"count(CASE WHEN $c IS NULL THEN 1 END)")
    .mkString("\n                 + ")

  private def nonFiniteCellsSql: String = MetricCols
    .map(c => s"count(CASE WHEN $c IS NOT NULL AND NOT isfinite($c) " +
      "THEN 1 END)")
    .mkString("\n                 + ")

  /** The effective runtime configuration as (key, value) rows — built
    * from the SAME live Settings defs the operators read, so the gate
    * row pins "resolved runtime config == the reference's settings.yaml
    * defaults" (ref: `show-config` CLI, src/mf_etl/config.py). Both the
    * engine frame and the oracle SQL interpolate graft.Settings, so an
    * env/sysprop override at Verify time keeps the two consistent. */
  private def configRows: Seq[(String, String)] = {
    val S = graft.Settings
    Seq(
      "validation.suspicious_range_pct_threshold" ->
        S.validation.suspiciousRangePct.toString,
      "validation.gap_days_warn_threshold" ->
        S.validation.gapDaysWarn.toString,
      "validation.bootstrap.n_boot" -> S.validation.bootstrapNBoot.toString,
      "validation.bootstrap.ci" -> S.validation.bootstrapCi.toString,
      "validation.bootstrap.block_length" ->
        S.validation.bootstrapBlockLength.toString,
      "event_grammar.respect_fail_lookahead_bars" ->
        S.eventGrammar.respectFailLookback.toString,
      "event_grammar.hold_consecutive_bars" ->
        S.eventGrammar.holdBars.toString,
      "event_grammar.tmf_burst_abs_threshold" ->
        S.eventGrammar.burstAbsThreshold.toString,
      "event_grammar.tmf_burst_slope_threshold" ->
        S.eventGrammar.burstSlopeThreshold.toString,
      "gold_features.score_weights.zero" -> S.goldFeatures.wZero.toString,
      "gold_features.score_weights.respect" ->
        S.goldFeatures.wRespect.toString,
      "gold_features.score_weights.burst" -> S.goldFeatures.wBurst.toString,
      "gold_features.score_weights.hold" -> S.goldFeatures.wHold.toString,
      "gold_features.recency_clip_bars" ->
        S.goldFeatures.recencyClipBars.toString,
      "backtest_sensitivity.max_combos" -> S.sensitivity.maxCombos.toString,
      "precision.bronze_float" -> S.precision.bronzeFloat,
      "precision.silver_float" -> S.precision.silverFloat,
      "precision.gold_float" -> S.precision.goldFloat,
      "parquet.compression" -> S.parquet.compression,
      "cluster_hardening.min_n_rows_hard" ->
        S.clusterHardening.minNRowsHard.toString,
      "cluster_hardening.ret_cv_hard" ->
        S.clusterHardening.retCvHard.toString,
      "cluster_hardening.score_min_allow" ->
        S.clusterHardening.scoreMinAllow.toString,
      "cluster_hardening.score_min_watch" ->
        S.clusterHardening.scoreMinWatch.toString,
      "backtest_execution_realism.dollar_vol_window" ->
        S.execRealism.dollarVolWindow.toString,
      "backtest_execution_realism.gate.min_price" ->
        S.execRealism.gateMinPrice.toString,
      "backtest_policy_overlay.min_overlay_match_rate_warn" ->
        S.policyOverlay.minOverlayMatchRateWarn.toString,
      "overlay_coverage_policy.min_match_rate_warn" ->
        S.overlayCoverage.minMatchRateWarn.toString,
      "overlay_coverage_policy.min_match_rate_fail" ->
        S.overlayCoverage.minMatchRateFail.toString,
      "backtest_execution_calibration.min_eligible_signals" ->
        S.execCalibration.minEligibleSignals.toString,
      "backtest_execution_calibration.max_single_reason_share" ->
        S.execCalibration.maxSingleReasonShare.toString,
      "backtest_execution_calibration.top_k_recommendations" ->
        S.execCalibration.topKRecommendations.toString,
      "candidate_rerun.drift.expectancy_drop_pct_flag" ->
        S.candidateRerun.expectancyDropPctFlag.toString,
      "candidate_rerun.drift.pf_drop_pct_flag" ->
        S.candidateRerun.pfDropPctFlag.toString,
      "ops_nightly.keep_last_n" -> S.opsNightly.keepLastN.toString,
      "research_clustering.kmeans.n_init" ->
        S.researchClustering.kmeansNInit.toString,
      "research_clustering.silhouette_sample_max" ->
        S.researchClustering.silhouetteSampleMax.toString,
      "research_hmm.hmm.n_iter" -> S.researchHmm.nIter.toString,
      "research_hmm.sweep.components_default" ->
        S.researchHmm.sweepComponents.mkString(","))
  }

  def all: Seq[Q] = Seq(

    // The runtime config surface as a gate row (see configRows).
    Q("q_config_effective", Some {
      val rows = configRows.map { case (k, v) =>
        s"('${k}', '${v}')"
      }.mkString(",\n        ")
      s"""
      SELECT k AS config_key, v AS config_value FROM (VALUES
        $rows) AS t(k, v)
      ORDER BY config_key"""
    }) { (s, dir) =>
      val spark = s
      import spark.implicits._
      configRows.toDF("config_key", "config_value").orderBy("config_key")
    },

    // Backtest run sanity (ref backtest/sanity.py:28-70): the trades
    // invariant battery — negative realized holds, entry after exit,
    // duplicate position ids, non-finite/non-positive fill prices, NaN
    // cells across the return columns — as one aggregate row with a
    // PASS/FAIL verdict. One pass over the cached default-combo trades.
    Q("q_bt_sanity", Some(s"""
      WITH RECURSIVE $chain,
      ${Engine.tradesSql(Default.config)},
      b AS (
        SELECT CAST(count(*) AS BIGINT) AS trade_count,
               count(CASE WHEN hold_bars < 0 THEN 1 END)
                 AS n_negative_hold_bars,
               count(CASE WHEN entry_ts > exit_ts THEN 1 END)
                 AS n_entry_after_exit,
               count(*) - count(DISTINCT (ticker, pos_seq))
                 AS n_duplicate_position_id,
               count(CASE WHEN NOT isfinite(entry_price)
                       OR NOT isfinite(exit_price)
                       OR entry_price <= 0 OR exit_price <= 0 THEN 1 END)
                 AS n_bad_price,
               count(CASE WHEN isnan(gross_ret) THEN 1 END)
                 + count(CASE WHEN isnan(net_ret) THEN 1 END)
                 + count(CASE WHEN isnan(mfe) THEN 1 END)
                 + count(CASE WHEN isnan(mae) THEN 1 END)
                 AS nan_return_cells
        FROM trades)
      SELECT *,
             CASE WHEN n_negative_hold_bars = 0 AND n_entry_after_exit = 0
                    AND n_duplicate_position_id = 0 AND n_bad_price = 0
               THEN 'PASS' ELSE 'FAIL' END AS status
      FROM b""")) { (s, dir) =>
      val tr = BacktestQueries2.defaultTrades(s, dir)
      val b = tr.agg(
        count(lit(1)).as("trade_count"),
        Cols.countIf(col("hold_bars") < 0).as("n_negative_hold_bars"),
        Cols.countIf(col("entry_ts") > col("exit_ts"))
          .as("n_entry_after_exit"),
        (count(lit(1)) - countDistinct(col("ticker"), col("pos_seq")))
          .as("n_duplicate_position_id"),
        Cols.countIf(!finite(col("entry_price")) ||
            !finite(col("exit_price")) ||
            col("entry_price") <= 0 || col("exit_price") <= 0)
          .as("n_bad_price"),
        (Cols.countIf(isnan(col("gross_ret")))
          + Cols.countIf(isnan(col("net_ret")))
          + Cols.countIf(isnan(col("mfe")))
          + Cols.countIf(isnan(col("mae")))).as("nan_return_cells"))
      b.withColumn("status",
        when(col("n_negative_hold_bars") === 0 &&
          col("n_entry_after_exit") === 0 &&
          col("n_duplicate_position_id") === 0 &&
          col("n_bad_price") === 0, "PASS").otherwise("FAIL"))
    },

    // Sensitivity grid sanity (ref backtest/sensitivity_sanity.py:41-120,
    // data-invariant subset): duplicate combo ids, null / non-finite
    // metric cells across the scored grid, and robustness_v2 validity for
    // combos that actually traded. Runs over the shared scored-combo
    // stage (grid-sized frame; the sweep itself is the expensive part and
    // is cached once for the whole grid family).
    Q("q_grid_sanity", Some(s"""
      WITH RECURSIVE $chain,
      ${BacktestQueries2.comboScoredSql()},
      g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_combos,
               count(*) - count(DISTINCT combo_id) AS n_duplicate_combo_id,
               $nullCellsSql AS null_metric_cells,
               $nonFiniteCellsSql AS non_finite_metric_cells,
               count(CASE WHEN trade_count > 0
                       AND (robustness_score_v2 IS NULL
                         OR NOT isfinite(robustness_score_v2)) THEN 1 END)
                 AS n_invalid_v2_nonzero_trades
        FROM combo_scored)
      SELECT *,
             CASE WHEN n_duplicate_combo_id = 0
                    AND non_finite_metric_cells = 0
                    AND n_invalid_v2_nonzero_trades = 0
               THEN 'PASS' ELSE 'FAIL' END AS status
      FROM g""")) { (s, dir) =>
      val cs = HybridQueries.runScored(s, dir, None)
      val nullCells = MetricCols
        .map(c => Cols.countIf(col(c).isNull))
        .reduce(_ + _)
      val nonFinite = MetricCols
        .map(c => Cols.countIf(col(c).isNotNull && !finite(col(c))))
        .reduce(_ + _)
      val g = cs.agg(
        count(lit(1)).as("n_combos"),
        (count(lit(1)) - countDistinct(col("combo_id")))
          .as("n_duplicate_combo_id"),
        nullCells.as("null_metric_cells"),
        nonFinite.as("non_finite_metric_cells"),
        Cols.countIf(col("trade_count") > 0 &&
            (col("robustness_score_v2").isNull ||
              !finite(col("robustness_score_v2"))))
          .as("n_invalid_v2_nonzero_trades"))
      g.withColumn("status",
        when(col("n_duplicate_combo_id") === 0 &&
          col("non_finite_metric_cells") === 0 &&
          col("n_invalid_v2_nonzero_trades") === 0, "PASS")
          .otherwise("FAIL"))
    },

    // Per-column NaN/null audit of the gold feature layer (ref
    // backtest/sanity.py:18-25 `_nan_count`, generalized to a tidy
    // per-column report instead of one opaque total). Single aggregate
    // pass — all 2N counts reduce in one map-side-combined job — then an
    // explode to long form.
    Q("q_sanity_gold_audit", Some(s"""
      WITH RECURSIVE ${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${GoldFeatures.goldSql},
      ga AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               ${GoldAuditCols.map(c =>
                 s"""count(CASE WHEN $c IS NULL THEN 1 END) AS null__$c,
                     count(CASE WHEN isnan($c) THEN 1 END) AS nan__$c""")
                 .mkString(",\n               ")}
        FROM gold)
      ${GoldAuditCols.map(c =>
        s"""SELECT '$c' AS column_name, n_rows,
               null__$c AS n_null, nan__$c AS n_nan FROM ga""")
        .mkString("\n      UNION ALL\n      ")}
      ORDER BY column_name""")) { (s, dir) =>
      val gold = GoldFeatures.oracleProjection(
        GoldFeatures.build(EventGrammar.build(Indicators.twiggs(
          MarketData.barsFromEvents(t(s, dir, "events"))))))
      val aggs = GoldAuditCols.flatMap(c => Seq(
        Cols.countIf(col(c).isNull).as(s"null__$c"),
        Cols.countIf(isnan(col(c))).as(s"nan__$c")))
      val one = gold.agg(count(lit(1)).as("n_rows"), aggs: _*)
      one.select(explode(array(GoldAuditCols.map(c =>
          struct(lit(c).as("column_name"), col("n_rows"),
            col(s"null__$c").as("n_null"), col(s"nan__$c").as("n_nan")))
          : _*)).as("r"))
        .select("r.*")
        .orderBy("column_name")
    },

    // Cluster-QA per-state window diagnostics (ref
    // validation/cluster_qa.py:105-158 `_state_window_diagnostics`): the
    // 3 worst and 3 best daily windows per flow state by forward-return
    // mean, annotated with the state's sign-flip count across windows
    // (zero-sign windows skipped, exactly the reference's prev_sign
    // carry), the share variance, and the LIKELY_OUTLIER_WINDOW drift
    // test (≥4 finite windows, max |v − mean| > 2σ). Feeds the hardening
    // battery already oracled in q_cluster_hardening_full; this emits the
    // windows table itself.
    Q("q_qa_state_windows", Some(s"""
      WITH RECURSIVE ${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${ForwardLabels.sql},
      qbase AS (
        SELECT g.flow_state_code AS state,
               CAST(date_diff('day', DATE '2024-01-01',
                 CAST(to_timestamp(g.bar_ts / 1000000) AS DATE)) AS INT)
                 AS win,
               f.fwd_ret_10 AS fr
        FROM grammar g JOIN fwd f USING (ticker, bar_ts, bar_id)),
      wm AS (
        SELECT win, state, count(*) AS n,
               round(CAST(sum(CASE WHEN isfinite(fr)
                     THEN CAST(fr AS DECIMAL(38,18)) END) AS DOUBLE)
                 / count(CASE WHEN isfinite(fr) THEN fr END), 9) AS v,
               CASE WHEN count(fr) > 0 THEN
                 round(CAST(count(CASE WHEN fr > 0 THEN 1 END) AS DOUBLE)
                   / count(fr), 6) END AS hit_rate
        FROM qbase GROUP BY 1, 2),
      ws AS (
        SELECT *, round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY win), 9) AS share
        FROM wm),
      fl AS (
        SELECT state,
               count(CASE WHEN prev IS NOT NULL AND prev <> sgn
                 THEN 1 END) AS sign_flip_count
        FROM (SELECT state, sign(v) AS sgn,
                     lag(sign(v)) OVER (PARTITION BY state ORDER BY win)
                       AS prev
              FROM ws WHERE v IS NOT NULL AND sign(v) <> 0)
        GROUP BY 1),
      stt0 AS (
        SELECT state, count(*) AS nf,
               CAST(sum(CAST(v AS DECIMAL(38,18))) AS DOUBLE) / count(*)
                 AS mv,
               CAST(sum(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE) AS svv
        FROM ws WHERE v IS NOT NULL GROUP BY 1),
      stt AS (
        SELECT state, nf, mv,
               sqrt(greatest(svv / nf - mv * mv, 0.0)) AS sv
        FROM stt0),
      dv AS (
        SELECT w.state, max(abs(w.v - s.mv)) AS maxdev
        FROM ws w JOIN stt s USING (state)
        WHERE w.v IS NOT NULL GROUP BY 1),
      shv AS (
        SELECT state,
               round((CAST(sum(CAST(share * share AS DECIMAL(38,18)))
                     AS DOUBLE)
                 - CAST(sum(CAST(share AS DECIMAL(38,18))) AS DOUBLE)
                   * CAST(sum(CAST(share AS DECIMAL(38,18))) AS DOUBLE)
                   / count(*))
                 / count(*), 9) AS share_variance
        FROM ws GROUP BY 1),
      rk AS (
        SELECT *,
               row_number() OVER (PARTITION BY state
                 ORDER BY v ASC NULLS LAST, win) AS rn_w,
               row_number() OVER (PARTITION BY state
                 ORDER BY v DESC NULLS LAST, win) AS rn_b
        FROM ws),
      pick AS (
        SELECT state, 'worst' AS window_kind, win, v, hit_rate, share
        FROM rk WHERE rn_w <= 3
        UNION ALL
        SELECT state, 'best' AS window_kind, win, v, hit_rate, share
        FROM rk WHERE rn_b <= 3)
      SELECT p.state, p.window_kind, p.win, p.v AS fwd_mean, p.hit_rate,
             p.share,
             COALESCE(f.sign_flip_count, 0) AS sign_flip_count,
             s2.share_variance,
             COALESCE(st.nf >= 4 AND st.sv > 0
               AND d.maxdev > 2.0 * st.sv, false) AS window_drift_high
      FROM pick p
      LEFT JOIN fl f USING (state)
      LEFT JOIN shv s2 USING (state)
      LEFT JOIN stt st USING (state)
      LEFT JOIN dv d USING (state)
      ORDER BY state, window_kind, win""")) { (s, dir) =>
      val keys = Seq("ticker", "bar_ts", "bar_id")
      val base = Stage.slimGrammar(s, dir)
        .select((keys :+ "flow_state_code").map(col): _*)
        .join(Stage.slimFwd(s, dir), keys)
        .select(col("flow_state_code").as("state"),
          datediff(to_date(timestamp_seconds(col("bar_ts") / 1000000)),
            lit("2024-01-01").cast("date")).as("win"),
          col("fwd_ret_10").as("fr"))
      // every float aggregate below sums through DECIMAL(38,18) so the
      // 9-decimal rounding can't flip with aggregation order (plain
      // double avg/var_pop are order-dependent in BOTH engines — DuckDB
      // parallel aggregation made this query's hash flaky run-to-run)
      val frF = Cols.finiteOrNull(col("fr"))
      val wm = base.groupBy("win", "state").agg(
        count(lit(1)).as("n"),
        round(sum(frF.cast("decimal(38,18)")).cast("double")
          / count(frF), 9).as("v"),
        when(count(col("fr")) > 0,
          round(Cols.countIf(col("fr") > 0).cast("double")
            / count(col("fr")), 6)).as("hit_rate"))
      val ws = wm.withColumn("share",
        round(col("n").cast("double")
          / sum("n").over(Window.partitionBy("win")), 9))
      val sgn = signum(col("v"))
      val fl = ws.filter(col("v").isNotNull && sgn =!= 0)
        .withColumn("sgn", sgn)
        .withColumn("prev", lag("sgn", 1).over(
          Window.partitionBy("state").orderBy("win")))
        .groupBy("state")
        .agg(Cols.countIf(col("prev").isNotNull &&
          col("prev") =!= col("sgn")).as("sign_flip_count"))
      // v is 9-dec rounded, so v and v² are EXACT in DECIMAL(38,18):
      // the decimal sums make mv/sv order-independent; the remaining
      // double math is scalar (deterministic and engine-identical)
      val stt = ws.filter(col("v").isNotNull).groupBy("state")
        .agg(count(lit(1)).as("nf"),
          (sum(col("v").cast("decimal(38,18)")).cast("double")
            / count(lit(1))).as("mv"),
          sum((col("v") * col("v")).cast("decimal(38,18)"))
            .cast("double").as("svv"))
        .withColumn("sv",
          sqrt(greatest(col("svv") / col("nf") - col("mv") * col("mv"),
            lit(0.0))))
      val dv = ws.filter(col("v").isNotNull)
        .join(broadcast(stt.select("state", "mv")), "state")
        .groupBy("state").agg(max(abs(col("v") - col("mv"))).as("maxdev"))
      val shareSum = sum(col("share").cast("decimal(38,18)"))
        .cast("double")
      val shv = ws.groupBy("state")
        .agg(round((sum((col("share") * col("share"))
              .cast("decimal(38,18)")).cast("double")
            - shareSum * shareSum / count(lit(1)))
            / count(lit(1)), 9).as("share_variance"))
      val rk = ws
        .withColumn("rn_w", row_number().over(Window.partitionBy("state")
          .orderBy(col("v").asc_nulls_last, col("win"))))
        .withColumn("rn_b", row_number().over(Window.partitionBy("state")
          .orderBy(col("v").desc_nulls_last, col("win"))))
      val pick = rk.filter(col("rn_w") <= 3)
        .select(col("state"), lit("worst").as("window_kind"), col("win"),
          col("v"), col("hit_rate"), col("share"))
        .unionByName(rk.filter(col("rn_b") <= 3)
          .select(col("state"), lit("best").as("window_kind"), col("win"),
            col("v"), col("hit_rate"), col("share")))
      pick
        .join(broadcast(fl), Seq("state"), "left")
        .join(broadcast(shv), Seq("state"), "left")
        .join(broadcast(stt), Seq("state"), "left")
        .join(broadcast(dv), Seq("state"), "left")
        .select(col("state"), col("window_kind"), col("win"),
          col("v").as("fwd_mean"), col("hit_rate"), col("share"),
          coalesce(col("sign_flip_count"), lit(0L))
            .as("sign_flip_count"),
          col("share_variance"),
          coalesce(col("nf") >= 4 && col("sv") > 0 &&
            col("maxdev") > lit(2.0) * col("sv"), lit(false))
            .as("window_drift_high"))
        .orderBy("state", "window_kind", "win")
    }
  )
}
