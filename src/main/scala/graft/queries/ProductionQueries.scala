package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.backtest.{Engine, Grid, Metrics, Signals}
import graft.etl.{EventGrammar, Indicators, MarketData}

/** Production composition layer (ref
  * src/mf_etl/backtest/production_candidates.py:290-521 and
  * candidate_rerun.py:366-790): select the best grid combos into a
  * deployable candidate pack, then re-run the pack on fresh data and
  * flag drift against the pack's expected-behavior snapshot.
  *
  * Adaptations for the single-grid engine surface: both candidate
  * profiles select from the one sensitivity grid (the reference feeds
  * separate A/B grid directories per profile), and "fresh data" for the
  * rerun is the second half of the bar-ts span (the reference re-runs
  * against a newer input file) — same selection and drift semantics,
  * re-expressed over in-engine frames. Selection, rerun, and drift are
  * all plain DataFrame plans over the tiny scored-combo frame, so the
  * whole layer is DuckDB-oracle-checkable.
  */
object ProductionQueries extends QueryModule {

  /** Reference default selection floor (production-candidates-build
    * --min-trades); relaxes to 10 exactly like the reference when no
    * combo qualifies. */
  val MinTrades = 30

  /** Drift thresholds (ref config.py:438-442 CandidateRerunConfig),
    * resolved live through [[graft.Settings.candidateRerun]] — the
    * oracle SQL interpolates the same defs, so overrides stay
    * engine/oracle-consistent. */
  def ExpectancyDropPct: Double =
    graft.Settings.candidateRerun.expectancyDropPctFlag
  def PfDropPct: Double = graft.Settings.candidateRerun.pfDropPctFlag
  def RetCvIncreasePct: Double =
    graft.Settings.candidateRerun.retCvIncreasePctFlag
  def TradeCountDropPct: Double =
    graft.Settings.candidateRerun.tradeCountDropPctFlag

  private def prefixSql =
    s"""${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${BacktestQueries2.comboScoredSql()}"""

  /** Pack-selection CTEs over `combo_scored` → CTEs `elig` (with the
    * relaxed threshold as `used`) and `pack` (one row per candidate). */
  private def packSql = s"""
      elig0 AS (SELECT * FROM combo_scored WHERE trade_count > 0),
      thr AS (SELECT CASE WHEN max(CASE WHEN trade_count >= $MinTrades
                   THEN 1 ELSE 0 END) = 1
                 THEN $MinTrades ELSE 10 END AS used FROM elig0),
      elig AS (SELECT e.*, t.used FROM elig0 e CROSS JOIN thr t
               WHERE e.trade_count >= t.used),
      alpha AS (SELECT 'CANDIDATE_ALPHA' AS label, * FROM elig
                ORDER BY robustness_score_v2 DESC NULLS LAST,
                         expectancy DESC NULLS LAST,
                         profit_factor DESC NULLS LAST,
                         trade_count DESC, combo_id ASC LIMIT 1),
      execc AS (SELECT 'CANDIDATE_EXEC' AS label, * FROM elig
                ORDER BY profit_factor DESC NULLS LAST,
                         robustness_score_v2 DESC NULLS LAST,
                         ret_cv ASC NULLS LAST,
                         trade_count DESC, combo_id ASC LIMIT 1),
      pack AS (SELECT * FROM alpha UNION ALL SELECT * FROM execc)"""

  /** Selected candidate frame, cached: one row per candidate label with
    * the selection threshold actually used. Both profiles rank the same
    * scored-combo frame (8 rows), so selection is two window-rank picks —
    * no extra shuffles beyond the shared combo sims. */
  private[queries] def candidatePack(s: SparkSession,
      dir: String): DataFrame =
    Stage.cached(s, dir, "candidate_pack") {
      val cs = HybridQueries.runScored(s, dir, None)
      val elig0 = cs.filter(col("trade_count") > 0)
      // global any-combo-meets-MinTrades flag via a broadcast one-row
      // aggregate instead of an unpartitioned (single-task) window max
      val mx = elig0.agg(
        max(when(col("trade_count") >= MinTrades, 1).otherwise(0))
          .as("__mx"))
      val used = when(col("__mx") === 1, MinTrades).otherwise(10)
      val elig = elig0.crossJoin(broadcast(mx))
        .withColumn("used", used.cast("long"))
        .filter(col("trade_count") >= col("used")).drop("__mx")
      def pick(label: String, ord: Seq[Column]) =
        // best combo via a parallel TakeOrdered (orderBy+limit(1))
        // over the same total order — the retired row_number==1
        // filter ran a single-task unpartitioned window; the
        // surviving row is bit-identical
        elig.orderBy(ord: _*).limit(1)
          .withColumn("label", lit(label))
      val alpha = pick("CANDIDATE_ALPHA", Seq(
        col("robustness_score_v2").desc_nulls_last,
        col("expectancy").desc_nulls_last,
        col("profit_factor").desc_nulls_last,
        col("trade_count").desc, col("combo_id").asc))
      val exec = pick("CANDIDATE_EXEC", Seq(
        col("profit_factor").desc_nulls_last,
        col("robustness_score_v2").desc_nulls_last,
        col("ret_cv").asc_nulls_last,
        col("trade_count").desc, col("combo_id").asc))
      alpha.unionByName(exec)
    }

  /** Observed (fresh-window) metrics for the selected combos only: the
    * pack is a ≤2-row frame, so collecting its combo ids to prune the
    * sweep is a bounded action — at cluster scale this keeps the rerun
    * at 2 cells instead of the full grid, simulated as ONE keyed
    * simulation. An empty pack has no cells and returns no rows. */
  private def observedMetrics(s: SparkSession, dir: String,
      selected: Set[String]): DataFrame = {
    import s.implicits._
    val gram = BacktestQueries2.gramSlim(s, dir)
    val bounds = gram.agg(min("bar_ts"), max("bar_ts")).head
    val lo = bounds.getLong(0)
    // floor, matching the oracle's CAST(floor(...) AS BIGINT) — plain
    // toLong truncation and DuckDB's round-to-nearest BIGINT cast would
    // place an odd-span boundary bar on different sides
    val cut = lo + math.floor(0.5 * (bounds.getLong(1) - lo)).toLong
    val cells = Grid.cells(BacktestQueries2.GridCombos)
      .filter(c => selected(BacktestQueries2.comboId(c._2)))
    val trades =
      if (cells.isEmpty)
        s.emptyDataset[Engine.Trade].withColumn("cell", lit(""))
      else Grid.trades(cells)((m, cb) =>
        Signals.generate(gram, m, cb).filter(col("bar_ts") > cut))
    val byCell = trades.groupBy("cell").agg(
      count(lit(1)).as("trade_count"),
      round(avg("net_ret"), 9).as("observed_expectancy"),
      round(graft.ops.Cols.safeDiv(
        sum(when(col("net_ret") > 0, col("net_ret"))),
        abs(sum(when(!(col("net_ret") > 0), col("net_ret"))))), 6)
        .as("observed_profit_factor"),
      round(graft.ops.Cols.safeDiv(stddev_pop(col("net_ret")),
        abs(avg(col("net_ret")))), 6).as("observed_ret_cv"))
    Metrics.perCell(
        cells.map(c => (c._1, BacktestQueries2.comboId(c._2)))
          .toDF("cell", "combo_id"), byCell)
      .withColumnRenamed("trade_count", "observed_trades")
  }

  def all: Seq[Q] = Seq(

    // Production Candidate Pack v1: best alpha-profile and exec-profile
    // combos from the sensitivity grid, with the reference's eligibility
    // floor (trade_count >= 30, relaxed to 10) and exact ranking orders
    Q("q_candidate_pack", Some(s"""
      WITH RECURSIVE $prefixSql,
      $packSql
      SELECT label, combo_id, mode, confirm_bars, hold_bars, fee_bps,
             trade_count, expectancy, profit_factor, ret_cv,
             robustness_score_v2,
             trade_count = 0 AS zero_trade_combo,
             CAST(used AS BIGINT) AS selection_trade_threshold_used
      FROM pack ORDER BY label""")) { (s, dir) =>
      candidatePack(s, dir)
        .select(col("label"), col("combo_id"), col("mode"),
          col("confirm_bars"), col("hold_bars"), col("fee_bps"),
          col("trade_count"), col("expectancy"), col("profit_factor"),
          col("ret_cv"), col("robustness_score_v2"),
          (col("trade_count") === 0).as("zero_trade_combo"),
          col("used").as("selection_trade_threshold_used"))
        .orderBy("label")
    },

    // Candidate Re-run Pack v1: re-run each pack combo on the fresh
    // window (second half of the span), diff observed vs the pack's
    // expected-behavior snapshot, flag drift with the reference's
    // thresholds, and grade OK / DRIFT_WARN / DRIFT_FAIL
    Q("q_candidate_rerun", Some {
      val obsBlocks = BacktestQueries2.GridCombos.map { c =>
        s"""
        (WITH RECURSIVE
         ${Signals.sql(c.mode, c.confirmBars)},
         win AS (SELECT s.* FROM signals s, wb WHERE s.bar_ts > wb.cut),
         ${Engine.tradesSql(Engine.Config(c.holdBars, c.feeBps),
            src = "win")}
         SELECT '${BacktestQueries2.comboId(c)}' AS combo_id,
                count(*) AS observed_trades,
                round(avg(net_ret), 9) AS observed_expectancy,
                round(CASE WHEN abs(sum(CASE WHEN NOT (net_ret > 0)
                    THEN net_ret END)) > 0.000000000001
                  THEN sum(CASE WHEN net_ret > 0 THEN net_ret END)
                    / abs(sum(CASE WHEN NOT (net_ret > 0)
                        THEN net_ret END)) END, 6)
                  AS observed_profit_factor,
                round(CASE WHEN abs(avg(net_ret)) > 0.000000000001
                  THEN stddev_pop(net_ret) / abs(avg(net_ret)) END, 6)
                  AS observed_ret_cv
         FROM trades)"""
      }
      s"""
      WITH RECURSIVE $prefixSql,
      $packSql,
      wb AS (SELECT min(bar_ts) + CAST(floor(0.5 * (max(bar_ts)
               - min(bar_ts))) AS BIGINT) AS cut FROM grammar),
      obs AS (${obsBlocks.mkString(" UNION ALL ")}),
      j AS (
        SELECT p.label, p.combo_id,
               p.expectancy AS expected_expectancy,
               p.profit_factor AS expected_profit_factor,
               p.ret_cv AS expected_ret_cv,
               p.trade_count AS expected_trades,
               o.observed_trades, o.observed_expectancy,
               o.observed_profit_factor, o.observed_ret_cv
        FROM pack p JOIN obs o USING (combo_id)),
      d AS (
        SELECT *,
          round(CASE WHEN expected_expectancy IS NOT NULL
              AND observed_expectancy IS NOT NULL
            THEN (observed_expectancy - expected_expectancy)
              / greatest(abs(expected_expectancy), 1e-12) END, 6)
            AS delta_expectancy_pct,
          round(CASE WHEN expected_profit_factor IS NOT NULL
              AND observed_profit_factor IS NOT NULL
            THEN (observed_profit_factor - expected_profit_factor)
              / greatest(abs(expected_profit_factor), 1e-12) END, 6)
            AS delta_profit_factor_pct,
          round(CASE WHEN expected_ret_cv IS NOT NULL
              AND observed_ret_cv IS NOT NULL
            THEN (observed_ret_cv - expected_ret_cv)
              / greatest(abs(expected_ret_cv), 1e-12) END, 6)
            AS delta_ret_cv_pct,
          round((CAST(observed_trades AS DOUBLE) - expected_trades)
              / greatest(abs(CAST(expected_trades AS DOUBLE)), 1e-12), 6)
            AS delta_trade_count_pct
        FROM j),
      f AS (
        SELECT *,
          observed_trades <= 0 AS zero_trade_observed,
          coalesce(delta_expectancy_pct < -$ExpectancyDropPct, false)
            AS f_exp,
          coalesce(delta_profit_factor_pct < -$PfDropPct, false) AS f_pf,
          coalesce(delta_ret_cv_pct > $RetCvIncreasePct, false) AS f_cv,
          coalesce(delta_trade_count_pct < -$TradeCountDropPct, false)
            AS f_tc
        FROM d),
      g AS (
        SELECT *,
          CAST((CASE WHEN zero_trade_observed THEN 1 ELSE 0 END)
            + (CASE WHEN f_exp THEN 1 ELSE 0 END)
            + (CASE WHEN f_pf THEN 1 ELSE 0 END)
            + (CASE WHEN f_cv THEN 1 ELSE 0 END)
            + (CASE WHEN f_tc THEN 1 ELSE 0 END) AS BIGINT) AS n_flags
        FROM f)
      SELECT label, combo_id,
             expected_expectancy, observed_expectancy,
             delta_expectancy_pct,
             expected_profit_factor, observed_profit_factor,
             delta_profit_factor_pct,
             expected_ret_cv, observed_ret_cv, delta_ret_cv_pct,
             CAST(expected_trades AS BIGINT) AS expected_trades,
             CAST(observed_trades AS BIGINT) AS observed_trades,
             delta_trade_count_pct,
             concat_ws(',',
               CASE WHEN zero_trade_observed THEN 'zero_trade_observed' END,
               CASE WHEN f_exp THEN 'expectancy_drop' END,
               CASE WHEN f_pf THEN 'profit_factor_drop' END,
               CASE WHEN f_cv THEN 'ret_cv_increase' END,
               CASE WHEN f_tc THEN 'trade_count_drop' END) AS flags,
             n_flags,
             CASE WHEN zero_trade_observed OR n_flags >= 2
                  THEN 'DRIFT_FAIL'
                  WHEN n_flags = 1 THEN 'DRIFT_WARN'
                  ELSE 'OK' END AS drift_status
      FROM g ORDER BY label"""
    }) { (s, dir) =>
      val pack = candidatePack(s, dir)
      val selected = pack.select("combo_id").distinct().collect()
        .map(_.getString(0)).toSet
      val obs = observedMetrics(s, dir, selected)
      def pctDelta(exp: Column, obs: Column): Column =
        round(when(exp.isNotNull && obs.isNotNull,
          (obs - exp) / greatest(abs(exp), lit(1e-12))), 6)
      val j = pack.select(col("label"), col("combo_id"),
          col("expectancy").as("expected_expectancy"),
          col("profit_factor").as("expected_profit_factor"),
          col("ret_cv").as("expected_ret_cv"),
          col("trade_count").as("expected_trades"))
        .join(obs, Seq("combo_id"))
      val d = j
        .withColumn("delta_expectancy_pct",
          pctDelta(col("expected_expectancy"), col("observed_expectancy")))
        .withColumn("delta_profit_factor_pct",
          pctDelta(col("expected_profit_factor"),
            col("observed_profit_factor")))
        .withColumn("delta_ret_cv_pct",
          pctDelta(col("expected_ret_cv"), col("observed_ret_cv")))
        .withColumn("delta_trade_count_pct",
          round((col("observed_trades").cast("double")
            - col("expected_trades"))
            / greatest(abs(col("expected_trades").cast("double")),
              lit(1e-12)), 6))
      val f = d
        .withColumn("zero_trade_observed", col("observed_trades") <= 0)
        .withColumn("f_exp", coalesce(
          col("delta_expectancy_pct") < -ExpectancyDropPct, lit(false)))
        .withColumn("f_pf", coalesce(
          col("delta_profit_factor_pct") < -PfDropPct, lit(false)))
        .withColumn("f_cv", coalesce(
          col("delta_ret_cv_pct") > RetCvIncreasePct, lit(false)))
        .withColumn("f_tc", coalesce(
          col("delta_trade_count_pct") < -TradeCountDropPct, lit(false)))
        .withColumn("n_flags",
          (col("zero_trade_observed").cast("long")
            + col("f_exp").cast("long") + col("f_pf").cast("long")
            + col("f_cv").cast("long") + col("f_tc").cast("long")))
      f.select(col("label"), col("combo_id"),
          col("expected_expectancy"), col("observed_expectancy"),
          col("delta_expectancy_pct"),
          col("expected_profit_factor"), col("observed_profit_factor"),
          col("delta_profit_factor_pct"),
          col("expected_ret_cv"), col("observed_ret_cv"),
          col("delta_ret_cv_pct"),
          col("expected_trades").cast("long").as("expected_trades"),
          col("observed_trades").cast("long").as("observed_trades"),
          col("delta_trade_count_pct"),
          concat_ws(",",
            when(col("zero_trade_observed"), "zero_trade_observed"),
            when(col("f_exp"), "expectancy_drop"),
            when(col("f_pf"), "profit_factor_drop"),
            when(col("f_cv"), "ret_cv_increase"),
            when(col("f_tc"), "trade_count_drop")).as("flags"),
          col("n_flags"),
          when(col("zero_trade_observed") || col("n_flags") >= 2,
            "DRIFT_FAIL")
            .when(col("n_flags") === 1, "DRIFT_WARN")
            .otherwise("OK").as("drift_status"))
        .orderBy("label")
    }
  )
}
