package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.backtest.{Engine, Grid, Metrics, Signals}
import graft.etl.{EventGrammar, Indicators, MarketData}
import graft.ops.Cols

/** Backtest analytics extensions: trade-edge metrics (M12), rank-blend
  * robustness scoring (M13), symbol-master rollup, walk-forward, and the
  * sensitivity grid (all 8 combos as one keyed simulation, shared with
  * the robustness and candidate family).
  */
object BacktestQueries2 extends QueryModule {

  private val Default = Grid.Default

  /** Grid combos shared by the Spark runner and the per-combo oracle. */
  val GridCombos: Seq[Grid.Combo] =
    Grid.combos(Seq("state_entry", "state_transition_entry"),
      Seq(1, 2), Seq(5, 10), Seq(5.0))

  private[queries] def gramSlim(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    Stage.cached(s, dir, "grammar_slim") {
      EventGrammar.build(Indicators.twiggs(
        MarketData.barsFromEvents(t(s, dir, "events"))))
        .select("ticker", "bar_ts", "bar_id", "open", "high", "low",
          "close", "flow_state_code")
    }

  /** The default combo's trades through the one-cell simulation, cached
    * — the single-combo consumers (trades, summaries, portfolio, edge,
    * robustness, the sanity audit) read only this one sim. */
  private[queries] def defaultTrades(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Stage.cached(s, dir, "trades_default") {
      Engine.simulate(
        Signals.generate(gramSlim(s, dir), Default.mode, Default.confirmBars),
        Default.config).toDF()
    }

  private def chain: String =
    s"""${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${Signals.sql(Default.mode, Default.confirmBars)},
      ${Engine.tradesSql(Default.config)}"""

  /** Portable combo id — also the candidate pack's selection tiebreak. */
  private[queries] def comboId(c: Grid.Combo): String =
    s"${c.mode}_c${c.confirmBars}_h${c.holdBars}_f${c.feeBps.toInt}"

  /** Oracle CTE chain for the scored combo frame (ends in CTE
    * `combo_scored`): per-combo metrics → stable rank-to-[0,1] scores →
    * v1/v2 robustness, all output columns rounded. Prefix with the
    * bars/twiggs/grammar chain. Shared by q_bt_robustness_v2 and the
    * production candidate pack.
    *
    * `entryGate` (hybrid-eval runs): SQL boolean over a LEFT-joined
    * policy row `p` (CTE `pol` must exist upstream) AND'ed into
    * entry_signal before simulation; None = ungated baseline. `cteName`
    * renames the final CTE so several gated variants can coexist in one
    * WITH chain. */
  private[queries] def comboScoredSql(entryGate: Option[String] = None,
      cteName: String = "combo_scored"): String = {
    val per = GridCombos.zipWithIndex.map { case (c, i) =>
      val gateCtes = entryGate.map(g => s"""
         gated AS (
           SELECT s.* REPLACE ((s.entry_signal AND $g) AS entry_signal)
           FROM signals s LEFT JOIN pol p
             ON s.ticker = p.ticker AND s.bar_ts = p.bar_ts
               AND s.bar_id = p.bar_id),""").getOrElse("")
      val src = if (entryGate.isDefined) "gated" else "signals"
      s"""
        (WITH RECURSIVE
         ${Signals.sql(c.mode, c.confirmBars)},$gateCtes
         ${Engine.tradesSql(Engine.Config(c.holdBars, c.feeBps),
            src = src)},
         ${Metrics.portfolioSql},
         m AS (
           SELECT count(*) AS trade_count,
                  avg(net_ret) AS expectancy,
                  CASE WHEN abs(sum(CASE WHEN NOT (net_ret > 0)
                      THEN net_ret END)) > 0.000000000001
                    THEN sum(CASE WHEN net_ret > 0 THEN net_ret END)
                      / abs(sum(CASE WHEN NOT (net_ret > 0)
                          THEN net_ret END)) END AS profit_factor,
                  stddev_pop(net_ret) AS return_std,
                  stddev_pop(CASE WHEN net_ret < 0 THEN net_ret END)
                    AS downside_std,
                  CASE WHEN abs(avg(net_ret)) > 0.000000000001
                    THEN stddev_pop(net_ret) / abs(avg(net_ret)) END
                    AS ret_cv
           FROM trades),
         dd AS (SELECT min(drawdown) AS max_drawdown FROM portfolio)
         SELECT $i AS combo_idx, '${c.mode}' AS mode,
                ${c.confirmBars} AS confirm_bars,
                ${c.holdBars} AS hold_bars,
                CAST(${c.feeBps} AS DOUBLE) AS fee_bps,
                '${comboId(c)}' AS combo_id,
                m.*, dd.max_drawdown
         FROM m CROSS JOIN dd)"""
    }
    val p = if (cteName == "combo_scored") "" else s"${cteName}_"
    s"""${p}combos AS (${per.mkString(" UNION ALL ")}),
         ${rankScoreTailSql(p, cteName)}"""
  }

  /** The ranked→scored→v1s→final tail of the robustness chain, over an
    * existing `${p}combos` CTE. `part`: extra grouping columns (e.g.
    * split_idx, is_hybrid) — every ranking window partitions by them and
    * they are carried into the final select, so one chain scores many
    * independent grids at once. */
  private[queries] def rankScoreTailSql(p: String, cteName: String,
      part: Seq[String] = Nil): String = {
    val over0 =
      if (part.isEmpty) "OVER ()"
      else s"OVER (PARTITION BY ${part.mkString(", ")})"
    val pb = if (part.isEmpty) "" else s"PARTITION BY ${part.mkString(", ")} "
    val carry = part.map(c => s"$c, ").mkString
    s"""${p}ranked AS (
           SELECT *,
             count(expectancy) $over0 AS nv_exp,
             row_number() OVER (${pb}ORDER BY expectancy DESC NULLS LAST,
               combo_idx) AS r_exp,
             count(profit_factor) $over0 AS nv_pf,
             row_number() OVER (${pb}ORDER BY profit_factor DESC NULLS LAST,
               combo_idx) AS r_pf,
             count(max_drawdown) $over0 AS nv_dd,
             row_number() OVER (${pb}ORDER BY abs(max_drawdown) ASC NULLS
               LAST, combo_idx) AS r_dd,
             count(return_std) $over0 AS nv_std,
             row_number() OVER (${pb}ORDER BY return_std ASC NULLS LAST,
               combo_idx) AS r_std,
             count(ret_cv) $over0 AS nv_cv,
             row_number() OVER (${pb}ORDER BY ret_cv ASC NULLS LAST,
               combo_idx) AS r_cv,
             count(downside_std) $over0 AS nv_tail,
             row_number() OVER (${pb}ORDER BY downside_std ASC NULLS LAST,
               combo_idx) AS r_tail,
             count(fee_bps) $over0 AS nv_cost,
             row_number() OVER (${pb}ORDER BY fee_bps ASC NULLS LAST,
               combo_idx) AS r_cost
           FROM ${p}combos),
         ${p}scored AS (
           SELECT *,
             CASE WHEN expectancy IS NULL THEN 0.0 ELSE
               1 - CAST(r_exp - 1 AS DOUBLE)
                 / greatest(nv_exp - 1, 1) END AS s_exp,
             CASE WHEN profit_factor IS NULL THEN 0.0 ELSE
               1 - CAST(r_pf - 1 AS DOUBLE)
                 / greatest(nv_pf - 1, 1) END AS s_pf,
             CASE WHEN max_drawdown IS NULL THEN 0.0 ELSE
               1 - CAST(r_dd - 1 AS DOUBLE)
                 / greatest(nv_dd - 1, 1) END AS s_dd,
             CASE WHEN return_std IS NULL THEN 0.0 ELSE
               1 - CAST(r_std - 1 AS DOUBLE)
                 / greatest(nv_std - 1, 1) END AS s_std,
             CASE WHEN ret_cv IS NULL THEN 0.0 ELSE
               1 - CAST(r_cv - 1 AS DOUBLE)
                 / greatest(nv_cv - 1, 1) END AS s_cv,
             CASE WHEN downside_std IS NULL THEN 0.0 ELSE
               1 - CAST(r_tail - 1 AS DOUBLE)
                 / greatest(nv_tail - 1, 1) END AS s_tail,
             CASE WHEN fee_bps IS NULL THEN 0.0 ELSE
               1 - CAST(r_cost - 1 AS DOUBLE)
                 / greatest(nv_cost - 1, 1) END AS s_cost,
             0.7 * least(CAST(trade_count AS DOUBLE) / 100.0, 1.0)
               + 0.3 AS s_hyg
           FROM ${p}ranked),
         ${p}v1s AS (
           SELECT *,
             100.0 * (0.30 * s_exp + 0.20 * s_pf + 0.20 * s_dd
               + 0.15 * s_std + 0.10 * s_cost + 0.05 * s_hyg) AS v1_raw
           FROM ${p}scored),
         $cteName AS (
           SELECT ${carry}combo_idx, combo_id, mode, confirm_bars,
                hold_bars, fee_bps, trade_count,
                round(expectancy, 9) AS expectancy,
                round(profit_factor, 6) AS profit_factor,
                round(ret_cv, 6) AS ret_cv,
                round(downside_std, 9) AS downside_std,
                round(max_drawdown, 9) AS max_drawdown,
                round(greatest(least(v1_raw, 100.0), 0.0), 6)
                  AS robustness_score_v1,
                round(greatest(least(
                  0.70 * greatest(least(v1_raw, 100.0), 0.0)
                    + 15.0 * s_cv + 10.0 * s_tail + 5.0 * s_cost
                    - CASE WHEN trade_count = 0 THEN 20.0 ELSE 0.0 END,
                  100.0), 0.0), 6) AS robustness_score_v2
           FROM ${p}v1s)"""
  }

  /** The grid's cell metadata: one row per combo, `cell` = its index. */
  private[queries] def gridCells(s: org.apache.spark.sql.SparkSession) =
    s.createDataFrame(Grid.cells(GridCombos).map { case (ci, c) =>
        (ci, ci.toInt, comboId(c), c.mode, c.confirmBars, c.holdBars,
          c.feeBps) })
      .toDF("cell", "combo_idx", "combo_id", "mode", "confirm_bars",
        "hold_bars", "fee_bps")

  /** Per-cell combo metrics (trade stats ⨯ equity max drawdown — the `m`
    * and `dd` blocks of the oracle) over a keyed trade frame: two
    * distributed jobs for any number of cells (one grouped aggregate, one
    * keyed prefix scan). `cells` carries one row per expected cell plus
    * its metadata columns; a cell without trades keeps trade_count = 0
    * with null metrics (Metrics.perCell). */
  private[queries] def comboMetrics(
      trades: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val m = trades.groupBy("cell").agg(
      count(lit(1)).as("trade_count"),
      avg("net_ret").as("expectancy"),
      Cols.safeDiv(sum(when(col("net_ret") > 0, col("net_ret"))),
        abs(sum(when(!(col("net_ret") > 0), col("net_ret")))))
        .as("profit_factor"),
      stddev_pop(col("net_ret")).as("return_std"),
      stddev_pop(when(col("net_ret") < 0, col("net_ret")))
        .as("downside_std"),
      Cols.safeDiv(stddev_pop(col("net_ret")),
        abs(avg(col("net_ret")))).as("ret_cv"))
    Metrics.perCell(cells,
      m.join(Metrics.maxDrawdownByCell(trades), Seq("cell"), "left"))
  }

  /** Rank-to-[0,1] v1/v2 robustness scoring over a combo metric frame —
    * the Spark twin of the oracle's ranked→scored→v1s chain. The frame
    * is grid-sized (8 rows per group), so the ranking windows are
    * trivially bounded. `partCols`: extra grouping columns (e.g.
    * split_idx, is_hybrid) — ranks run within each group and the
    * columns are carried through, so one call scores many independent
    * grids. */
  private[queries] def scoreCombos(all: org.apache.spark.sql.DataFrame,
      partCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val W = Window.partitionBy(partCols.map(col): _*)
    def score(c: org.apache.spark.sql.Column, desc: Boolean) = {
      val ord = if (desc) Seq(c.desc_nulls_last, col("combo_idx"))
        else Seq(c.asc_nulls_last, col("combo_idx"))
      val rn = row_number().over(
        Window.partitionBy(partCols.map(col): _*).orderBy(ord: _*))
      val nv = count(c).over(W)
      when(c.isNull, 0.0).otherwise(
        lit(1) - (rn - 1).cast("double") / greatest(nv - 1, lit(1)))
    }
    val scored = all
      .withColumn("s_exp", score(col("expectancy"), desc = true))
      .withColumn("s_pf", score(col("profit_factor"), desc = true))
      .withColumn("s_dd", score(abs(col("max_drawdown")), desc = false))
      .withColumn("s_std", score(col("return_std"), desc = false))
      .withColumn("s_cv", score(col("ret_cv"), desc = false))
      .withColumn("s_tail", score(col("downside_std"), desc = false))
      .withColumn("s_cost", score(col("fee_bps"), desc = false))
      .withColumn("s_hyg",
        lit(0.7) * least(col("trade_count").cast("double") / 100.0,
          lit(1.0)) + 0.3)
      .withColumn("v1_raw", lit(100.0) * (lit(0.30) * col("s_exp")
        + lit(0.20) * col("s_pf") + lit(0.20) * col("s_dd")
        + lit(0.15) * col("s_std") + lit(0.10) * col("s_cost")
        + lit(0.05) * col("s_hyg")))
      .withColumn("v1", greatest(least(col("v1_raw"), lit(100.0)),
        lit(0.0)))
    scored.select(partCols.map(col) ++ Seq(
      col("combo_idx"), col("combo_id"), col("mode"),
      col("confirm_bars"), col("hold_bars"), col("fee_bps"),
      col("trade_count"),
      round(col("expectancy"), 9).as("expectancy"),
      round(col("profit_factor"), 6).as("profit_factor"),
      round(col("ret_cv"), 6).as("ret_cv"),
      round(col("downside_std"), 9).as("downside_std"),
      round(col("max_drawdown"), 9).as("max_drawdown"),
      round(col("v1"), 6).as("robustness_score_v1"),
      round(greatest(least(lit(0.70) * col("v1")
        + lit(15.0) * col("s_cv") + lit(10.0) * col("s_tail")
        + lit(5.0) * col("s_cost")
        - when(col("trade_count") === 0, 20.0).otherwise(0.0),
        lit(100.0)), lit(0.0)), 6).as("robustness_score_v2")): _*)
  }

  def all: Seq[Q] = Seq(

    // M12: per-symbol trade-edge metrics battery
    Q("q_bt_edge", Some(s"""
      WITH RECURSIVE $chain,
      nb AS (SELECT ticker, count(*) AS n_bars FROM signals GROUP BY 1)
      SELECT t.ticker,
             count(*) AS n_trades,
             round(avg(t.net_ret), 9) AS mean_ret,
             round(CASE WHEN abs(avg(t.net_ret)) > 0.000000000001
               THEN stddev_pop(t.net_ret) / abs(avg(t.net_ret)) END, 6)
               AS ret_cv,
             round(quantile_cont(t.net_ret, 0.1), 6) AS p10_ret,
             round(quantile_cont(t.net_ret, 0.9), 6) AS p90_ret,
             round(CASE WHEN count(CASE WHEN t.net_ret < 0 THEN 1 END) > 0
               THEN sqrt(CAST(SUM(CASE WHEN t.net_ret < 0
                 THEN t.net_ret * t.net_ret ELSE 0 END) AS DOUBLE)
                 / count(CASE WHEN t.net_ret < 0 THEN 1 END)) END, 6)
               AS downside_std,
             round(min(t.net_ret), 9) AS worst,
             round(max(t.net_ret), 9) AS best,
             round(CAST(count(*) AS DOUBLE) * 1000
               / any_value(nb.n_bars), 6) AS trades_per_1000_rows
      FROM trades t JOIN nb ON t.ticker = nb.ticker
      GROUP BY t.ticker ORDER BY t.ticker""")) { (s, dir) =>
      val trades = defaultTrades(s, dir)
      // signals are 1:1 with grammar rows, so the bar-count side table
      // reads the cached slim grammar stage instead of rebuilding the
      // indicators→grammar→signals chain
      val nb = gramSlim(s, dir).groupBy("ticker")
        .agg(count(lit(1)).as("n_bars"))
      val neg = col("net_ret") < 0
      trades.join(nb, Seq("ticker"))
        .groupBy("ticker")
        .agg(count(lit(1)).as("n_trades"),
          round(avg("net_ret"), 9).as("mean_ret"),
          round(Cols.safeDiv(stddev_pop(col("net_ret")),
            abs(avg(col("net_ret")))), 6).as("ret_cv"),
          round(percentile(col("net_ret"), lit(0.1)), 6).as("p10_ret"),
          round(percentile(col("net_ret"), lit(0.9)), 6).as("p90_ret"),
          round(when(Cols.countIf(neg) > 0,
            sqrt(sum(when(neg, col("net_ret") * col("net_ret"))
              .otherwise(0.0)).cast("double") / Cols.countIf(neg))), 6)
            .as("downside_std"),
          round(min("net_ret"), 9).as("worst"),
          round(max("net_ret"), 9).as("best"),
          round(count(lit(1)).cast("double") * 1000 / first(col("n_bars")),
            6).as("trades_per_1000_rows"))
        .orderBy("ticker")
    },

    // M13: robustness score — rank-normalized weighted blend over the
    // per-symbol metric table (expectancy .4, downside .3, activity .3)
    Q("q_bt_robustness", Some(s"""
      WITH RECURSIVE $chain,
      m AS (
        SELECT ticker, count(*) AS n_trades, avg(net_ret) AS expectancy,
               coalesce(stddev_pop(CASE WHEN net_ret < 0 THEN net_ret END),
                 0.0) AS downside
        FROM trades GROUP BY 1),
      r AS (
        SELECT ticker, n_trades,
               percent_rank() OVER (ORDER BY expectancy) AS pr_exp,
               percent_rank() OVER (ORDER BY downside DESC) AS pr_down,
               percent_rank() OVER (ORDER BY n_trades) AS pr_act
        FROM m)
      SELECT ticker, n_trades,
             round(greatest(least(100 * (0.4 * pr_exp + 0.3 * pr_down
               + 0.3 * pr_act), 100.0), 0.0), 6) AS robustness
      FROM r ORDER BY ticker""")) { (s, dir) =>
      val m = defaultTrades(s, dir).groupBy("ticker")
        .agg(count(lit(1)).as("n_trades"),
          avg("net_ret").as("expectancy"),
          coalesce(stddev_pop(when(col("net_ret") < 0, col("net_ret"))),
            lit(0.0)).as("downside"))
      // global percent_ranks WITHOUT the single-task unpartitioned
      // window (Wins.boundedRanks: broadcast rank join over the
      // ≤k-ticker metric table — same integer operands into the same
      // double division, bit-identical)
      val r = graft.ops.Wins.boundedRanks(
        graft.ops.Wins.boundedRanks(
          graft.ops.Wins.boundedRanks(m,
            Seq((col("expectancy"), true)), outPct = Some("pr_exp")),
          Seq((col("downside"), false)), outPct = Some("pr_down")),
        Seq((col("n_trades"), true)), outPct = Some("pr_act"))
      r.select(col("ticker"), col("n_trades"),
          round(Cols.clip(lit(100) * (lit(0.4) * col("pr_exp")
            + lit(0.3) * col("pr_down") + lit(0.3) * col("pr_act")),
            0.0, 100.0), 6).as("robustness"))
        .orderBy("ticker")
    },

    // M13 v1/v2 robustness over the sensitivity grid (ref
    // backtest/sensitivity_aggregate.py:21-143): per-combo metric table
    // (expectancy, PF, equity-curve max drawdown, return/downside stds,
    // ret CV, cost, hygiene) → stable rank-to-[0,1] scores (ties break
    // by combo index, like the reference's stable sort) → v1 weighted
    // blend (.30/.20/.20/.15/.10/.05) and v2 fragility adjustment
    // (0.70·v1 + 15·retcv + 10·tail + 5·cost − 20·zero-trade), clip
    // 0-100. Slippage is 0 here, so cost = fee_bps; nan warnings are 0.
    Q("q_bt_robustness_v2", Some(s"""
      WITH RECURSIVE ${MarketData.barsSql},
         ${Indicators.twiggsSql},
         ${EventGrammar.grammarSql},
         ${BacktestQueries2.comboScoredSql()}
         SELECT mode, confirm_bars, hold_bars, fee_bps, trade_count,
                expectancy, profit_factor, max_drawdown,
                robustness_score_v1, robustness_score_v2
         FROM combo_scored
         ORDER BY mode, confirm_bars, hold_bars""")) { (s, dir) =>
      HybridQueries.runScored(s, dir, None)
        .select("mode", "confirm_bars", "hold_bars", "fee_bps",
          "trade_count", "expectancy", "profit_factor", "max_drawdown",
          "robustness_score_v1", "robustness_score_v2")
        .orderBy("mode", "confirm_bars", "hold_bars")
    },

    // Symbol master rollup (ref: src/mf_etl/bronze/symbol_master.py)
    Q("q_symbol_master", Some(s"""
      WITH ${MarketData.barsSql}
      SELECT ticker, count(*) AS n_bars,
             min(bar_ts) AS first_ts, max(bar_ts) AS max_ts,
             round(CAST(SUM(CAST(close AS DECIMAL(18,2))) AS DOUBLE)
               / count(close), 9) AS avg_close,
             round(min(close), 9) AS min_close,
             round(max(close), 9) AS max_close,
             CAST(SUM(CAST(volume AS DECIMAL(18,2))) AS DOUBLE)
               AS total_volume
      FROM bars GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      MarketData.barsFromEvents(t(s, dir, "events"))
        .groupBy("ticker")
        .agg(count(lit(1)).as("n_bars"),
          min("bar_ts").as("first_ts"), max("bar_ts").as("max_ts"),
          round(Cols.moneyAvg(col("close")), 9).as("avg_close"),
          round(min("close"), 9).as("min_close"),
          round(max("close"), 9).as("max_close"),
          Cols.moneySum(col("volume")).as("total_volume"))
        .orderBy("ticker")
    },

    // Walk-forward: rolling test windows over the causal state frame.
    // Oracle: one recursive-CTE sim per split over the window-filtered
    // signal frame (split bounds derived from the data in SQL exactly
    // like WalkForward.splits' integer arithmetic), UNION'd.
    Q("q_bt_walk_forward", Some {
      // shared chain hoisted to top level ONCE: DuckDB merges the window
      // scopes of WITH RECURSIVE union branches, so the chain's WINDOW w
      // may appear only once; branches hold just the per-split recursion
      val nWf = graft.Settings.walkForward.nSplits
      val splits = (0 until nWf).map { i =>
        val endExpr = if (i == nWf - 1) "hi" else s"lo + ${i + 1} * step"
        val whereEnd =
          if (i == nWf - 1) "wb.hi"
          else s"wb.lo + ${i + 1} * wb.step"
        s"""
        (WITH RECURSIVE
         win AS (
           SELECT s.* FROM signals s, wb
           WHERE s.bar_ts > wb.lo + $i * wb.step
             AND s.bar_ts <= $whereEnd),
         ${Engine.tradesSql(Default.config, src = "win")},
         ${Metrics.summarySql(Seq.empty)}
         SELECT $i AS split_idx,
                (SELECT lo + $i * step FROM wb) AS test_start_ts,
                (SELECT $endExpr FROM wb) AS test_end_ts,
                n_trades, win_rate, expectancy
         FROM summary)"""
      }
      s"""WITH RECURSIVE ${MarketData.barsSql},
         ${Indicators.twiggsSql},
         ${EventGrammar.grammarSql},
         ${Signals.sql(Default.mode, Default.confirmBars)},
         wb AS (SELECT min(bar_ts) AS lo, max(bar_ts) AS hi,
                       (max(bar_ts) - min(bar_ts)) // $nWf AS step
                FROM signals)
         SELECT * FROM (${splits.mkString(" UNION ALL ")})
         ORDER BY split_idx"""
    }) { (s, dir) =>
      import graft.backtest.WalkForward
      // slim cached projection: the split cells share one chain computation
      val sig = Stage.slimSignals(s, dir)
      val bounds = sig.agg(min("bar_ts"), max("bar_ts")).head
      val ss = WalkForward.splits(bounds.getLong(0), bounds.getLong(1),
        graft.Settings.walkForward.nSplits)
      WalkForward.run(sig, ss, Default.config)
        .select(col("split_idx"), col("test_start_ts"), col("test_end_ts"),
          col("n_trades"), col("win_rate"), col("expectancy"))
        .orderBy("split_idx")
    },

    // Sensitivity grid: every combo is one cell of the shared keyed grid
    // simulation (caps mirror the reference's 500). Oracle: one
    // recursive-CTE sim per combo, UNION'd.
    Q("q_bt_grid", Some {
      // chain hoisted once (see q_bt_walk_forward note); per-combo
      // branches carry their own signals + sim recursions
      val per = BacktestQueries2.GridCombos.map { c =>
        s"""
        (WITH RECURSIVE
         ${Signals.sql(c.mode, c.confirmBars)},
         ${Engine.tradesSql(Engine.Config(c.holdBars, c.feeBps))},
         ${Metrics.summarySql(Seq.empty)}
         SELECT '${c.mode}' AS mode, ${c.confirmBars} AS confirm_bars,
                ${c.holdBars} AS hold_bars,
                CAST(${c.feeBps} AS DOUBLE) AS fee_bps,
                n_trades, win_rate, expectancy, profit_factor
         FROM summary)"""
      }
      s"""WITH RECURSIVE ${MarketData.barsSql},
         ${Indicators.twiggsSql},
         ${EventGrammar.grammarSql}
         SELECT * FROM (${per.mkString(" UNION ALL ")})
         ORDER BY mode, confirm_bars, hold_bars"""
    }) { (s, dir) =>
      Grid.summarize(HybridQueries.gridTrades(s, dir, None),
          Grid.cells(GridCombos))
        .select(col("mode"), col("confirm_bars"), col("hold_bars"),
          col("fee_bps"), col("n_trades"), col("win_rate"),
          col("expectancy"), col("profit_factor"))
        .orderBy("mode", "confirm_bars", "hold_bars")
    }
  )
}
