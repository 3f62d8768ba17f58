package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.backtest.{Engine, Metrics, Signals}
import graft.etl.{EventGrammar, Indicators, MarketData}

/** Backtest surface (SURVEY §2.8 Q1/Q2 + §2.9 M12-M15): signal state
  * machine, trade simulator, trade summaries, portfolio equity curve — the
  * full pipeline bars → indicators → grammar → signals → trades → metrics,
  * each stage oracle-checked (the simulator against a recursive CTE
  * implementing the identical per-bar contract).
  */
object BacktestQueries extends QueryModule {

  private val Default = graft.backtest.Grid.Default

  // signals stay uncached (wide frame; pruning beats reuse) — only the
  // small trades result is stage-cached below
  private def signalsDf(s: SparkSession, dir: String): DataFrame =
    Signals.generate(
      EventGrammar.build(Indicators.twiggs(
        MarketData.barsFromEvents(t(s, dir, "events")))),
      Default.mode, Default.confirmBars)

  /** Shared oracle prelude: bars → twiggs recursion → grammar → signals. */
  private def chain: String =
    s"""${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${Signals.sql(Default.mode, Default.confirmBars)}"""

  def all: Seq[Q] = Seq(

    Q("q_bt_signals", Some(s"""
      WITH RECURSIVE $chain
      SELECT ticker, bar_ts, bar_id, flow_state_code, side,
             signal_eligible, state_streak, entry_signal, signal_side
      FROM signals ORDER BY ticker, bar_ts, bar_id""")) { (s, dir) =>
      signalsDf(s, dir)
        .select("ticker", "bar_ts", "bar_id", "flow_state_code", "side",
          "signal_eligible", "state_streak", "entry_signal", "signal_side")
        .orderBy("ticker", "bar_ts", "bar_id")
    },

    Q("q_bt_trades", Some(s"""
      WITH RECURSIVE $chain,
      ${Engine.tradesSql(Default.config)}
      SELECT ticker, pos_seq, side, entry_rn, exit_rn, entry_ts, exit_ts,
             entry_price, exit_price, exit_reason, hold_bars,
             round(gross_ret, 9) AS gross_ret, round(net_ret, 9) AS net_ret,
             round(mfe, 9) AS mfe, round(mae, 9) AS mae
      FROM trades ORDER BY ticker, pos_seq""")) { (s, dir) =>
      BacktestQueries2.defaultTrades(s, dir)
        .select(col("ticker"), col("pos_seq"), col("side"), col("entry_rn"),
          col("exit_rn"), col("entry_ts"), col("exit_ts"),
          col("entry_price"), col("exit_price"), col("exit_reason"),
          col("hold_bars"),
          round(col("gross_ret"), 9).as("gross_ret"),
          round(col("net_ret"), 9).as("net_ret"),
          round(col("mfe"), 9).as("mfe"), round(col("mae"), 9).as("mae"))
        .orderBy("ticker", "pos_seq")
    },

    Q("q_bt_summary", Some(s"""
      WITH RECURSIVE $chain,
      ${Engine.tradesSql(Default.config)},
      ${Metrics.summarySql(Seq.empty)}
      SELECT * FROM summary""")) { (s, dir) =>
      Metrics.summary(BacktestQueries2.defaultTrades(s, dir), Seq.empty)
    },

    Q("q_bt_summary_by_symbol", Some(s"""
      WITH RECURSIVE $chain,
      ${Engine.tradesSql(Default.config)},
      ${Metrics.summarySql(Seq("ticker"))}
      SELECT * FROM summary ORDER BY ticker""")) { (s, dir) =>
      Metrics.summary(BacktestQueries2.defaultTrades(s, dir), Seq("ticker"))
        .orderBy("ticker")
    },

    Q("q_bt_portfolio", Some(s"""
      WITH RECURSIVE $chain,
      ${Engine.tradesSql(Default.config)},
      ${Metrics.portfolioSql}
      SELECT * FROM portfolio ORDER BY exit_rn""")) { (s, dir) =>
      Metrics.portfolio(BacktestQueries2.defaultTrades(s, dir))
        .orderBy("exit_rn")
    }
  )
}
