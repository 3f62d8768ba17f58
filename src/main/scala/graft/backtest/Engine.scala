package graft.backtest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic trade simulator
  * (ref: src/mf_etl/backtest/engine.py:106-292): pending entry/exit
  * executed at next bar open, state-exit and horizon exit, no overlapping
  * positions, MFE/MAE excursion tracking, symmetric fees, END_OF_DATA
  * force close at the last bar.
  *
  * Per-bar processing order (the contract both the kernel and the SQL
  * oracle implement):
  *   a. execute pending exit at open(t)
  *   b. execute pending entry at open(t) (position was flat)
  *   c. update MFE/MAE extremes with high/low(t) while positioned
  *   d. decide exits: state-exit (state flips against side), else horizon
  *      (bars held ≥ holdBars) → pending exit for t+1
  *   e. decide entry: flat + entry signal at t → pending entry for t+1
  *   f. last bar with open position → force close at close(t)
  *
  * Runs as one typed `flatMapGroups` per (cell, ticker) — the only
  * sequential kernel in the engine; every ticker of every cell is
  * independent, so it scales as one shuffle with per-group linear scans.
  */
object Engine {

  case class Config(holdBars: Int = 10, feeBps: Double = 5.0)

  case class SimBar(ticker: String, bar_ts: Long, bar_id: Long,
    open: Double, high: Double, low: Double, close: Double,
    state_code: Int, entry_signal: Boolean, signal_side: Int)

  case class Trade(ticker: String, pos_seq: Int, side: Int,
    entry_rn: Int, exit_rn: Int, entry_ts: Long, exit_ts: Long,
    entry_price: Double, exit_price: Double, exit_reason: String,
    hold_bars: Int, gross_ret: Double, net_ret: Double,
    mfe: Double, mae: Double)

  /** Pure per-ticker simulation over bars already sorted by
    * (bar_ts, bar_id) — unit-testable without Spark. */
  def simulateTicker(ticker: String, bars: IndexedSeq[SimBar],
      cfg: Config): Seq[Trade] = {
    val fee = cfg.feeBps / 10000.0
    val out = scala.collection.mutable.ArrayBuffer.empty[Trade]
    var pos = 0; var entryRn = 0; var entryPrice = 0.0; var entryTs = 0L
    var mx = Double.NaN; var mn = Double.NaN
    var pendEntry = 0; var pendExit: String = null
    var seq = 0

    def emit(exitRn: Int, exitTs: Long, exitPrice: Double,
        reason: String): Unit = {
      seq += 1
      val gross = pos * (exitPrice / entryPrice - 1)
      val net = gross - 2 * fee
      val mfe = if (pos == 1) mx / entryPrice - 1 else 1 - mn / entryPrice
      val mae = if (pos == 1) mn / entryPrice - 1 else 1 - mx / entryPrice
      out += Trade(ticker, seq, pos, entryRn, exitRn, entryTs, exitTs,
        entryPrice, exitPrice, reason, exitRn - entryRn, gross, net, mfe,
        mae)
    }

    var i = 0
    while (i < bars.length) {
      val b = bars(i)
      val rn = i + 1
      // a. pending exit at open
      if (pendExit != null && pos != 0) {
        emit(rn, b.bar_ts, b.open, pendExit)
        pos = 0
      }
      pendExit = null
      // b. pending entry at open
      if (pos == 0 && pendEntry != 0) {
        pos = pendEntry; entryRn = rn; entryPrice = b.open
        entryTs = b.bar_ts; mx = b.high; mn = b.low
      } else if (pos != 0) {
        // c. excursions (entry bar initializes above)
        mx = math.max(mx, b.high); mn = math.min(mn, b.low)
      }
      pendEntry = 0
      // d. exit decisions
      if (pos != 0) {
        val stateExit = (pos == 1 && (b.state_code == 3 || b.state_code == 4)) ||
          (pos == -1 && (b.state_code == 1 || b.state_code == 2))
        if (stateExit) pendExit = "STATE_EXIT"
        else if (rn - entryRn >= cfg.holdBars) pendExit = "HORIZON"
      }
      // e. entry decision
      if (pos == 0 && b.entry_signal && b.signal_side != 0)
        pendEntry = b.signal_side
      // f. force close at the last bar
      if (i == bars.length - 1 && pos != 0)
        emit(rn, b.bar_ts, b.close, "END_OF_DATA")
      i += 1
    }
    out.toSeq
  }

  /** One-cell simulation: all of `signals` (the columns of SimBar, as
    * Signals.generate emits them) is one sim under `cfg`. */
  def simulate(signals: DataFrame, cfg: Config): Dataset[Trade] = {
    val spark = signals.sparkSession
    import spark.implicits._
    simulate(signals.withColumn("cell", lit("")), Map("" -> cfg))
      .drop("cell").as[Trade]
  }

  /** Keyed simulation: each `cell` value of `signals` names an independent
    * sim run under `cfgs(cell)`. ONE shuffle on (cell, ticker), then a
    * per-group sort on (bar_ts, bar_id) and the [[simulateTicker]] scan,
    * so a whole parameter sweep or walk-forward is one distributed job
    * however many cells it has. Output: `cell` plus the Trade columns;
    * a cell without trades has no rows. */
  def simulate(signals: DataFrame, cfgs: Map[String, Config]): DataFrame = {
    val spark = signals.sparkSession
    import spark.implicits._
    val in = signals.select(col("cell").cast("string").as("_1"),
      struct(col("ticker"), col("bar_ts"), col("bar_id"),
        col("open"), col("high"), col("low"), col("close"),
        col("flow_state_code").cast("int").as("state_code"),
        coalesce(col("entry_signal"), lit(false)).as("entry_signal"),
        coalesce(col("signal_side"), lit(0)).cast("int").as("signal_side"))
        .as("_2"))
      .as[(String, SimBar)]
    in.groupByKey(r => (r._1, r._2.ticker)).flatMapGroups { (key, it) =>
      val (cell, tk) = key
      simulateTicker(tk, it.map(_._2).toIndexedSeq
        .sortBy(b => (b.bar_ts, b.bar_id)), cfgs(cell)).iterator
        .map(t => (cell, t))
    }.select(col("_1").as("cell"), col("_2.*"))
  }

  /** Oracle SQL: the same per-bar contract as a single recursive CTE per
    * ticker over the `src` CTE (default `signals`, Signals.sql shape).
    * Emits CTE `trades`. */
  def tradesSql(cfg: Config, src: String = "signals"): String = {
    val fee = cfg.feeBps / 10000.0
    s"""
      sb AS MATERIALIZED (
        -- MATERIALIZED: the sim recursion below joins sb per iteration;
        -- without it DuckDB re-executes the full signals chain each time.
        SELECT ticker, bar_ts, bar_id, open, high, low, close,
               flow_state_code AS state_code,
               coalesce(entry_signal, false) AS entry_signal,
               coalesce(signal_side, 0) AS signal_side,
               CAST(row_number() OVER (PARTITION BY ticker
                 ORDER BY bar_ts, bar_id) AS INT) AS rn,
               CAST(count(*) OVER (PARTITION BY ticker) AS INT) AS n_bars
        FROM $src),
      sim AS (
        SELECT ticker, rn, n_bars, bar_ts, close,
               0 AS pos, CAST(NULL AS INT) AS entry_rn,
               CAST(NULL AS DOUBLE) AS entry_price,
               CAST(NULL AS BIGINT) AS entry_ts,
               CAST(NULL AS DOUBLE) AS mx, CAST(NULL AS DOUBLE) AS mn,
               CASE WHEN entry_signal AND signal_side <> 0
                 THEN signal_side ELSE 0 END AS pend_entry,
               CAST(NULL AS VARCHAR) AS pend_exit,
               CAST(NULL AS INT) AS e_side,
               CAST(NULL AS INT) AS e_entry_rn,
               CAST(NULL AS BIGINT) AS e_entry_ts,
               CAST(NULL AS DOUBLE) AS e_entry_price,
               CAST(NULL AS DOUBLE) AS e_exit_price,
               CAST(NULL AS VARCHAR) AS e_reason,
               CAST(NULL AS DOUBLE) AS e_mx, CAST(NULL AS DOUBLE) AS e_mn
        FROM sb WHERE rn = 1
        UNION ALL
        SELECT b.ticker, b.rn, b.n_bars, b.bar_ts, b.close,
               -- post-entry position (a then b); aliases are new_* so the
               -- lateral references below can't shadow r.* columns
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN (CASE WHEN r.pend_entry <> 0 THEN r.pend_entry
                            ELSE 0 END)
                 WHEN r.pos = 0 THEN r.pend_entry
                 ELSE r.pos END AS new_pos,
               CASE WHEN r.pos = 0 AND r.pend_entry <> 0 THEN b.rn
                    WHEN r.pos <> 0 AND r.pend_exit IS NULL
                      THEN r.entry_rn END AS new_entry_rn,
               CASE WHEN r.pos = 0 AND r.pend_entry <> 0 THEN b.open
                    WHEN r.pos <> 0 AND r.pend_exit IS NULL
                      THEN r.entry_price END AS new_entry_price,
               CASE WHEN r.pos = 0 AND r.pend_entry <> 0 THEN b.bar_ts
                    WHEN r.pos <> 0 AND r.pend_exit IS NULL
                      THEN r.entry_ts END AS new_entry_ts,
               CASE WHEN r.pos = 0 AND r.pend_entry <> 0 THEN b.high
                    WHEN r.pos <> 0 AND r.pend_exit IS NULL
                      THEN greatest(r.mx, b.high) END AS new_mx,
               CASE WHEN r.pos = 0 AND r.pend_entry <> 0 THEN b.low
                    WHEN r.pos <> 0 AND r.pend_exit IS NULL
                      THEN least(r.mn, b.low) END AS new_mn,
               CASE WHEN new_pos = 0 AND b.entry_signal
                      AND b.signal_side <> 0
                 THEN b.signal_side ELSE 0 END AS new_pend_entry,
               CASE WHEN new_pos <> 0 AND
                      ((new_pos = 1 AND b.state_code IN (3, 4)) OR
                       (new_pos = -1 AND b.state_code IN (1, 2)))
                    THEN 'STATE_EXIT'
                    WHEN new_pos <> 0
                      AND b.rn - new_entry_rn >= ${cfg.holdBars}
                    THEN 'HORIZON' END AS new_pend_exit,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN r.pos END AS e_side,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN r.entry_rn END AS e_entry_rn,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN r.entry_ts END AS e_entry_ts,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN r.entry_price END AS e_entry_price,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN b.open END AS e_exit_price,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN r.pend_exit END AS e_reason,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN r.mx END AS e_mx,
               CASE WHEN r.pend_exit IS NOT NULL AND r.pos <> 0
                 THEN r.mn END AS e_mn
        FROM sb b JOIN sim r ON b.ticker = r.ticker AND b.rn = r.rn + 1),
      raw_trades AS (
        SELECT ticker, e_side AS side, e_entry_rn AS entry_rn,
               rn AS exit_rn, e_entry_ts AS entry_ts, bar_ts AS exit_ts,
               e_entry_price AS entry_price, e_exit_price AS exit_price,
               e_reason AS exit_reason, e_mx AS mx, e_mn AS mn
        FROM sim WHERE e_reason IS NOT NULL
        UNION ALL
        SELECT ticker, pos AS side, entry_rn, rn AS exit_rn, entry_ts,
               bar_ts AS exit_ts, entry_price, close AS exit_price,
               'END_OF_DATA' AS exit_reason, mx, mn
        FROM sim WHERE rn = n_bars AND pos <> 0),
      trades AS (
        SELECT ticker,
               CAST(row_number() OVER (PARTITION BY ticker
                 ORDER BY entry_rn) AS INT) AS pos_seq,
               side, entry_rn, exit_rn, entry_ts, exit_ts,
               entry_price, exit_price, exit_reason,
               exit_rn - entry_rn AS hold_bars,
               side * (exit_price / entry_price - 1) AS gross_ret,
               side * (exit_price / entry_price - 1) - ${2 * fee} AS net_ret,
               CASE WHEN side = 1 THEN mx / entry_price - 1
                 ELSE 1 - mn / entry_price END AS mfe,
               CASE WHEN side = 1 THEN mn / entry_price - 1
                 ELSE 1 - mx / entry_price END AS mae
        FROM raw_trades)"""
  }
}
