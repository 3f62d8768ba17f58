package graft.backtest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Cols, Wins}

/** Trade metrics (ref: src/mf_etl/backtest/metrics.py:26-204): headline
  * summary, per-state/per-symbol breakdowns, exit-reason distribution —
  * all single-pass conditional aggregates (A4/A5) — and the portfolio
  * equity curve (ref: backtest/portfolio.py:33-112): per-exit-bar mean
  * return, compounded equity via exp(sum(log1p)), running-peak drawdown.
  */
object Metrics {

  /** Per-group trade summary; groupCols empty → one global row (an empty
    * trade frame still gives that row, with n_trades = 0). */
  def summary(trades: DataFrame, groupCols: Seq[String]): DataFrame = {
    val win = col("net_ret") > 0
    val aggs = Seq(
      count(lit(1)).as("n_trades"),
      Cols.hitRate(win).as("win_rate"),
      round(avg(when(win, col("net_ret"))), 9).as("avg_win"),
      round(avg(when(!win, col("net_ret"))), 9).as("avg_loss"),
      round(sum(when(win, col("net_ret"))), 9).as("gross_win"),
      round(sum(when(!win, col("net_ret"))), 9).as("gross_loss"),
      round(Cols.safeDiv(sum(when(win, col("net_ret"))),
        abs(sum(when(!win, col("net_ret"))))), 6).as("profit_factor"),
      round(avg(col("net_ret")), 9).as("expectancy"),
      round(avg(col("hold_bars")), 9).as("avg_hold_bars"),
      Cols.countIf(col("exit_reason") === "HORIZON").as("n_horizon"),
      Cols.countIf(col("exit_reason") === "STATE_EXIT").as("n_state_exit"),
      Cols.countIf(col("exit_reason") === "END_OF_DATA").as("n_eod"),
      round(avg(col("mfe")), 9).as("avg_mfe"),
      round(avg(col("mae")), 9).as("avg_mae"))
    trades.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The counts among the per-cell metric columns: a cell without trades
    * has 0 of each, like a global aggregate over an empty frame. */
  private val CountCols =
    Seq("n_trades", "n_horizon", "n_state_exit", "n_eod", "trade_count")

  /** One row per row of `cells` (a `cell` id plus metadata columns):
    * the metric columns of `byCell` (grouped on `cell`), then the
    * metadata; the id itself is dropped. A cell with no trades is absent
    * from `byCell`; here it keeps its row with the counts at 0 and every
    * other metric null — exactly what the global aggregate of that
    * cell alone returns. */
  def perCell(cells: DataFrame, byCell: DataFrame): DataFrame = {
    val j = cells.join(byCell, Seq("cell"), "left")
    CountCols.filter(j.columns.contains).foldLeft(j) { (df, c) =>
        df.withColumn(c, coalesce(col(c), lit(0L)))
      }
      .select((byCell.columns ++ cells.columns).filter(_ != "cell")
        .map(col): _*)
  }

  /** SQL mirror over CTE `trades` with the same group-by columns. */
  def summarySql(groupCols: Seq[String]): String = {
    val sel = if (groupCols.isEmpty) "" else groupCols.mkString("", ", ", ",")
    val grp = if (groupCols.isEmpty) ""
      else s"GROUP BY ${groupCols.mkString(", ")}"
    s"""
      summary AS (
        SELECT $sel
               count(*) AS n_trades,
               CAST(count(CASE WHEN net_ret > 0 THEN 1 END) AS DOUBLE)
                 / count(*) AS win_rate,
               round(avg(CASE WHEN net_ret > 0 THEN net_ret END), 9)
                 AS avg_win,
               round(avg(CASE WHEN NOT (net_ret > 0) THEN net_ret END), 9)
                 AS avg_loss,
               round(sum(CASE WHEN net_ret > 0 THEN net_ret END), 9)
                 AS gross_win,
               round(sum(CASE WHEN NOT (net_ret > 0) THEN net_ret END), 9)
                 AS gross_loss,
               round(CASE WHEN abs(sum(CASE WHEN NOT (net_ret > 0)
                   THEN net_ret END)) > 0.000000000001
                 THEN sum(CASE WHEN net_ret > 0 THEN net_ret END)
                   / abs(sum(CASE WHEN NOT (net_ret > 0) THEN net_ret END))
                 END, 6) AS profit_factor,
               round(avg(net_ret), 9) AS expectancy,
               round(avg(hold_bars), 9) AS avg_hold_bars,
               count(CASE WHEN exit_reason = 'HORIZON' THEN 1 END)
                 AS n_horizon,
               count(CASE WHEN exit_reason = 'STATE_EXIT' THEN 1 END)
                 AS n_state_exit,
               count(CASE WHEN exit_reason = 'END_OF_DATA' THEN 1 END)
                 AS n_eod,
               round(avg(mfe), 9) AS avg_mfe,
               round(avg(mae), 9) AS avg_mae
        FROM trades $grp)"""
  }

  /** The equity curve of every cell of a keyed trade frame (the keyed
    * Engine.simulate output), one row per (cell, exit_rn): `n_exits`,
    * `mean_ret` (mean net return of the trades exiting on that bar),
    * compounded `equity`, running `peak` and rounded `drawdown`.
    * (ref: backtest/portfolio.py:33-112; cum-product via exp·sum·log1p)
    *
    * Returns are clamped at -99%: synthetic bars can move >100% in one
    * step, and a real equity curve is undefined past total loss (same
    * guard in the SQL). The log-space prefix sum and its running peak are
    * ONE keyed distributed scan over all cells (Wins.prefixScan), never an
    * unpartitioned window; exact DECIMAL accumulation keeps the result
    * independent of the partition layout, and exp is monotone, so the
    * running max of cum_log IS the running equity peak. */
  private def curve(trades: DataFrame): DataFrame = {
    val byBar = trades.groupBy("cell", "exit_rn")
      .agg(count(lit(1)).as("n_exits"), avg(col("net_ret")).as("mean_ret"))
    val logRet = log(lit(1) + greatest(col("mean_ret"), lit(-0.99)))
    Wins.prefixScan(byBar, Seq("cell"), Seq(col("exit_rn")), logRet,
        "cum_log", outPeak = Some("peak_log"))
      .withColumn("equity", exp(col("cum_log").cast("double")))
      .withColumn("peak", exp(col("peak_log").cast("double")))
      .withColumn("drawdown", round(col("equity") / col("peak") - 1, 9))
  }

  /** Portfolio equity curve keyed by exit bar index: the one-cell
    * [[curve]] of all trades. */
  def portfolio(trades: DataFrame): DataFrame =
    curve(trades.withColumn("cell", lit("")))
      .select(col("exit_rn"), col("n_exits"),
        round(col("mean_ret"), 9).as("mean_ret"),
        round(col("equity"), 9).as("equity"),
        round(col("peak"), 9).as("peak"),
        col("drawdown"))

  /** Per-cell max drawdown over a keyed trade frame: the minimum of each
    * cell's [[curve]] drawdown, so per-cell values match [[portfolio]] of
    * that cell's trades exactly. All cells share one scan (its jobs do
    * not grow with the number of cells). Cells with no trades are absent
    * ([[perCell]] fills them in). */
  def maxDrawdownByCell(trades: DataFrame): DataFrame =
    curve(trades).groupBy("cell").agg(min("drawdown").as("max_drawdown"))

  /** SQL mirror over CTE `trades` → CTE `portfolio`. The cum sum runs in
    * DECIMAL(38,18) exactly like the Spark side, so both engines compute
    * the identical prefix regardless of evaluation order. */
  val portfolioSql: String = """
      by_bar AS (
        SELECT exit_rn, count(*) AS n_exits, avg(net_ret) AS mean_ret
        FROM trades GROUP BY 1),
      eq AS (
        SELECT *, sum(CAST(ln(1 + greatest(mean_ret, -0.99))
            AS DECIMAL(38,18)))
          OVER (ORDER BY exit_rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_log
        FROM by_bar),
      portfolio AS (
        SELECT exit_rn, n_exits,
               round(mean_ret, 9) AS mean_ret,
               round(exp(CAST(cum_log AS DOUBLE)), 9) AS equity,
               round(exp(CAST(max(cum_log) OVER (ORDER BY exit_rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE)), 9) AS peak,
               round(exp(CAST(cum_log AS DOUBLE))
                 / exp(CAST(max(cum_log) OVER (ORDER BY exit_rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE)) - 1, 9) AS drawdown
        FROM eq)"""
}
