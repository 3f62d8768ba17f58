package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Cols, Wins}

/** Silver base-feature layer — the reference's first feature builder
  * (ref: src/mf_etl/silver/features_base.py:101-276): price geometry,
  * returns/gaps, true range + ATR, volume/liquidity stats, rolling context
  * and warmup flags, all per-ticker windows.
  *
  * One hash exchange on `ticker` + one in-partition sort serves the entire
  * ~30-column program (every window shares the same spec), which is the
  * 100 TB-scale shape: no per-column shuffles, partial-window nulls via the
  * min_samples guard. The windows are added in two dependency levels
  * (see [[level]]), so the layer plans two Window operators: the lags,
  * rolling stats and `bars_seen`, then the ATR over the true range, which
  * reads the lagged close.
  */
object Silver {

  val W = Window.partitionBy("ticker").orderBy("bar_ts", "bar_id")

  /** `df` plus `cols`, in one projection. Spark plans the window
    * expressions of one projection that share a partitioning and ordering
    * as one Window operator; a window that reads a window output of an
    * earlier projection needs another, so a `withColumn` per column costs
    * an operator for every window column that reads an earlier one. The
    * feature layers add their windows one dependency level per call, each
    * call holding every window whose inputs already exist. */
  def level(df: DataFrame, cols: (String, Column)*): DataFrame =
    df.select(col("*") +: cols.map { case (n, c) => c.as(n) }: _*)

  def baseFeatures(bars: DataFrame): DataFrame = {
    val hl = col("high") - col("low")
    val prevClose = col("prev_close")
    // price geometry (features_base.py:118-133)
    val geometry = bars
      .withColumn("hl_range", hl)
      .withColumn("body", col("close") - col("open"))
      .withColumn("body_abs", abs(col("body")))
      .withColumn("body_to_range", Cols.safeDiv(col("body"), hl))
      .withColumn("close_pos_in_range",
        Cols.safeDiv(col("close") - col("low"), hl))
      .withColumn("open_pos_in_range",
        Cols.safeDiv(col("open") - col("low"), hl))
      .withColumn("hlc3", (col("high") + col("low") + col("close")) / 3)
      .withColumn("ohlc4",
        (col("open") + col("high") + col("low") + col("close")) / 4)
      .withColumn("dollar_volume", col("close") * col("volume"))
    // window level 1: lags (features_base.py:134-137), volume / liquidity
    // (:174-198), rolling context (:193-198), cum_count of bars (:206-209)
    val lvl1 = level(geometry,
      "prev_close" -> lag("close", 1).over(W),
      "ret_5d" -> (Cols.safeDiv(col("close"), lag("close", 5).over(W)) - 1),
      "ret_20d" -> (Cols.safeDiv(col("close"), lag("close", 20).over(W)) - 1),
      "vol_sma_20" -> Wins.rollingMean(col("volume"), W, 20, 20),
      "_vol_std_20" -> Wins.rollingStd(col("volume"), W, 20, 20),
      "dollar_vol_sma_20" -> Wins.rollingMean(col("dollar_volume"), W, 20, 20),
      "high_20" -> Wins.rollingMax(col("high"), W, 20, 20),
      "low_20" -> Wins.rollingMin(col("low"), W, 20, 20),
      "close_sma_20" -> Wins.rollingMean(col("close"), W, 20, 20),
      "close_sma_50" -> Wins.rollingMean(col("close"), W, 50, 50),
      "bars_seen" -> count(lit(1)).over(Wins.cum(W)))
      // true range (features_base.py:138-150; horizontal max via greatest
      // with null-safe prev_close fallback)
      .withColumn("tr", greatest(hl,
        abs(col("high") - coalesce(prevClose, col("close"))),
        abs(col("low") - coalesce(prevClose, col("close")))))
    // window level 2: ATR over the true range
    level(lvl1, "atr_14" -> Wins.rollingMean(col("tr"), W, 14, 14))
      .select(bars.columns.map(col) ++ Seq(
        col("hl_range"), col("body"), col("body_abs"), col("body_to_range"),
        col("close_pos_in_range"), col("open_pos_in_range"), col("hlc3"),
        col("ohlc4"), prevClose,
        (Cols.safeDiv(col("close"), prevClose) - 1).as("ret_1d"),
        col("ret_5d"), col("ret_20d"),
        (Cols.safeDiv(col("open"), prevClose) - 1).as("gap_from_prev_close"),
        col("tr"), col("atr_14"),
        Cols.safeDiv(col("atr_14"), col("close")).as("atr_pct_14"),
        Cols.safeDiv(hl, col("close")).as("range_pct_close"),
        col("dollar_volume"), col("vol_sma_20"),
        Cols.safeDiv(col("volume"), col("vol_sma_20")).as("vol_ratio_20"),
        col("dollar_vol_sma_20"),
        Cols.safeDiv(col("volume") - col("vol_sma_20"), col("_vol_std_20"))
          .as("volume_z_20"),
        col("high_20"), col("low_20"), col("close_sma_20"),
        col("close_sma_50"),
        (Cols.safeDiv(col("close"), col("close_sma_20")) - 1)
          .as("close_vs_sma20"),
        (Cols.safeDiv(col("close"), col("close_sma_50")) - 1)
          .as("close_vs_sma50"),
        // warmup flags (features_base.py:206-209)
        col("bars_seen"),
        (col("bars_seen") >= 14).as("warmup_14_complete"),
        (col("bars_seen") >= 20).as("warmup_20_complete"),
        (col("bars_seen") >= 50).as("warmup_50_complete"),
        (col("bars_seen") >= 20 && col("atr_14").isNotNull)
          .as("silver_ready_base")): _*)
  }

  /** SQL mirror of baseFeatures for the DuckDB oracle (selects the feature
    * columns; identity = ticker, bar_ts, bar_id). Expects `bars` CTE in
    * scope (MarketData.barsSql). Values rounded where float-path order can
    * differ (rolling means/stds); lags, ratios-of-identical-doubles and
    * flags are exact. */
  val featuresSql: String = {
    val w = "PARTITION BY ticker ORDER BY bar_ts, bar_id"
    def roll(n: Int) = s"$w ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
    def guard(agg: String, n: Int) =
      s"CASE WHEN count(*) OVER (${roll(n)}) >= $n THEN $agg OVER (${roll(n)}) END"
    def safeDiv(num: String, den: String) =
      s"CASE WHEN abs($den) > 0.000000000001 THEN ($num) / ($den) END"
    s"""
      f0 AS (
        SELECT ticker, bar_ts, bar_id, open, high, low, close, volume,
               high - low AS hl_range,
               close - open AS body,
               abs(close - open) AS body_abs,
               ${safeDiv("close - open", "high - low")} AS body_to_range,
               ${safeDiv("close - low", "high - low")} AS close_pos_in_range,
               ${safeDiv("open - low", "high - low")} AS open_pos_in_range,
               (high + low + close) / 3 AS hlc3,
               (open + high + low + close) / 4 AS ohlc4,
               lag(close) OVER ($w) AS prev_close,
               lag(close, 5) OVER ($w) AS close_l5,
               lag(close, 20) OVER ($w) AS close_l20,
               count(*) OVER ($w ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) AS bars_seen
        FROM bars),
      f1 AS (
        SELECT *,
               ${safeDiv("close", "prev_close")} - 1 AS ret_1d,
               ${safeDiv("close", "close_l5")} - 1 AS ret_5d,
               ${safeDiv("close", "close_l20")} - 1 AS ret_20d,
               ${safeDiv("open", "prev_close")} - 1 AS gap_from_prev_close,
               greatest(high - low,
                 abs(high - coalesce(prev_close, close)),
                 abs(low - coalesce(prev_close, close))) AS tr,
               close * volume AS dollar_volume
        FROM f0),
      f2 AS (
        SELECT *,
               ${guard("avg(tr)", 14)} AS atr_14,
               ${guard("avg(volume)", 20)} AS vol_sma_20,
               ${guard("stddev_pop(volume)", 20)} AS vol_std_20,
               ${guard("avg(dollar_volume)", 20)} AS dollar_vol_sma_20,
               ${guard("max(high)", 20)} AS high_20,
               ${guard("min(low)", 20)} AS low_20,
               ${guard("avg(close)", 20)} AS close_sma_20,
               ${guard("avg(close)", 50)} AS close_sma_50
        FROM f1),
      silver AS (
        SELECT ticker, bar_ts, bar_id,
               round(hl_range, 9) AS hl_range, round(body, 9) AS body,
               round(body_to_range, 9) AS body_to_range,
               round(close_pos_in_range, 9) AS close_pos_in_range,
               round(hlc3, 9) AS hlc3, round(ohlc4, 9) AS ohlc4,
               prev_close, round(ret_1d, 9) AS ret_1d,
               round(ret_5d, 9) AS ret_5d, round(ret_20d, 9) AS ret_20d,
               round(gap_from_prev_close, 9) AS gap_from_prev_close,
               round(tr, 9) AS tr, round(atr_14, 6) AS atr_14,
               round(${safeDiv("atr_14", "close")}, 9) AS atr_pct_14,
               round(dollar_volume, 6) AS dollar_volume,
               round(vol_sma_20, 6) AS vol_sma_20,
               round(${safeDiv("volume", "vol_sma_20")}, 6) AS vol_ratio_20,
               round(${safeDiv("volume - vol_sma_20", "vol_std_20")}, 6)
                 AS volume_z_20,
               high_20, low_20,
               round(close_sma_20, 6) AS close_sma_20,
               round(close_sma_50, 6) AS close_sma_50,
               round(${safeDiv("close", "close_sma_20")} - 1, 6)
                 AS close_vs_sma20,
               bars_seen,
               bars_seen >= 20 AS warmup_20_complete,
               (bars_seen >= 20 AND atr_14 IS NOT NULL)
                 AS silver_ready_base
        FROM f2)"""
  }

  /** Column list matching featuresSql's `silver` CTE, applied to the
    * engine output (rounding mirrors the SQL). */
  def oracleProjection(df: DataFrame): DataFrame =
    df.select(col("ticker"), col("bar_ts"), col("bar_id"),
      round(col("hl_range"), 9).as("hl_range"),
      round(col("body"), 9).as("body"),
      round(col("body_to_range"), 9).as("body_to_range"),
      round(col("close_pos_in_range"), 9).as("close_pos_in_range"),
      round(col("hlc3"), 9).as("hlc3"), round(col("ohlc4"), 9).as("ohlc4"),
      col("prev_close"), round(col("ret_1d"), 9).as("ret_1d"),
      round(col("ret_5d"), 9).as("ret_5d"),
      round(col("ret_20d"), 9).as("ret_20d"),
      round(col("gap_from_prev_close"), 9).as("gap_from_prev_close"),
      round(col("tr"), 9).as("tr"), round(col("atr_14"), 6).as("atr_14"),
      round(col("atr_pct_14"), 9).as("atr_pct_14"),
      round(col("dollar_volume"), 6).as("dollar_volume"),
      round(col("vol_sma_20"), 6).as("vol_sma_20"),
      round(col("vol_ratio_20"), 6).as("vol_ratio_20"),
      round(col("volume_z_20"), 6).as("volume_z_20"),
      col("high_20"), col("low_20"),
      round(col("close_sma_20"), 6).as("close_sma_20"),
      round(col("close_sma_50"), 6).as("close_sma_50"),
      round(col("close_vs_sma20"), 6).as("close_vs_sma20"),
      col("bars_seen"), col("warmup_20_complete"), col("silver_ready_base"))
}
