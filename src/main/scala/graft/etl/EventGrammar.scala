package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Wins

/** Event grammar v1 — deterministic event extraction + 5-state flow coding
  * over the TMF/TTI indicator series
  * (ref: src/mf_etl/gold/event_grammar_v1.py:112-475):
  * zero-cross events, 3-bar pivots, respect-zero (pivot near zero holding
  * sign), respect-fail (cross against a recent respect), burst
  * (slope+level), hold (N consecutive same-sign bars), bars-since counters,
  * rolling activity/asymmetry, and priority state coding S0..S4.
  *
  * The windows are added in two dependency levels (see [[Silver.level]]),
  * so the layer plans two Window operators: the lags, pivots, hold runs and
  * one shared row number, then the bars-since counters over that row
  * number and the rolling event sums over the hold events.
  *
  * Tunables resolve through [[graft.Settings.eventGrammar]] (live `def`s,
  * so env/sysprop overrides of the configs/settings.yaml `event_grammar:`
  * keys take effect without recompiling); defaults are the yaml values.
  */
object EventGrammar {

  def RespectBand: Double = graft.Settings.eventGrammar.respectBand
  def RespectFailLookback: Int = graft.Settings.eventGrammar.respectFailLookback
  def BurstSlope: Double = graft.Settings.eventGrammar.burstSlopeThreshold
  def BurstLevel: Double = graft.Settings.eventGrammar.burstAbsThreshold
  def HoldBars: Int = graft.Settings.eventGrammar.holdBars
  def PersistLevel: Double =
    graft.Settings.dbl("event_grammar.persistence_level", 0.15)

  import Silver.{W, level}

  /** The events with a bars-since counter (event_grammar_v1.py:32-46 helper
    * over 8 events), in output order. */
  private val CountedEvents = Seq("tmf_zero_up", "tmf_zero_down",
    "tmf_respect_zero_up", "tmf_respect_zero_down", "tmf_burst_up",
    "tmf_burst_down", "tti_zero_up", "tti_zero_down")

  def build(ind: DataFrame): DataFrame = {
    val tmf = col("tmf_21")
    val tti = col("tti_proxy_v1_21")
    def i(c: Column) = when(c, 1).otherwise(0)
    val rn = col("_rn")

    // window level 1: lags, pivots, hold runs and the row number every
    // bars-since counter of level 2 shares
    val lvl1 = level(ind,
      "ev_tmf_zero_up" -> col("tmf_zero_cross_up"),
      "ev_tmf_zero_down" -> col("tmf_zero_cross_down"),
      "ev_tmf_pivot_low" -> Wins.pivotLow(tmf, W),
      "ev_tmf_pivot_high" -> Wins.pivotHigh(tmf, W),
      "ev_tmf_respect_zero_up" -> (Wins.pivotLow(tmf, W) && tmf > 0
        && abs(lag("tmf_21", 1).over(W)) < RespectBand),
      "ev_tmf_respect_zero_down" -> (Wins.pivotHigh(tmf, W) && tmf < 0
        && abs(lag("tmf_21", 1).over(W)) < RespectBand),
      "ev_tmf_burst_up" -> (col("tmf_slope_1") > BurstSlope && tmf > BurstLevel),
      "ev_tmf_burst_down" ->
        (col("tmf_slope_1") < -BurstSlope && tmf < -BurstLevel),
      "tmf_pos_run" -> Wins.rollingSum(i(tmf > 0), W, HoldBars, HoldBars),
      "tmf_neg_run" -> Wins.rollingSum(i(tmf < 0), W, HoldBars, HoldBars),
      "ev_tti_zero_up" -> Wins.zeroCrossUp(tti, W),
      "ev_tti_zero_down" -> Wins.zeroCrossDown(tti, W),
      "ev_tti_burst_up" ->
        ((tti - lag(tti, 1).over(W)) > BurstSlope && tti > BurstLevel),
      "ev_tti_burst_down" ->
        ((tti - lag(tti, 1).over(W)) < -BurstSlope && tti < -BurstLevel),
      "_rn" -> row_number().over(W))

    // hold events, the per-bar long/short event counts the level-2 sums
    // roll, and 5-state coding, priority persistent > early
    // (event_grammar_v1.py:380-404)
    val longEv = i(col("ev_tmf_zero_up") === true) +
      i(col("ev_tmf_respect_zero_up") === true) +
      i(col("ev_tmf_burst_up") === true) + i(col("ev_tmf_hold_pos") === true)
    val shortEv = i(col("ev_tmf_zero_down") === true) +
      i(col("ev_tmf_respect_zero_down") === true) +
      i(col("ev_tmf_burst_down") === true) +
      i(col("ev_tmf_hold_neg") === true)
    val ttiEv = i(col("ev_tti_zero_up") === true) +
      i(col("ev_tti_zero_down") === true) +
      i(col("ev_tti_burst_up") === true) + i(col("ev_tti_burst_down") === true)
    val coded = lvl1
      .withColumn("ev_tmf_hold_pos", col("tmf_pos_run") === HoldBars)
      .withColumn("ev_tmf_hold_neg", col("tmf_neg_run") === HoldBars)
      .withColumn("le", longEv).withColumn("se", shortEv)
      .withColumn("flow_state_code",
        when(tmf.isNull, 0)
          .when(col("ev_tmf_hold_pos") === true && tmf > PersistLevel, 2)
          .when(col("ev_tmf_hold_neg") === true && tmf < -PersistLevel, 4)
          .when(tmf > 0, 1).when(tmf < 0, 3).otherwise(0)
          .cast("tinyint"))

    // window level 2: the bars-since counters over the shared row number
    // and the rolling activity sums over {5, 20} (min_samples=1)
    def barsSince(e: String) = Wins.barsSince(col(s"ev_$e") === true, W, rn)
    val lvl2 = level(coded, Seq(
      "bs_resp_up" -> barsSince("tmf_respect_zero_up"),
      "bs_resp_down" -> barsSince("tmf_respect_zero_down"),
      "tmf_long_events_5" -> Wins.rollingSum(col("le"), W, 5, 1).cast("int"),
      "tmf_long_events_20" -> Wins.rollingSum(col("le"), W, 20, 1).cast("int"),
      "tmf_short_events_5" -> Wins.rollingSum(col("se"), W, 5, 1).cast("int"),
      "tmf_short_events_20" ->
        Wins.rollingSum(col("se"), W, 20, 1).cast("int"),
      "tti_events_20" -> Wins.rollingSum(ttiEv, W, 20, 1).cast("int")) ++
      CountedEvents.map(e => s"bs_$e" -> barsSince(e).cast("int")): _*)

    // the output columns in order, with the respect-fail events: a
    // zero-cross against a respect event within lookback
    // (event_grammar_v1.py: respect_fail block)
    lvl2.select(ind.columns.map(col) ++ Seq(
      col("ev_tmf_zero_up"), col("ev_tmf_zero_down"),
      col("ev_tmf_pivot_low"), col("ev_tmf_pivot_high"),
      col("ev_tmf_respect_zero_up"), col("ev_tmf_respect_zero_down"),
      col("ev_tmf_burst_up"), col("ev_tmf_burst_down"),
      col("tmf_pos_run"), col("tmf_neg_run"),
      col("ev_tmf_hold_pos"), col("ev_tmf_hold_neg"),
      col("ev_tti_zero_up"), col("ev_tti_zero_down"),
      col("ev_tti_burst_up"), col("ev_tti_burst_down"),
      col("bs_resp_up"), col("bs_resp_down"),
      (col("ev_tmf_zero_down") === true
        && col("bs_resp_up").between(1, RespectFailLookback))
        .as("ev_tmf_respect_fail_up"),
      (col("ev_tmf_zero_up") === true
        && col("bs_resp_down").between(1, RespectFailLookback))
        .as("ev_tmf_respect_fail_down")) ++
      CountedEvents.map(e => col(s"bs_$e")) ++ Seq(
      col("le"), col("se"),
      col("tmf_long_events_5"), col("tmf_long_events_20"),
      col("tmf_short_events_5"), col("tmf_short_events_20"),
      (col("tmf_long_events_5") - col("tmf_short_events_5"))
        .as("tmf_event_asym_5"),
      (col("tmf_long_events_20") - col("tmf_short_events_20"))
        .as("tmf_event_asym_20"),
      (col("tmf_long_events_20") + col("tmf_short_events_20"))
        .as("tmf_event_activity_20"),
      col("tti_events_20"), col("flow_state_code"),
      element_at(typedLit(Map(0 -> "S0_QUIET", 1 -> "S1_EARLY_DEMAND",
        2 -> "S2_PERSISTENT_DEMAND", 3 -> "S3_EARLY_SUPPLY",
        4 -> "S4_PERSISTENT_SUPPLY")), col("flow_state_code").cast("int"))
        .as("flow_state_label")): _*)
  }

  /** Oracle SQL CTE chain over `twiggs` (Indicators.twiggsSql) — but built
    * on the *unrounded* recursion CTE `rec5`, so the grammar computes from
    * the same raw values as the engine. Emits CTE `grammar`. */
  def grammarSql: String = {
    val w = "PARTITION BY ticker ORDER BY bar_ts, bar_id"
    val cum = s"$w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    def roll(n: Int) = s"$w ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
    def bi(b: String) = s"CASE WHEN $b THEN 1 ELSE 0 END"
    s"""
      g0 AS (
        SELECT ticker, bar_ts, bar_id, tmf_21, tti,
               row_number() OVER ($w) AS rn,
               lag(tmf_21) OVER ($w) AS tmf_l1,
               lag(tmf_21, 2) OVER ($w) AS tmf_l2,
               lag(tti) OVER ($w) AS tti_l1,
               tmf_21 - lag(tmf_21) OVER ($w) AS slope_1
        FROM rec5),
      g1 AS (
        SELECT *,
               tmf_21 > 0 AND tmf_l1 <= 0 AS ev_tmf_zero_up,
               tmf_21 < 0 AND tmf_l1 >= 0 AS ev_tmf_zero_down,
               tmf_l2 > tmf_l1 AND tmf_l1 < tmf_21 AS ev_tmf_pivot_low,
               tmf_l2 < tmf_l1 AND tmf_l1 > tmf_21 AS ev_tmf_pivot_high,
               (tmf_l2 > tmf_l1 AND tmf_l1 < tmf_21) AND tmf_21 > 0
                 AND abs(tmf_l1) < $RespectBand AS ev_tmf_respect_zero_up,
               (tmf_l2 < tmf_l1 AND tmf_l1 > tmf_21) AND tmf_21 < 0
                 AND abs(tmf_l1) < $RespectBand AS ev_tmf_respect_zero_down,
               slope_1 > $BurstSlope AND tmf_21 > $BurstLevel
                 AS ev_tmf_burst_up,
               slope_1 < -$BurstSlope AND tmf_21 < -$BurstLevel
                 AS ev_tmf_burst_down,
               CASE WHEN count(*) OVER (${roll(HoldBars)}) >= $HoldBars THEN
                 sum(${bi("tmf_21 > 0")}) OVER (${roll(HoldBars)}) END
                 AS tmf_pos_run,
               CASE WHEN count(*) OVER (${roll(HoldBars)}) >= $HoldBars THEN
                 sum(${bi("tmf_21 < 0")}) OVER (${roll(HoldBars)}) END
                 AS tmf_neg_run,
               tti > 0 AND tti_l1 <= 0 AS ev_tti_zero_up,
               tti < 0 AND tti_l1 >= 0 AS ev_tti_zero_down,
               (tti - tti_l1) > $BurstSlope AND tti > $BurstLevel
                 AS ev_tti_burst_up,
               (tti - tti_l1) < -$BurstSlope AND tti < -$BurstLevel
                 AS ev_tti_burst_down
        FROM g0),
      g2 AS (
        SELECT *,
               tmf_pos_run = $HoldBars AS ev_tmf_hold_pos,
               tmf_neg_run = $HoldBars AS ev_tmf_hold_neg,
               rn - last_value(CASE WHEN ev_tmf_respect_zero_up = true
                 THEN rn END IGNORE NULLS) OVER ($cum) AS bs_resp_up,
               rn - last_value(CASE WHEN ev_tmf_respect_zero_down = true
                 THEN rn END IGNORE NULLS) OVER ($cum) AS bs_resp_down
        FROM g1),
      g3 AS (
        SELECT *,
               ev_tmf_zero_down = true AND bs_resp_up BETWEEN 1 AND
                 $RespectFailLookback AS ev_tmf_respect_fail_up,
               ev_tmf_zero_up = true AND bs_resp_down BETWEEN 1 AND
                 $RespectFailLookback AS ev_tmf_respect_fail_down,
               ${Seq("tmf_zero_up", "tmf_zero_down", "tmf_respect_zero_up",
                   "tmf_respect_zero_down", "tmf_burst_up", "tmf_burst_down",
                   "tti_zero_up", "tti_zero_down").map(e =>
                 s"""CAST(rn - last_value(CASE WHEN ev_$e = true THEN rn END
                    IGNORE NULLS) OVER ($cum) AS INT) AS bs_$e""")
                 .mkString(",\n               ")},
               ${bi("ev_tmf_zero_up = true")}
                 + ${bi("ev_tmf_respect_zero_up = true")}
                 + ${bi("ev_tmf_burst_up = true")}
                 + ${bi("ev_tmf_hold_pos = true")} AS le,
               ${bi("ev_tmf_zero_down = true")}
                 + ${bi("ev_tmf_respect_zero_down = true")}
                 + ${bi("ev_tmf_burst_down = true")}
                 + ${bi("ev_tmf_hold_neg = true")} AS se,
               ${bi("ev_tti_zero_up = true")}
                 + ${bi("ev_tti_zero_down = true")}
                 + ${bi("ev_tti_burst_up = true")}
                 + ${bi("ev_tti_burst_down = true")} AS te
        FROM g2),
      grammar AS (
        SELECT ticker, bar_ts, bar_id,
               ev_tmf_zero_up, ev_tmf_zero_down,
               ev_tmf_pivot_low, ev_tmf_pivot_high,
               ev_tmf_respect_zero_up, ev_tmf_respect_zero_down,
               ev_tmf_respect_fail_up, ev_tmf_respect_fail_down,
               ev_tmf_burst_up, ev_tmf_burst_down,
               ev_tmf_hold_pos, ev_tmf_hold_neg,
               ev_tti_zero_up, ev_tti_zero_down,
               ev_tti_burst_up, ev_tti_burst_down,
               bs_tmf_zero_up, bs_tmf_zero_down,
               bs_tmf_respect_zero_up, bs_tmf_respect_zero_down,
               bs_tmf_burst_up, bs_tmf_burst_down,
               bs_tti_zero_up, bs_tti_zero_down,
               CAST(sum(le) OVER (${roll(5)}) AS INT) AS tmf_long_events_5,
               CAST(sum(le) OVER (${roll(20)}) AS INT) AS tmf_long_events_20,
               CAST(sum(se) OVER (${roll(5)}) AS INT) AS tmf_short_events_5,
               CAST(sum(se) OVER (${roll(20)}) AS INT) AS tmf_short_events_20,
               CAST(sum(le) OVER (${roll(5)}) - sum(se) OVER (${roll(5)})
                 AS INT) AS tmf_event_asym_5,
               CAST(sum(le) OVER (${roll(20)}) - sum(se) OVER (${roll(20)})
                 AS INT) AS tmf_event_asym_20,
               CAST(sum(le) OVER (${roll(20)}) + sum(se) OVER (${roll(20)})
                 AS INT) AS tmf_event_activity_20,
               CAST(sum(te) OVER (${roll(20)}) AS INT) AS tti_events_20,
               CAST(CASE WHEN tmf_21 IS NULL THEN 0
                 WHEN ev_tmf_hold_pos = true AND tmf_21 > $PersistLevel THEN 2
                 WHEN ev_tmf_hold_neg = true AND tmf_21 < -$PersistLevel THEN 4
                 WHEN tmf_21 > 0 THEN 1 WHEN tmf_21 < 0 THEN 3
                 ELSE 0 END AS TINYINT) AS flow_state_code,
               CASE WHEN tmf_21 IS NULL THEN 'S0_QUIET'
                 WHEN ev_tmf_hold_pos = true AND tmf_21 > $PersistLevel
                   THEN 'S2_PERSISTENT_DEMAND'
                 WHEN ev_tmf_hold_neg = true AND tmf_21 < -$PersistLevel
                   THEN 'S4_PERSISTENT_SUPPLY'
                 WHEN tmf_21 > 0 THEN 'S1_EARLY_DEMAND'
                 WHEN tmf_21 < 0 THEN 'S3_EARLY_SUPPLY'
                 ELSE 'S0_QUIET' END AS flow_state_label
        FROM g3)"""
  }

  /** Engine-side projection matching grammarSql's `grammar` CTE. */
  def oracleProjection(df: DataFrame): DataFrame = {
    val evCols = Seq("ev_tmf_zero_up", "ev_tmf_zero_down",
      "ev_tmf_pivot_low", "ev_tmf_pivot_high",
      "ev_tmf_respect_zero_up", "ev_tmf_respect_zero_down",
      "ev_tmf_respect_fail_up", "ev_tmf_respect_fail_down",
      "ev_tmf_burst_up", "ev_tmf_burst_down",
      "ev_tmf_hold_pos", "ev_tmf_hold_neg",
      "ev_tti_zero_up", "ev_tti_zero_down",
      "ev_tti_burst_up", "ev_tti_burst_down")
    val bsCols = Seq("bs_tmf_zero_up", "bs_tmf_zero_down",
      "bs_tmf_respect_zero_up", "bs_tmf_respect_zero_down",
      "bs_tmf_burst_up", "bs_tmf_burst_down",
      "bs_tti_zero_up", "bs_tti_zero_down")
    val actCols = Seq("tmf_long_events_5", "tmf_long_events_20",
      "tmf_short_events_5", "tmf_short_events_20",
      "tmf_event_asym_5", "tmf_event_asym_20", "tmf_event_activity_20",
      "tti_events_20", "flow_state_code", "flow_state_label")
    df.select((Seq("ticker", "bar_ts", "bar_id") ++ evCols ++ bsCols
      ++ actCols).map(col): _*)
  }
}
