package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.{EventGrammar, GoldFeatures, Indicators, MarketData, Silver}
import graft.ops.{Cols, Wins}

/** The feature layers add their windows one dependency level per
  * projection (`Silver.level`). The `withColumn` programs they replaced —
  * one Window operator per column that reads an earlier window column —
  * live on here as references: every column keeps its expression and
  * only the operator it is evaluated in moves, so each layer must equal
  * its reference row for row, bit for bit, with the identical schema
  * (names, order, types, nullability). */
class FeatureLevelsSpec extends SparkSpec {
  import FeatureLevelsSpec._

  private lazy val bars = MarketData.barsFromEvents(
    spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    .localCheckpoint()

  /** Every `nullEvery`-th bar's `c` null and every `nanEvery`-th NaN. */
  private def dirty(c: String, nullEvery: Int, nanEvery: Int) =
    when(pmod(col("bar_id"), lit(nullEvery)) === 0, lit(null))
      .when(pmod(col("bar_id"), lit(nanEvery)) === 0, lit(Double.NaN))
      .otherwise(col(c))

  /** The sf0.001 bars plus a ticker with a single bar. */
  private lazy val withSolo = bars.unionByName(
    bars.orderBy("ticker", "bar_ts", "bar_id").limit(1)
      .withColumn("ticker", lit("~solo")))

  // in-memory copies that reach the branches the fixture never does: null
  // and NaN volumes under silver, null and NaN `tmf_21`/`tti_proxy_v1_21`
  // under grammar and gold
  private lazy val dirtyBars =
    inMemory(withSolo.withColumn("volume", dirty("volume", 13, 17)))
  private lazy val dirtyIndicators =
    inMemory(Indicators.twiggs(Silver.baseFeatures(withSolo))
      .withColumn("tmf_21", dirty("tmf_21", 7, 11))
      .withColumn("tti_proxy_v1_21", dirty("tti_proxy_v1_21", 5, 9)))

  private def inMemory(df: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def assertSame(name: String, got: DataFrame, want: DataFrame) = {
    assert(got.schema == want.schema,
      s"$name schema differs:\n${got.schema.treeString}\n" +
        want.schema.treeString)
    def rows(df: DataFrame): Array[Row] =
      df.orderBy("ticker", "bar_ts", "bar_id").collect()
    val (g, w) = (rows(got), rows(want))
    assert(g.length == w.length, s"$name row count ${g.length} vs ${w.length}")
    // Row equality compares doubles with java.lang.Double.compare: NaN
    // equals NaN and -0.0 differs from 0.0, so this is bitwise parity
    g.zip(w).find { case (a, b) => a != b }.foreach { case (a, b) =>
      fail(s"$name row differs:\n$a\n$b") }
  }

  private def checkLayers(b: DataFrame, ind: DataFrame): Unit = {
    assertSame("silver", Silver.baseFeatures(b), silverRef(b))
    val gram = EventGrammar.build(ind)
    assertSame("grammar", gram, grammarRef(ind))
    assertSame("gold", GoldFeatures.build(gram), goldRef(gram))
  }

  test("silver, grammar and gold equal their withColumn programs on the " +
      "sf0.001 bars") {
    checkLayers(bars, Indicators.twiggs(Silver.baseFeatures(bars)))
  }

  test("silver, grammar and gold equal their withColumn programs over " +
      "null and NaN indicator values and a single-bar ticker") {
    val ind = dirtyIndicators
    assert(ind.filter(col("ticker") === "~solo").count() == 1)
    for (c <- Seq("tmf_21", "tti_proxy_v1_21"))
      assert(ind.filter(col(c).isNull).count() > 0 &&
        ind.filter(isnan(col(c))).count() > 0, s"$c is not dirty")
    assert(dirtyBars.filter(isnan(col("volume"))).count() > 0)
    checkLayers(dirtyBars, ind)
  }
}

object FeatureLevelsSpec {
  import Silver.W

  /** Silver.baseFeatures as one withColumn per column. */
  def silverRef(bars: DataFrame): DataFrame = {
    val hl = col("high") - col("low")
    val prevClose = lag("close", 1).over(W)
    bars
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
      .withColumn("prev_close", prevClose)
      .withColumn("ret_1d", Cols.safeDiv(col("close"), prevClose) - 1)
      .withColumn("ret_5d",
        Cols.safeDiv(col("close"), lag("close", 5).over(W)) - 1)
      .withColumn("ret_20d",
        Cols.safeDiv(col("close"), lag("close", 20).over(W)) - 1)
      .withColumn("gap_from_prev_close",
        Cols.safeDiv(col("open"), prevClose) - 1)
      .withColumn("tr", greatest(hl,
        abs(col("high") - coalesce(prevClose, col("close"))),
        abs(col("low") - coalesce(prevClose, col("close")))))
      .withColumn("atr_14", Wins.rollingMean(col("tr"), W, 14, 14))
      .withColumn("atr_pct_14", Cols.safeDiv(col("atr_14"), col("close")))
      .withColumn("range_pct_close", Cols.safeDiv(hl, col("close")))
      .withColumn("dollar_volume", col("close") * col("volume"))
      .withColumn("vol_sma_20", Wins.rollingMean(col("volume"), W, 20, 20))
      .withColumn("vol_ratio_20",
        Cols.safeDiv(col("volume"), col("vol_sma_20")))
      .withColumn("dollar_vol_sma_20",
        Wins.rollingMean(col("dollar_volume"), W, 20, 20))
      .withColumn("volume_z_20",
        Cols.safeDiv(col("volume") - col("vol_sma_20"),
          Wins.rollingStd(col("volume"), W, 20, 20)))
      .withColumn("high_20", Wins.rollingMax(col("high"), W, 20, 20))
      .withColumn("low_20", Wins.rollingMin(col("low"), W, 20, 20))
      .withColumn("close_sma_20", Wins.rollingMean(col("close"), W, 20, 20))
      .withColumn("close_sma_50", Wins.rollingMean(col("close"), W, 50, 50))
      .withColumn("close_vs_sma20",
        Cols.safeDiv(col("close"), col("close_sma_20")) - 1)
      .withColumn("close_vs_sma50",
        Cols.safeDiv(col("close"), col("close_sma_50")) - 1)
      .withColumn("bars_seen", count(lit(1)).over(Wins.cum(W)))
      .withColumn("warmup_14_complete", col("bars_seen") >= 14)
      .withColumn("warmup_20_complete", col("bars_seen") >= 20)
      .withColumn("warmup_50_complete", col("bars_seen") >= 50)
      .withColumn("silver_ready_base",
        col("warmup_20_complete") && col("atr_14").isNotNull)
  }

  /** EventGrammar.build as one withColumn per column. */
  def grammarRef(ind: DataFrame): DataFrame = {
    import EventGrammar._
    val tmf = col("tmf_21")
    val tti = col("tti_proxy_v1_21")
    def i(c: Column) = when(c, 1).otherwise(0)
    val ev = ind
      .withColumn("ev_tmf_zero_up", col("tmf_zero_cross_up"))
      .withColumn("ev_tmf_zero_down", col("tmf_zero_cross_down"))
      .withColumn("ev_tmf_pivot_low", Wins.pivotLow(tmf, W))
      .withColumn("ev_tmf_pivot_high", Wins.pivotHigh(tmf, W))
      .withColumn("ev_tmf_respect_zero_up",
        Wins.pivotLow(tmf, W) && tmf > 0
          && abs(lag("tmf_21", 1).over(W)) < RespectBand)
      .withColumn("ev_tmf_respect_zero_down",
        Wins.pivotHigh(tmf, W) && tmf < 0
          && abs(lag("tmf_21", 1).over(W)) < RespectBand)
      .withColumn("ev_tmf_burst_up",
        col("tmf_slope_1") > BurstSlope && tmf > BurstLevel)
      .withColumn("ev_tmf_burst_down",
        col("tmf_slope_1") < -BurstSlope && tmf < -BurstLevel)
      .withColumn("tmf_pos_run",
        Wins.rollingSum(i(tmf > 0), W, HoldBars, HoldBars))
      .withColumn("tmf_neg_run",
        Wins.rollingSum(i(tmf < 0), W, HoldBars, HoldBars))
      .withColumn("ev_tmf_hold_pos", col("tmf_pos_run") === HoldBars)
      .withColumn("ev_tmf_hold_neg", col("tmf_neg_run") === HoldBars)
      .withColumn("ev_tti_zero_up", Wins.zeroCrossUp(tti, W))
      .withColumn("ev_tti_zero_down", Wins.zeroCrossDown(tti, W))
      .withColumn("ev_tti_burst_up",
        (tti - lag(tti, 1).over(W)) > BurstSlope && tti > BurstLevel)
      .withColumn("ev_tti_burst_down",
        (tti - lag(tti, 1).over(W)) < -BurstSlope && tti < -BurstLevel)
    val ev2 = ev
      .withColumn("bs_resp_up",
        Wins.barsSince(col("ev_tmf_respect_zero_up") === true, W))
      .withColumn("bs_resp_down",
        Wins.barsSince(col("ev_tmf_respect_zero_down") === true, W))
      .withColumn("ev_tmf_respect_fail_up",
        col("ev_tmf_zero_down") === true
          && col("bs_resp_up").between(1, RespectFailLookback))
      .withColumn("ev_tmf_respect_fail_down",
        col("ev_tmf_zero_up") === true
          && col("bs_resp_down").between(1, RespectFailLookback))
    val withBs = Seq("tmf_zero_up", "tmf_zero_down", "tmf_respect_zero_up",
      "tmf_respect_zero_down", "tmf_burst_up", "tmf_burst_down",
      "tti_zero_up", "tti_zero_down").foldLeft(ev2) { (df, e) =>
      df.withColumn(s"bs_$e",
        Wins.barsSince(col(s"ev_$e") === true, W).cast("int"))
    }
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
    val act = withBs
      .withColumn("le", longEv).withColumn("se", shortEv)
      .withColumn("tmf_long_events_5",
        Wins.rollingSum(col("le"), W, 5, 1).cast("int"))
      .withColumn("tmf_long_events_20",
        Wins.rollingSum(col("le"), W, 20, 1).cast("int"))
      .withColumn("tmf_short_events_5",
        Wins.rollingSum(col("se"), W, 5, 1).cast("int"))
      .withColumn("tmf_short_events_20",
        Wins.rollingSum(col("se"), W, 20, 1).cast("int"))
      .withColumn("tmf_event_asym_5",
        col("tmf_long_events_5") - col("tmf_short_events_5"))
      .withColumn("tmf_event_asym_20",
        col("tmf_long_events_20") - col("tmf_short_events_20"))
      .withColumn("tmf_event_activity_20",
        col("tmf_long_events_20") + col("tmf_short_events_20"))
      .withColumn("tti_events_20",
        Wins.rollingSum(ttiEv, W, 20, 1).cast("int"))
    act
      .withColumn("flow_state_code",
        when(tmf.isNull, 0)
          .when(col("ev_tmf_hold_pos") === true && tmf > PersistLevel, 2)
          .when(col("ev_tmf_hold_neg") === true && tmf < -PersistLevel, 4)
          .when(tmf > 0, 1).when(tmf < 0, 3).otherwise(0)
          .cast("tinyint"))
      .withColumn("flow_state_label",
        element_at(typedLit(Map(0 -> "S0_QUIET", 1 -> "S1_EARLY_DEMAND",
          2 -> "S2_PERSISTENT_DEMAND", 3 -> "S3_EARLY_SUPPLY",
          4 -> "S4_PERSISTENT_SUPPLY")), col("flow_state_code").cast("int")))
  }

  /** GoldFeatures.build as one withColumn per column. */
  def goldRef(gram: DataFrame): DataFrame = {
    import GoldFeatures._
    def i(c: Column) = when(c, 1).otherwise(0)
    val longScore = i(col("ev_tmf_zero_up") === true) * WZero +
      i(col("ev_tmf_respect_zero_up") === true) * WRespect +
      i(col("ev_tmf_burst_up") === true) * WBurst +
      i(col("ev_tmf_hold_pos") === true) * WHold
    val shortScore = i(col("ev_tmf_zero_down") === true) * WZero +
      i(col("ev_tmf_respect_zero_down") === true) * WRespect +
      i(col("ev_tmf_burst_down") === true) * WBurst +
      i(col("ev_tmf_hold_neg") === true) * WHold
    def rec(bs: String) =
      least(col(bs), lit(RecClip)).cast("double") / RecClip
    gram
      .withColumn("tmf_slope_10",
        col("tmf_21") - lag("tmf_21", 10).over(W))
      .withColumn("tmf_curvature_1",
        col("tmf_slope_1") - lag("tmf_slope_1", 1).over(W))
      .withColumn("sign_agreement",
        col("tmf_sign").isNotNull && col("tti_proxy_sign").isNotNull
          && col("tmf_sign") === col("tti_proxy_sign"))
      .withColumn("sign_divergence",
        col("tmf_sign") * col("tti_proxy_sign") < 0)
      .withColumn("ls", longScore).withColumn("ss", shortScore)
      .withColumn("long_flow_score_5", Wins.rollingSum(col("ls"), W, 5, 1))
      .withColumn("long_flow_score_20", Wins.rollingSum(col("ls"), W, 20, 1))
      .withColumn("short_flow_score_5", Wins.rollingSum(col("ss"), W, 5, 1))
      .withColumn("short_flow_score_20", Wins.rollingSum(col("ss"), W, 20, 1))
      .withColumn("delta_flow_5",
        col("long_flow_score_5") - col("short_flow_score_5"))
      .withColumn("delta_flow_20",
        col("long_flow_score_20") - col("short_flow_score_20"))
      .withColumn("flow_activity_20",
        col("long_flow_score_20") + col("short_flow_score_20"))
      .withColumn("flow_bias_20",
        Cols.safeDiv(col("delta_flow_20"), col("flow_activity_20")))
      .withColumn("rec_tmf_zero_up_20", rec("bs_tmf_zero_up"))
      .withColumn("rec_tmf_zero_down_20", rec("bs_tmf_zero_down"))
      .withColumn("rec_tmf_burst_up_20", rec("bs_tmf_burst_up"))
      .withColumn("rec_tmf_burst_down_20", rec("bs_tmf_burst_down"))
      .withColumn("rec_tmf_respect_up_20", rec("bs_tmf_respect_zero_up"))
      .withColumn("rec_tmf_respect_down_20", rec("bs_tmf_respect_zero_down"))
      .withColumn("long_burst_5",
        Wins.rollingSum(i(col("ev_tmf_burst_up") === true), W, 5, 1)
          .cast("int"))
      .withColumn("long_burst_20",
        Wins.rollingSum(i(col("ev_tmf_burst_up") === true), W, 20, 1)
          .cast("int"))
      .withColumn("short_burst_5",
        Wins.rollingSum(i(col("ev_tmf_burst_down") === true), W, 5, 1)
          .cast("int"))
      .withColumn("short_burst_20",
        Wins.rollingSum(i(col("ev_tmf_burst_down") === true), W, 20, 1)
          .cast("int"))
      .withColumn("persistence_pos_20",
        Wins.rollingMean(i(col("tmf_21") > 0).cast("double"), W, 20, 1))
      .withColumn("persistence_neg_20",
        Wins.rollingMean(i(col("tmf_21") < 0).cast("double"), W, 20, 1))
      .withColumn("oscillation_index_20",
        Wins.rollingSum(i(col("ev_tmf_zero_up") === true)
          + i(col("ev_tmf_zero_down") === true), W, 20, 1).cast("int"))
      .withColumn("respect_fail_balance_20",
        Wins.rollingSum(i(col("ev_tmf_respect_fail_up") === true)
          - i(col("ev_tmf_respect_fail_down") === true), W, 20, 1)
          .cast("int"))
      .withColumn("state_island", Wins.runId(col("flow_state_code"), W))
      .withColumn("state_run_length",
        row_number().over(Window.partitionBy(col("ticker"),
          col("state_island")).orderBy("bar_ts", "bar_id")))
      .withColumn("state_changed",
        coalesce(col("flow_state_code") =!=
          lag("flow_state_code", 1).over(W), lit(true)))
      .withColumn("bs_state_change",
        Wins.barsSince(col("state_changed"), W).cast("int"))
      .withColumn("state_transition_code",
        (lag("flow_state_code", 1).over(W).cast("int") * 10
          + col("flow_state_code").cast("int")).cast("smallint"))
  }
}
