package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Cols, Wins}

/** Gold ML-feature layer (ref: src/mf_etl/gold/features_v1.py:143-425):
  * longer slopes/curvature, sign agreement, weighted flow scores
  * (score_weights zero=1, respect=2, burst=2, hold=1.5 from
  * configs/settings.yaml), recency transforms min(bs,20)/20, persistence
  * means, oscillation index, respect-fail balance, and state-run/transition
  * features — all on top of the indicator + event-grammar columns, sharing
  * the same single per-ticker window exchange.
  *
  * The windows are added in three dependency levels (see
  * [[Silver.level]]), so the layer plans three Window operators: the lags,
  * flow/burst/persistence sums, run starts and one shared row number; then
  * the cumulative `state_island` id and `bs_state_change`; then
  * `state_run_length` over `(ticker, state_island)`.
  */
object GoldFeatures {

  // score_weights from configs/settings.yaml `gold_features:`, resolved
  // live through graft.Settings so they are tunable without recompiling
  def WZero: Double = graft.Settings.goldFeatures.wZero
  def WRespect: Double = graft.Settings.goldFeatures.wRespect
  def WBurst: Double = graft.Settings.goldFeatures.wBurst
  def WHold: Double = graft.Settings.goldFeatures.wHold
  def RecClip: Int = graft.Settings.goldFeatures.recencyClipBars

  import Silver.{W, level}

  def build(gram: DataFrame): DataFrame = {
    def i(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
    val longScore = i(col("ev_tmf_zero_up") === true) * WZero +
      i(col("ev_tmf_respect_zero_up") === true) * WRespect +
      i(col("ev_tmf_burst_up") === true) * WBurst +
      i(col("ev_tmf_hold_pos") === true) * WHold
    val shortScore = i(col("ev_tmf_zero_down") === true) * WZero +
      i(col("ev_tmf_respect_zero_down") === true) * WRespect +
      i(col("ev_tmf_burst_down") === true) * WBurst +
      i(col("ev_tmf_hold_neg") === true) * WHold
    val lagState = lag("flow_state_code", 1).over(W)

    // window level 1: lags, flow/burst/persistence sums, the run starts the
    // state islands sum and the row number bs_state_change counts from
    val lvl1 = level(gram.withColumn("ls", longScore)
        .withColumn("ss", shortScore),
      "tmf_slope_10" -> (col("tmf_21") - lag("tmf_21", 10).over(W)),
      "tmf_curvature_1" ->
        (col("tmf_slope_1") - lag("tmf_slope_1", 1).over(W)),
      "long_flow_score_5" -> Wins.rollingSum(col("ls"), W, 5, 1),
      "long_flow_score_20" -> Wins.rollingSum(col("ls"), W, 20, 1),
      "short_flow_score_5" -> Wins.rollingSum(col("ss"), W, 5, 1),
      "short_flow_score_20" -> Wins.rollingSum(col("ss"), W, 20, 1),
      // burst counts (features_v1.py:261-288)
      "long_burst_5" ->
        Wins.rollingSum(i(col("ev_tmf_burst_up") === true), W, 5, 1)
          .cast("int"),
      "long_burst_20" ->
        Wins.rollingSum(i(col("ev_tmf_burst_up") === true), W, 20, 1)
          .cast("int"),
      "short_burst_5" ->
        Wins.rollingSum(i(col("ev_tmf_burst_down") === true), W, 5, 1)
          .cast("int"),
      "short_burst_20" ->
        Wins.rollingSum(i(col("ev_tmf_burst_down") === true), W, 20, 1)
          .cast("int"),
      // persistence means + oscillation + respect-fail balance
      "persistence_pos_20" ->
        Wins.rollingMean(i(col("tmf_21") > 0).cast("double"), W, 20, 1),
      "persistence_neg_20" ->
        Wins.rollingMean(i(col("tmf_21") < 0).cast("double"), W, 20, 1),
      "oscillation_index_20" ->
        Wins.rollingSum(i(col("ev_tmf_zero_up") === true)
          + i(col("ev_tmf_zero_down") === true), W, 20, 1).cast("int"),
      "respect_fail_balance_20" ->
        Wins.rollingSum(i(col("ev_tmf_respect_fail_up") === true)
          - i(col("ev_tmf_respect_fail_down") === true), W, 20, 1)
          .cast("int"),
      // state run/transition features (features_v1.py:290-311)
      "state_changed" ->
        coalesce(col("flow_state_code") =!= lagState, lit(true)),
      "state_transition_code" -> (lagState.cast("int") * 10
        + col("flow_state_code").cast("int")).cast("smallint"),
      "_run_start" -> Wins.runStart(col("flow_state_code"), W),
      "_rn" -> row_number().over(W))
    // window level 2: the state islands (Wins.runId) and bars since the
    // last state change
    val lvl2 = level(lvl1,
      "state_island" -> sum(col("_run_start")).over(Wins.cum(W)),
      "bs_state_change" ->
        Wins.barsSince(col("state_changed"), W, col("_rn")).cast("int"))
    // window level 3: the position of the bar in its state run
    val lvl3 = level(lvl2, "state_run_length" ->
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("ticker"), col("state_island"))
        .orderBy("bar_ts", "bar_id")))

    // the output columns in order; recency transforms min(bs,clip)/clip
    // (features_v1.py:205-219); clip = gold_features.recency_clip_bars
    // (column names pin the default-20 schema contract; the clip VALUE is
    // the tunable)
    def recency(bs: String) =
      least(col(bs), lit(RecClip)).cast("double") / RecClip
    val deltaFlow20 = col("long_flow_score_20") - col("short_flow_score_20")
    val flowActivity20 =
      col("long_flow_score_20") + col("short_flow_score_20")
    lvl3.select(gram.columns.map(col) ++ Seq(
      col("tmf_slope_10"), col("tmf_curvature_1"),
      (col("tmf_sign").isNotNull && col("tti_proxy_sign").isNotNull
        && col("tmf_sign") === col("tti_proxy_sign")).as("sign_agreement"),
      (col("tmf_sign") * col("tti_proxy_sign") < 0).as("sign_divergence"),
      col("ls"), col("ss"),
      col("long_flow_score_5"), col("long_flow_score_20"),
      col("short_flow_score_5"), col("short_flow_score_20"),
      (col("long_flow_score_5") - col("short_flow_score_5"))
        .as("delta_flow_5"),
      deltaFlow20.as("delta_flow_20"),
      flowActivity20.as("flow_activity_20"),
      Cols.safeDiv(deltaFlow20, flowActivity20).as("flow_bias_20"),
      recency("bs_tmf_zero_up").as("rec_tmf_zero_up_20"),
      recency("bs_tmf_zero_down").as("rec_tmf_zero_down_20"),
      recency("bs_tmf_burst_up").as("rec_tmf_burst_up_20"),
      recency("bs_tmf_burst_down").as("rec_tmf_burst_down_20"),
      recency("bs_tmf_respect_zero_up").as("rec_tmf_respect_up_20"),
      recency("bs_tmf_respect_zero_down").as("rec_tmf_respect_down_20"),
      col("long_burst_5"), col("long_burst_20"),
      col("short_burst_5"), col("short_burst_20"),
      col("persistence_pos_20"), col("persistence_neg_20"),
      col("oscillation_index_20"), col("respect_fail_balance_20"),
      col("state_island"), col("state_run_length"), col("state_changed"),
      col("bs_state_change"), col("state_transition_code")): _*)
  }

  /** Oracle SQL on top of `grammar` + `rec5` (needs tmf_21/tti signs —
    * recomputed here from rec5 raw values joined back in). Emits CTE
    * `gold`. */
  def goldSql: String = {
    val w = "PARTITION BY ticker ORDER BY bar_ts, bar_id"
    def roll(n: Int) = s"$w ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
    def bi(b: String) = s"CASE WHEN $b THEN 1 ELSE 0 END"
    val cum = s"$w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"""
      gg AS (
        SELECT g.*, r.tmf_21, r.tti,
               CASE WHEN r.tmf_21 > 0 THEN 1 WHEN r.tmf_21 < 0 THEN -1
                    WHEN r.tmf_21 IS NOT NULL THEN 0 END AS tmf_sign,
               CASE WHEN r.tti > 0 THEN 1 WHEN r.tti < 0 THEN -1
                    WHEN r.tti IS NOT NULL THEN 0 END AS tti_sign,
               r.tmf_21 - lag(r.tmf_21) OVER (PARTITION BY g.ticker
                 ORDER BY g.bar_ts, g.bar_id) AS slope_1,
               CAST(${bi("g.ev_tmf_zero_up = true")} * $WZero
                 + ${bi("g.ev_tmf_respect_zero_up = true")} * $WRespect
                 + ${bi("g.ev_tmf_burst_up = true")} * $WBurst
                 + ${bi("g.ev_tmf_hold_pos = true")} * $WHold
                 AS DOUBLE) AS ls,
               CAST(${bi("g.ev_tmf_zero_down = true")} * $WZero
                 + ${bi("g.ev_tmf_respect_zero_down = true")} * $WRespect
                 + ${bi("g.ev_tmf_burst_down = true")} * $WBurst
                 + ${bi("g.ev_tmf_hold_neg = true")} * $WHold
                 AS DOUBLE) AS ss
        FROM grammar g JOIN rec5 r USING (ticker, bar_ts, bar_id)),
      gg2 AS (
        SELECT *,
               sum(ls) OVER (${roll(5)}) AS lf5,
               sum(ls) OVER (${roll(20)}) AS lf20,
               sum(ss) OVER (${roll(5)}) AS sf5,
               sum(ss) OVER (${roll(20)}) AS sf20,
               CASE WHEN flow_state_code <>
                   lag(flow_state_code) OVER ($w)
                 THEN true
                 WHEN lag(flow_state_code) OVER ($w) IS NULL THEN true
                 ELSE false END AS state_changed,
               row_number() OVER ($w) AS rn
        FROM gg),
      gg3 AS (
        SELECT *,
               sum(${bi("state_changed")}) OVER ($cum) AS state_island
        FROM gg2),
      gold AS (
        SELECT ticker, bar_ts, bar_id,
               round(tmf_21 - lag(tmf_21, 10) OVER ($w), 6) AS tmf_slope_10,
               round(slope_1 - lag(slope_1) OVER ($w), 6) AS tmf_curvature_1,
               tmf_sign IS NOT NULL AND tti_sign IS NOT NULL
                 AND tmf_sign = tti_sign AS sign_agreement,
               tmf_sign * tti_sign < 0 AS sign_divergence,
               lf5 AS long_flow_score_5, lf20 AS long_flow_score_20,
               sf5 AS short_flow_score_5, sf20 AS short_flow_score_20,
               lf5 - sf5 AS delta_flow_5, lf20 - sf20 AS delta_flow_20,
               lf20 + sf20 AS flow_activity_20,
               CASE WHEN abs(lf20 + sf20) > 0.000000000001
                 THEN (lf20 - sf20) / (lf20 + sf20) END AS flow_bias_20,
               CAST(least(bs_tmf_zero_up, $RecClip) AS DOUBLE) / $RecClip
                 AS rec_tmf_zero_up_20,
               CAST(least(bs_tmf_zero_down, $RecClip) AS DOUBLE) / $RecClip
                 AS rec_tmf_zero_down_20,
               CAST(least(bs_tmf_burst_up, $RecClip) AS DOUBLE) / $RecClip
                 AS rec_tmf_burst_up_20,
               CAST(least(bs_tmf_burst_down, $RecClip) AS DOUBLE) / $RecClip
                 AS rec_tmf_burst_down_20,
               CAST(least(bs_tmf_respect_zero_up, $RecClip) AS DOUBLE) / $RecClip
                 AS rec_tmf_respect_up_20,
               CAST(least(bs_tmf_respect_zero_down, $RecClip) AS DOUBLE) / $RecClip
                 AS rec_tmf_respect_down_20,
               CAST(sum(${bi("ev_tmf_burst_up = true")})
                 OVER (${roll(5)}) AS INT) AS long_burst_5,
               CAST(sum(${bi("ev_tmf_burst_up = true")})
                 OVER (${roll(20)}) AS INT) AS long_burst_20,
               CAST(sum(${bi("ev_tmf_burst_down = true")})
                 OVER (${roll(5)}) AS INT) AS short_burst_5,
               CAST(sum(${bi("ev_tmf_burst_down = true")})
                 OVER (${roll(20)}) AS INT) AS short_burst_20,
               avg(CAST(${bi("tmf_21 > 0")} AS DOUBLE))
                 OVER (${roll(20)}) AS persistence_pos_20,
               avg(CAST(${bi("tmf_21 < 0")} AS DOUBLE))
                 OVER (${roll(20)}) AS persistence_neg_20,
               CAST(sum(${bi("ev_tmf_zero_up = true")}
                 + ${bi("ev_tmf_zero_down = true")})
                 OVER (${roll(20)}) AS INT) AS oscillation_index_20,
               CAST(sum(${bi("ev_tmf_respect_fail_up = true")}
                 - ${bi("ev_tmf_respect_fail_down = true")})
                 OVER (${roll(20)}) AS INT) AS respect_fail_balance_20,
               CAST(row_number() OVER (PARTITION BY ticker, state_island
                 ORDER BY bar_ts, bar_id) AS INT) AS state_run_length,
               CAST(rn - last_value(CASE WHEN state_changed THEN rn END
                 IGNORE NULLS) OVER ($cum) AS INT) AS bs_state_change,
               CAST(lag(flow_state_code) OVER ($w) * 10 + flow_state_code
                 AS SMALLINT) AS state_transition_code
        FROM gg3)"""
  }

  /** Engine-side projection matching goldSql's `gold` CTE. */
  def oracleProjection(df: DataFrame): DataFrame =
    df.select(col("ticker"), col("bar_ts"), col("bar_id"),
      round(col("tmf_slope_10"), 6).as("tmf_slope_10"),
      round(col("tmf_curvature_1"), 6).as("tmf_curvature_1"),
      col("sign_agreement"), col("sign_divergence"),
      col("long_flow_score_5"), col("long_flow_score_20"),
      col("short_flow_score_5"), col("short_flow_score_20"),
      col("delta_flow_5"), col("delta_flow_20"), col("flow_activity_20"),
      col("flow_bias_20"),
      col("rec_tmf_zero_up_20"), col("rec_tmf_zero_down_20"),
      col("rec_tmf_burst_up_20"), col("rec_tmf_burst_down_20"),
      col("rec_tmf_respect_up_20"), col("rec_tmf_respect_down_20"),
      col("long_burst_5"), col("long_burst_20"),
      col("short_burst_5"), col("short_burst_20"),
      col("persistence_pos_20"), col("persistence_neg_20"),
      col("oscillation_index_20"), col("respect_fail_balance_20"),
      col("state_run_length").cast("int").as("state_run_length"),
      col("bs_state_change"), col("state_transition_code"))
}
