package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.backtest.{Engine, Grid, Metrics, Signals}
import graft.etl.{EventGrammar, ForwardLabels, Indicators, MarketData}
import graft.ml.Bootstrap

/** Run-compare surface (ref cli.py:2760 validation-compare, 3295
  * cluster-hardening-compare, 3756 backtest-compare;
  * validation/pipeline.py:302-362 run_validation_compare): top-line
  * metric-diff tables between two runs — (metric, run_a, run_b,
  * delta_b_minus_a). The two "runs" are simulated in-engine: a time
  * subset (validation), a parameter change (backtest hold horizon), and
  * a threshold change (hardening), which is exactly what the reference
  * compares across its artifact directories.
  */
object CompareQueries extends QueryModule {

  private val Default = Grid.Default

  def all: Seq[Q] = Seq(

    // validation-compare: run A = full history, run B = first 60% of the
    // bar-ts span; metric set mirrors run_validation_compare's table
    Q("q_compare_validation", Some(s"""
      WITH RECURSIVE ${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${ForwardLabels.sql},
      jall AS (
        SELECT g.flow_state_code AS state, g.bar_ts,
               CAST(date_diff('day', DATE '2024-01-01',
                 CAST(to_timestamp(g.bar_ts / 1000000) AS DATE)) AS INT)
                 AS win,
               f.fwd_ret_10 AS v
        FROM grammar g JOIN fwd f USING (ticker, bar_ts, bar_id)),
      bnds AS (SELECT min(bar_ts) AS lo, max(bar_ts) AS hi FROM jall),
      ja AS (SELECT * FROM jall),
      jb AS (SELECT j.* FROM jall j, bnds
             WHERE j.bar_ts <= bnds.lo
               + CAST(0.6 * (bnds.hi - bnds.lo) AS BIGINT)),
      ws_a AS (SELECT win, state, avg(v) AS mret FROM ja GROUP BY 1, 2),
      ws_b AS (SELECT win, state, avg(v) AS mret FROM jb GROUP BY 1, 2),
      st_a AS (SELECT state,
                 avg(CASE WHEN mret > 0 THEN 1.0
                     WHEN mret IS NOT NULL THEN 0.0 END) AS sgn,
                 stddev_pop(mret) / (abs(avg(mret)) + 1e-12) AS cv
               FROM ws_a GROUP BY 1),
      st_b AS (SELECT state,
                 avg(CASE WHEN mret > 0 THEN 1.0
                     WHEN mret IS NOT NULL THEN 0.0 END) AS sgn,
                 stddev_pop(mret) / (abs(avg(mret)) + 1e-12) AS cv
               FROM ws_b GROUP BY 1),
      mrows AS (
        SELECT 'avg_state_ret_cv' AS metric,
               (SELECT avg(cv) FROM st_a) AS run_a,
               (SELECT avg(cv) FROM st_b) AS run_b
        UNION ALL
        SELECT 'avg_state_sign_consistency',
               (SELECT avg(sgn) FROM st_a),
               (SELECT avg(sgn) FROM st_b)
        UNION ALL
        SELECT 'hit_rate',
               (SELECT avg(CASE WHEN v > 0 THEN 1.0 ELSE 0.0 END)
                FROM ja WHERE v IS NOT NULL),
               (SELECT avg(CASE WHEN v > 0 THEN 1.0 ELSE 0.0 END)
                FROM jb WHERE v IS NOT NULL)
        UNION ALL
        SELECT 'n_states',
               (SELECT CAST(count(DISTINCT state) AS DOUBLE) FROM ja),
               (SELECT CAST(count(DISTINCT state) AS DOUBLE) FROM jb)
        UNION ALL
        SELECT 'total_rows',
               (SELECT CAST(count(*) AS DOUBLE) FROM ja),
               (SELECT CAST(count(*) AS DOUBLE) FROM jb))
      SELECT metric, round(run_a, 9) AS run_a, round(run_b, 9) AS run_b,
             round(run_b - run_a, 9) AS delta_b_minus_a
      FROM mrows ORDER BY metric""")) { (s, dir) =>
      val gram = Stage.slimGrammar(s, dir)
      val fwd = Stage.slimFwd(s, dir)
      val keys = Seq("ticker", "bar_ts", "bar_id")
      val jall = gram.select((keys :+ "flow_state_code").map(col): _*)
        .join(fwd.select((keys :+ "fwd_ret_10").map(col): _*), keys)
        .select(col("flow_state_code").as("state"), col("bar_ts"),
          datediff(to_date(timestamp_seconds(col("bar_ts") / 1000000)),
            lit("2024-01-01").cast("date")).as("win"),
          col("fwd_ret_10").as("v"))
      val bnds = jall.agg(min("bar_ts").as("lo"), max("bar_ts").as("hi"))
      val jb = jall.crossJoin(broadcast(bnds))
        .filter(col("bar_ts") <= col("lo")
          + (lit(0.6) * (col("hi") - col("lo"))).cast("long"))
        .drop("lo", "hi")
      def metricsOf(df: org.apache.spark.sql.DataFrame) = {
        val st = df.groupBy("win", "state").agg(avg("v").as("mret"))
          .groupBy("state").agg(
            avg(when(col("mret") > 0, 1.0)
              .when(col("mret").isNotNull, 0.0)).as("sgn"),
            (stddev_pop(col("mret")) / (abs(avg(col("mret"))) + 1e-12))
              .as("cv"))
          .agg(avg("sgn").as("avg_sgn"), avg("cv").as("avg_cv"))
        val base = df.agg(
          countDistinct(col("state")).cast("double").as("n_states"),
          count(lit(1)).cast("double").as("total_rows"),
          avg(when(col("v") > 0, 1.0)
            .when(col("v").isNotNull, 0.0)).as("hit_rate"))
        base.crossJoin(st)
      }
      val a = metricsOf(jall)
      val b = metricsOf(jb).select(
        col("n_states").as("n_states_b"), col("total_rows").as("total_rows_b"),
        col("hit_rate").as("hit_rate_b"), col("avg_sgn").as("avg_sgn_b"),
        col("avg_cv").as("avg_cv_b"))
      a.crossJoin(b).selectExpr(
          """stack(5,
             'avg_state_ret_cv', avg_cv, avg_cv_b,
             'avg_state_sign_consistency', avg_sgn, avg_sgn_b,
             'hit_rate', hit_rate, hit_rate_b,
             'n_states', n_states, n_states_b,
             'total_rows', total_rows, total_rows_b)
             AS (metric, run_a_raw, run_b_raw)""")
        .select(col("metric"),
          round(col("run_a_raw"), 9).as("run_a"),
          round(col("run_b_raw"), 9).as("run_b"),
          round(col("run_b_raw") - col("run_a_raw"), 9)
            .as("delta_b_minus_a"))
        .orderBy("metric")
    },

    // backtest-compare: run A = hold 10 bars, run B = hold 5 bars; diff
    // of the headline summary metrics (ref run_backtest_compare)
    Q("q_compare_backtest", Some {
      def branch(tag: String, hold: Int) = s"""
        (WITH RECURSIVE
         ${Engine.tradesSql(Engine.Config(hold, 5.0))},
         ${Metrics.summarySql(Seq.empty)}
         SELECT '$tag' AS run, CAST(n_trades AS DOUBLE) AS n_trades,
                win_rate, expectancy, profit_factor, avg_hold_bars
         FROM summary)"""
      s"""WITH RECURSIVE ${MarketData.barsSql},
         ${Indicators.twiggsSql},
         ${EventGrammar.grammarSql},
         ${Signals.sql(Default.mode, Default.confirmBars)},
         runs AS (${branch("a", 10)} UNION ALL ${branch("b", 5)}),
         mrows AS (
           SELECT 'avg_hold_bars' AS metric,
                  (SELECT avg_hold_bars FROM runs WHERE run = 'a') AS run_a,
                  (SELECT avg_hold_bars FROM runs WHERE run = 'b') AS run_b
           UNION ALL
           SELECT 'expectancy',
                  (SELECT expectancy FROM runs WHERE run = 'a'),
                  (SELECT expectancy FROM runs WHERE run = 'b')
           UNION ALL
           SELECT 'n_trades',
                  (SELECT n_trades FROM runs WHERE run = 'a'),
                  (SELECT n_trades FROM runs WHERE run = 'b')
           UNION ALL
           SELECT 'profit_factor',
                  (SELECT profit_factor FROM runs WHERE run = 'a'),
                  (SELECT profit_factor FROM runs WHERE run = 'b')
           UNION ALL
           SELECT 'win_rate',
                  (SELECT win_rate FROM runs WHERE run = 'a'),
                  (SELECT win_rate FROM runs WHERE run = 'b'))
         SELECT metric, round(run_a, 9) AS run_a, round(run_b, 9) AS run_b,
                round(run_b - run_a, 9) AS delta_b_minus_a
         FROM mrows ORDER BY metric"""
    }) { (s, dir) =>
      // the two runs are two cells of one simulation over the default
      // signal frame
      val cells = Seq("a" -> Default, "b" -> Default.copy(holdBars = 5))
      val runs = Metrics.perCell(
        s.createDataFrame(cells.map(c => (c._1, c._1))).toDF("cell", "run"),
        Metrics.summary(
          Grid.trades(cells)((_, _) => Stage.slimSignals(s, dir)),
          Seq("cell")))
      val wide = for {
        c <- Seq("n_trades", "win_rate", "expectancy", "profit_factor",
          "avg_hold_bars")
        tag <- Seq("a", "b")
      } yield max(when(col("run") === tag, col(c).cast("double")))
        .as(s"${c}_$tag")
      runs.agg(wide.head, wide.tail: _*).selectExpr(
          """stack(5,
             'avg_hold_bars', avg_hold_bars_a, avg_hold_bars_b,
             'expectancy', expectancy_a, expectancy_b,
             'n_trades', n_trades_a, n_trades_b,
             'profit_factor', profit_factor_a, profit_factor_b,
             'win_rate', win_rate_a, win_rate_b)
             AS (metric, run_a_raw, run_b_raw)""")
        .select(col("metric"),
          round(col("run_a_raw"), 9).as("run_a"),
          round(col("run_b_raw"), 9).as("run_b"),
          round(col("run_b_raw") - col("run_a_raw"), 9)
            .as("delta_b_minus_a"))
        .orderBy("metric")
    },

    // cluster-hardening-compare: same data, threshold profile change
    // (min-n hard floor 100 → 500); per-state class labels + changed flag
    Q("q_compare_hardening", Some(s"""
      WITH RECURSIVE ${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql},
      ${ForwardLabels.sql},
      bv AS (
        SELECT g.flow_state_code AS state, f.fwd_ret_10 AS v
        FROM grammar g JOIN fwd f USING (ticker, bar_ts, bar_id)
        WHERE f.fwd_ret_10 IS NOT NULL),
      ${Bootstrap.sql("state", nBoot = 200)},
      classed AS (
        SELECT state, n,
               CASE WHEN n < 100 THEN 'BLOCK'
                    WHEN ci_lo > 0 OR ci_hi < 0 THEN 'ALLOW'
                    ELSE 'WATCH' END AS class_a,
               CASE WHEN n < 500 THEN 'BLOCK'
                    WHEN ci_lo > 0 OR ci_hi < 0 THEN 'ALLOW'
                    ELSE 'WATCH' END AS class_b
        FROM boot)
      SELECT state, n, class_a, class_b,
             class_a <> class_b AS changed
      FROM classed ORDER BY state""")) { (s, dir) =>
      val gram = Stage.slimGrammar(s, dir)
      val fwd = Stage.slimFwd(s, dir)
      val keys = Seq("ticker", "bar_ts", "bar_id")
      val bv = gram.select((keys :+ "flow_state_code").map(col): _*)
        .join(fwd.select((keys :+ "fwd_ret_10").map(col): _*), keys)
        .filter(col("fwd_ret_10").isNotNull)
        .select(col("flow_state_code").as("state"),
          col("fwd_ret_10").as("value"))
      val boot = Bootstrap.meanCi(bv, "state", "value", nBoot = 200)
      def cls(blockN: Int) =
        when(col("n") < blockN, "BLOCK")
          .when(col("ci_lo") > 0 || col("ci_hi") < 0, "ALLOW")
          .otherwise("WATCH")
      boot.select(col("state"), col("n"),
          cls(100).as("class_a"), cls(500).as("class_b"))
        .withColumn("changed", col("class_a") =!= col("class_b"))
        .orderBy("state")
    }
  )
}
