package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.backtest.{Engine, Grid, Metrics, Overlay, Signals, WalkForward}
import graft.etl.{EventGrammar, Indicators, MarketData}
import graft.ops.Cols

/** Hybrid Overlay Evaluation Report v1 (ref
  * src/mf_etl/backtest/hybrid_eval_report.py:76-700, CLI
  * `hybrid-eval-report`): run the sensitivity grid under overlay policy
  * variants, pick each run's best combo by the min-max-normalized
  * candidate score, score runs against each other, classify each run
  * (PROMOTE / KEEP_AS_BENCH / NICHE_FILTER / RESEARCH_ONLY), and check
  * walk-forward consistency of the hybrid against the baseline.
  *
  * Adaptations for the in-engine surface: the reference composes
  * pre-computed grid-run ARTIFACT directories; here the three runs
  * (baseline, overlay allow_only, overlay block_veto) are simulated
  * in-engine over the deterministic synthetic policy frame that
  * q_policy_overlay already oracles, so the whole report is
  * DuckDB-checkable. The optional FLOW run is covered by the grid
  * itself (its combos span both signal modes). Each run's grid is ONE
  * keyed simulation over the 4 cached signal variants of its gate; the
  * per-split robustness_v2 runs the full 8-combo grid inside every
  * (split, run) cell — 64 quarter-window sims — as ONE more keyed
  * simulation, and the ranking chain scores all cells in one
  * partitioned pass.
  */
object HybridQueries extends QueryModule {

  private val Keys = Seq("ticker", "bar_ts", "bar_id")
  private val Default = Grid.Default

  case class Run(label: String, mode: Option[String]) {
    def key: String = mode.getOrElse("baseline")
  }
  /** Reference run labels — the classifier looks baseline up by name. */
  private[queries] val Runs = Seq(
    Run("HMM baseline", None),
    Run("HMM + overlay allow_only", Some("allow_only")),
    Run("HMM + overlay block_veto", Some("block_veto")))

  /** Synthetic policy rows — the same deterministic frame
    * q_policy_overlay oracles (allow unless bar_id%5==0, over bar_id%3
    * rows, plus duplicate blocked rows at %21). */
  private def pol0(s: SparkSession, dir: String): DataFrame = {
    val gram = BacktestQueries2.gramSlim(s, dir).select(Keys.map(col): _*)
    gram.filter(col("bar_id") % 3 === 0)
      .select(col("ticker"), col("bar_ts"), col("bar_id"),
        (col("bar_id") % 5 =!= 0).as("policy_allowed"))
      .unionByName(gram.filter(col("bar_id") % 21 === 0)
        .select(col("ticker"), col("bar_ts"), col("bar_id"),
          lit(false).as("policy_allowed")))
  }

  /** Entry gate per overlay mode, over applyPolicy's output columns
    * (`policy_allowed` is default-allow-coalesced). */
  private def gateExpr(mode: String): Column = mode match {
    case "allow_only" => col("overlay_covered") && col("policy_allowed")
    case "block_veto" => col("policy_allowed")
  }

  /** Overlay-gated signal frame for one combo's signal machine. */
  private def gatedSignals(s: SparkSession, dir: String, mode: String,
      combo: Grid.Combo): DataFrame =
    Overlay.applyPolicy(
        Signals.generate(BacktestQueries2.gramSlim(s, dir), combo.mode,
          combo.confirmBars),
        pol0(s, dir), Keys)
      .withColumn("entry_signal", col("entry_signal") && gateExpr(mode))
      .drop("overlay_covered", "policy_allowed")

  /** One gate's scored combo grid (8 rows, v1/v2 robustness included;
    * `None` is the ungated baseline every grid consumer shares): per-cell
    * trade stats and drawdowns over the gate's keyed grid trades. */
  private[queries] def runScored(s: SparkSession, dir: String,
      gate: Option[String]): DataFrame =
    Stage.cached(s, dir, s"combo_scored_${gateKey(gate)}") {
      BacktestQueries2.scoreCombos(BacktestQueries2.comboMetrics(
        gridTrades(s, dir, gate), BacktestQueries2.gridCells(s)))
    }

  /** One gate's 8 grid combos as ONE keyed simulation (cell = combo
    * index) over the gate's 4 cached signal variants, which build
    * concurrently first. */
  private[queries] def gridTrades(s: SparkSession, dir: String,
      gate: Option[String]): DataFrame =
    Stage.cached(s, dir, s"grid_trades_${gateKey(gate)}") {
      graft.ops.Pools.awaitAll(SigVariants.map { case (m, cb) =>
        () => { gatedSig(s, dir, gate, m, cb); () } })
      Grid.trades(Grid.cells(BacktestQueries2.GridCombos))(
        gatedSig(s, dir, gate, _, _))
    }

  /** `df` plus column `out` = Σ weight · norm(c) over `terms`
    * (weight, c, higher), norm being min-max normalization with the
    * reference's exact null semantics (_normalize_metric): no finite
    * values → 0.5, null → 0.0, max ≈ min (np.isclose: atol 1e-8,
    * rtol 1e-5 vs min) → 0.5. Each column's min, max and count come
    * from one global aggregate broadcast back to every row — exact,
    * without an unpartitioned window. The `attach` aggregates ride the
    * same pass and stay on every row. */
  private def withNormSum(df: DataFrame, out: String,
      terms: Seq[(Double, Column, Boolean)], attach: Column*)
      : DataFrame = {
    val names = terms.indices.map(i => (s"__mn$i", s"__mx$i", s"__n$i"))
    val aggs = terms.zip(names).flatMap { case ((_, c, _), (mn, mx, n)) =>
      Seq(min(c).as(mn), max(c).as(mx), count(c).as(n))
    }
    val normed = terms.zip(names).map { case ((w, c, higher), (a, b, n)) =>
      val (mn, mx) = (col(a), col(b))
      val scaled = (c - mn) / (mx - mn)
      lit(w) * when(col(n) === 0, 0.5)
        .when(c.isNull, 0.0)
        .when(abs(mx - mn) <= lit(1e-8) + lit(1e-5) * abs(mn), 0.5)
        .otherwise(if (higher) scaled else lit(1.0) - scaled)
    }
    df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail ++ attach: _*)))
      .withColumn(out, normed.reduce(_ + _))
      .drop(names.flatMap { case (a, b, n) => Seq(a, b, n) }: _*)
  }

  /** Combo candidate score within one run's grid (_score_combo_rows:
    * weights .32/.20/.24/.13/.06/.05, −20 zero-trade, clip 0-100), with
    * the grid's global `attach` aggregates on every row. */
  private def comboCandidate(scored: DataFrame, attach: Column*)
      : DataFrame =
    withNormSum(scored, "__norm", Seq(
        (0.32, col("expectancy"), true),
        (0.20, col("profit_factor"), true),
        (0.24, col("robustness_score_v2"), true),
        (0.13, col("ret_cv"), false),
        (0.06, col("downside_std"), false),
        (0.05, col("trade_count").cast("double"), true)), attach: _*)
      .withColumn("combo_candidate_score",
        greatest(least(lit(100.0) * col("__norm")
          - when(col("trade_count") === 0, 20.0).otherwise(0.0),
          lit(100.0)), lit(0.0)))
      .drop("__norm")

  /** The 4 distinct (mode, confirmBars) signal variants behind the
    * 8-combo grid — hold/fee don't change the signal frame, so the
    * walk-forward grids need only 4 signal chains per gate. */
  private[queries] val SigVariants: Seq[(String, Int)] =
    BacktestQueries2.GridCombos.map(c => (c.mode, c.confirmBars)).distinct
  private def variantIdx(c: Grid.Combo): Int =
    SigVariants.indexOf((c.mode, c.confirmBars))
  private[queries] val DefIdx = BacktestQueries2.GridCombos.indexOf(Default)

  private def gateKey(gate: Option[String]): String = gate match {
    case None => "base"
    case Some("block_veto") => "veto"
    case Some(_) => "allow"
  }

  /** Cached slim signal frame for one (gate, variant) — the input the
    * grid and walk-forward sims of that variant filter from. The
    * ungated default variant IS Stage.slimSignals (same chain, same
    * 10-column select) — reuse that cache instead of checkpointing a
    * duplicate. */
  private def gatedSig(s: SparkSession, dir: String, gate: Option[String],
      mode: String, cb: Int): DataFrame =
    if (gate.isEmpty && mode == Default.mode && cb == Default.confirmBars)
      Stage.slimSignals(s, dir)
    else Stage.cached(s, dir, s"hyb_wf_sig_${gateKey(gate)}_${mode}_$cb") {
      val sig = gate match {
        case Some(g) => gatedSignals(s, dir, g,
          Grid.Combo(mode, cb, Default.holdBars, Default.feeBps))
        case None =>
          Signals.generate(BacktestQueries2.gramSlim(s, dir), mode, cb)
      }
      sig.select("ticker", "bar_ts", "bar_id", "open", "high", "low",
        "close", "flow_state_code", "entry_signal", "signal_side")
    }

  /** 64-row per-(split, run) combo metric frame: 8 combos × 4 splits ×
    * {baseline, block_veto}. Each (gate, variant) signal frame is tagged
    * with its split index and with the variant's combo cells, so the 64
    * quarter-window sims run as ONE keyed simulation (cell =
    * hybrid|split|combo) and the 64 drawdown curves as ONE grouped
    * prefix scan. */
  private[queries] def wfMetrics(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "hyb_wf_metrics") {
      graft.ops.Pools.awaitAll(for {
        g <- Seq(None, Some("block_veto")); (m, cb) <- SigVariants
      } yield () => { gatedSig(s, dir, g, m, cb); () })
      val bounds = BacktestQueries2.gramSlim(s, dir)
        .agg(min("bar_ts"), max("bar_ts")).head
      val ss = WalkForward.splits(bounds.getLong(0), bounds.getLong(1),
        graft.Settings.walkForward.nSplits)
      val combos = Grid.cells(BacktestQueries2.GridCombos)
      val frames = for {
        hybrid <- Seq(0, 1); (m, cb) <- SigVariants
      } yield {
        val gate = if (hybrid == 1) Some("block_veto") else None
        Grid.tagCells(
            WalkForward.tagSplits(gatedSig(s, dir, gate, m, cb), ss),
            combos.filter(c => c._2.mode == m && c._2.confirmBars == cb))
          .withColumn("cell",
            concat_ws("|", lit(hybrid), col("split_idx"), col("cell")))
      }
      val cells = for {
        hybrid <- Seq(0, 1); sp <- ss; (ci, c) <- combos
      } yield (s"$hybrid|${sp.idx}|$ci", ci.toInt, c, sp.idx, hybrid == 1)
      val trades = Engine.simulate(frames.reduce(_.unionByName(_)),
        cells.map(c => c._1 -> c._3.config).toMap)
      import s.implicits._
      val meta = cells.map { case (cell, ci, c, sp, h) => (cell, ci,
          BacktestQueries2.comboId(c), c.mode, c.confirmBars, c.holdBars,
          c.feeBps, sp, h) }
        .toDF("cell", "combo_idx", "combo_id", "mode", "confirm_bars",
          "hold_bars", "fee_bps", "split_idx", "is_hybrid")
      BacktestQueries2.comboMetrics(trades, meta)
    }

  /** Run-level overlay diagnostics over the default combo's signal
    * frame: coverage match rate and the vetoed-entry share per gate. */
  private def ovlStats(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "hyb_ovl_stats") {
      val sig = Signals.generate(BacktestQueries2.gramSlim(s, dir),
        Default.mode, Default.confirmBars)
      val withPol = Overlay.applyPolicy(
        sig.select((Keys :+ "entry_signal").map(col): _*),
        pol0(s, dir), Keys)
      val entry = col("entry_signal")
      def vetoShare(gate: Column) =
        round(when(Cols.countIf(entry) > 0,
          Cols.countIf(entry && !gate).cast("double")
            / Cols.countIf(entry)).otherwise(0.0), 9)
      withPol.agg(
        round(Cols.hitRate(col("overlay_covered")), 9).as("match_rate"),
        vetoShare(gateExpr("allow_only")).as("veto_share_allow"),
        vetoShare(gateExpr("block_veto")).as("veto_share_veto"))
    }

  /** The run comparison table: one row per run with its best combo,
    * zero-trade share, overlay diagnostics, cross-run candidate score,
    * and recommendation class. */
  private[queries] def runTable(s: SparkSession, dir: String): DataFrame = {
    val rows = Runs.map { run =>
      val ccs = comboCandidate(runScored(s, dir, run.mode),
        round(avg(when(col("trade_count") === 0, 1.0).otherwise(0.0)), 9)
          .as("best_zero_trade_share"))
      // best combo via a parallel TakeOrdered (orderBy+limit(1)) over
      // the same total order — the retired row_number==1 filter ran a
      // single-task unpartitioned window; the surviving row is
      // bit-identical
      val top = ccs.orderBy(
          col("combo_candidate_score").desc_nulls_last,
          col("expectancy").desc_nulls_last,
          col("profit_factor").desc_nulls_last,
          col("combo_id"))
        .limit(1)
      val ovl = ovlStats(s, dir)
      val (mRate, uRate, vShare) = run.mode match {
        case None => (lit(null).cast("double"), lit(null).cast("double"),
          lit(null).cast("double"))
        case Some("allow_only") => (col("match_rate"),
          round(lit(1.0) - col("match_rate"), 9), col("veto_share_allow"))
        case _ => (col("match_rate"),
          round(lit(1.0) - col("match_rate"), 9), col("veto_share_veto"))
      }
      top.crossJoin(ovl).select(
        lit(run.label).as("run_label"),
        run.mode.map(m => lit(m).cast("string"))
          .getOrElse(lit(null).cast("string")).as("overlay_mode"),
        lit(run.mode.isDefined).as("overlay_enabled"),
        lit("OK").as("status"),
        col("combo_id").as("best_combo_id"),
        col("expectancy").as("best_expectancy"),
        col("profit_factor").as("best_pf"),
        col("robustness_score_v2").as("best_robustness_v2"),
        col("ret_cv").as("best_ret_cv"),
        col("trade_count").as("best_trade_count"),
        col("downside_std").as("best_downside_std"),
        col("best_zero_trade_share"),
        mRate.as("overlay_match_rate"),
        uRate.as("overlay_unknown_rate"),
        vShare.as("overlay_vetoed_signal_share"),
        round(col("combo_candidate_score"), 6)
          .as("combo_candidate_score"))
    }
    withNormSum(rows.reduce(_.unionByName(_)), "__norm", Seq(
        (0.30, col("best_expectancy"), true),
        (0.20, col("best_pf"), true),
        (0.25, col("best_robustness_v2"), true),
        (0.15, col("best_ret_cv"), false),
        (0.07, col("best_downside_std"), false),
        (0.03, col("best_zero_trade_share"), false)),
        max(when(col("run_label") === "HMM baseline",
          col("best_trade_count"))).as("__base_tc"))
      .withColumn("single_raw",
        greatest(least(lit(100.0) * col("__norm")
          - when(col("overlay_vetoed_signal_share") > 0.80, 5.0)
            .otherwise(0.0), lit(100.0)), lit(0.0)))
      .withColumn("recommendation_label",
        when(col("single_raw") >= 72.0
          && col("best_zero_trade_share") <= 0.25
          && (col("best_ret_cv").isNull || col("best_ret_cv") <= 20.0)
          && col("status") === "OK", "PROMOTE")
          .when(!col("overlay_enabled") && col("single_raw") >= 56.0
            && col("status") === "OK", "KEEP_AS_BENCH")
          .when(col("overlay_enabled") && col("status") === "OK"
            && (coalesce(col("overlay_vetoed_signal_share"), lit(0.0))
                >= 0.50
              || col("best_trade_count") < lit(0.60) * col("__base_tc")),
            "NICHE_FILTER")
          .otherwise("RESEARCH_ONLY"))
      .withColumn("single_candidate_score", round(col("single_raw"), 6))
      .drop("__norm", "__base_tc", "single_raw")
      .orderBy("run_label")
  }

  // ---------------- SQL mirrors ----------------

  private def polSql = """
      pol0 AS (
        SELECT ticker, bar_ts, bar_id, bar_id % 5 <> 0 AS policy_allowed
        FROM grammar WHERE bar_id % 3 = 0
        UNION ALL
        SELECT ticker, bar_ts, bar_id, false AS policy_allowed
        FROM grammar WHERE bar_id % 21 = 0),
      pol AS (
        SELECT ticker, bar_ts, bar_id, policy_allowed FROM (
          SELECT *, row_number() OVER (PARTITION BY ticker, bar_ts, bar_id
            ORDER BY policy_allowed ASC) AS rn
          FROM pol0) WHERE rn = 1)"""

  /** Gate expressions over the LEFT-joined raw policy row `p`
    * (pre-coalesce, unlike the Spark side's applyPolicy columns —
    * same truth table). */
  private def gateSql(mode: String): String = mode match {
    case "allow_only" =>
      "(p.policy_allowed IS NOT NULL AND p.policy_allowed)"
    case "block_veto" => "coalesce(p.policy_allowed, true)"
  }

  private def normSql(x: String, higher: Boolean): String = {
    val mn = s"min($x) OVER ()"
    val mx = s"max($x) OVER ()"
    val scaled = s"(($x) - $mn) / ($mx - $mn)"
    val oriented = if (higher) scaled else s"1.0 - $scaled"
    s"""CASE WHEN count($x) OVER () = 0 THEN 0.5
           WHEN $x IS NULL THEN 0.0
           WHEN abs($mx - $mn) <= 0.00000001 + 0.00001 * abs($mn)
             THEN 0.5
           ELSE $oriented END"""
  }

  private def comboCandidateSql(src: String, out: String): String = s"""
      $out AS (
        SELECT *, greatest(least(
          100.0 * (0.32 * ${normSql("expectancy", higher = true)}
            + 0.20 * ${normSql("profit_factor", higher = true)}
            + 0.24 * ${normSql("robustness_score_v2", higher = true)}
            + 0.13 * ${normSql("ret_cv", higher = false)}
            + 0.06 * ${normSql("downside_std", higher = false)}
            + 0.05 * ${normSql("CAST(trade_count AS DOUBLE)",
                higher = true)})
          - CASE WHEN trade_count = 0 THEN 20.0 ELSE 0.0 END,
          100.0), 0.0) AS combo_candidate_score
        FROM $src)"""

  private def runRowSql(run: Run, src: String): String = {
    val (mRate, uRate, vShare) = run.mode match {
      case None => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        "CAST(NULL AS DOUBLE)")
      case Some("allow_only") =>
        ("o.match_rate", "round(1.0 - o.match_rate, 9)",
          "o.veto_share_allow")
      case _ => ("o.match_rate", "round(1.0 - o.match_rate, 9)",
        "o.veto_share_veto")
    }
    val mode = run.mode.map(m => s"'$m'").getOrElse("CAST(NULL AS VARCHAR)")
    s"""
      SELECT '${run.label}' AS run_label, $mode AS overlay_mode,
             ${run.mode.isDefined} AS overlay_enabled, 'OK' AS status,
             t.combo_id AS best_combo_id,
             t.expectancy AS best_expectancy,
             t.profit_factor AS best_pf,
             t.robustness_score_v2 AS best_robustness_v2,
             t.ret_cv AS best_ret_cv,
             t.trade_count AS best_trade_count,
             t.downside_std AS best_downside_std,
             z.best_zero_trade_share,
             $mRate AS overlay_match_rate,
             $uRate AS overlay_unknown_rate,
             $vShare AS overlay_vetoed_signal_share,
             round(t.combo_candidate_score, 6) AS combo_candidate_score
      FROM (SELECT * FROM ${src}_ccs
            ORDER BY combo_candidate_score DESC NULLS LAST,
                     expectancy DESC NULLS LAST,
                     profit_factor DESC NULLS LAST, combo_id
            LIMIT 1) t,
           (SELECT round(avg(CASE WHEN trade_count = 0 THEN 1.0
              ELSE 0.0 END), 9) AS best_zero_trade_share FROM $src) z,
           ovl o"""
  }

  private[queries] def hybridSql: String = {
    val variants = Seq(
      ("cs_base", None),
      ("cs_allow", Some(gateSql("allow_only"))),
      ("cs_veto", Some(gateSql("block_veto"))))
    val csCtes = variants.map { case (n, g) =>
      BacktestQueries2.comboScoredSql(g, n) }.mkString(",\n")
    val ccsCtes = variants.map { case (n, _) =>
      comboCandidateSql(n, s"${n}_ccs") }.mkString(",\n")
    val rowSqls = Runs.zip(variants).map { case (run, (n, _)) =>
      runRowSql(run, n) }.mkString(" UNION ALL ")
    s"""
      $polSql,
      $csCtes,
      $ccsCtes,
      ovl AS (
        (WITH RECURSIVE ${Signals.sql(Default.mode, Default.confirmBars)}
         SELECT
           round(CAST(count(CASE WHEN p.policy_allowed IS NOT NULL
               THEN 1 END) AS DOUBLE) / count(*), 9) AS match_rate,
           round(CASE WHEN count(CASE WHEN s.entry_signal THEN 1 END) > 0
             THEN CAST(count(CASE WHEN s.entry_signal
                 AND NOT ${gateSql("allow_only")} THEN 1 END) AS DOUBLE)
               / count(CASE WHEN s.entry_signal THEN 1 END)
             ELSE 0.0 END, 9) AS veto_share_allow,
           round(CASE WHEN count(CASE WHEN s.entry_signal THEN 1 END) > 0
             THEN CAST(count(CASE WHEN s.entry_signal
                 AND NOT ${gateSql("block_veto")} THEN 1 END) AS DOUBLE)
               / count(CASE WHEN s.entry_signal THEN 1 END)
             ELSE 0.0 END, 9) AS veto_share_veto
         FROM signals s LEFT JOIN pol p
           ON s.ticker = p.ticker AND s.bar_ts = p.bar_ts
             AND s.bar_id = p.bar_id)),
      rt AS ($rowSqls),
      rt_scored AS (
        SELECT *, greatest(least(
          100.0 * (0.30 * ${normSql("best_expectancy", higher = true)}
            + 0.20 * ${normSql("best_pf", higher = true)}
            + 0.25 * ${normSql("best_robustness_v2", higher = true)}
            + 0.15 * ${normSql("best_ret_cv", higher = false)}
            + 0.07 * ${normSql("best_downside_std", higher = false)}
            + 0.03 * ${normSql("best_zero_trade_share", higher = false)})
          - CASE WHEN overlay_vetoed_signal_share > 0.80 THEN 5.0
              ELSE 0.0 END, 100.0), 0.0) AS single_raw
        FROM rt),
      rt_final AS (
        SELECT *,
          CASE WHEN single_raw >= 72.0 AND best_zero_trade_share <= 0.25
                 AND (best_ret_cv IS NULL OR best_ret_cv <= 20.0)
                 AND status = 'OK' THEN 'PROMOTE'
               WHEN NOT overlay_enabled AND single_raw >= 56.0
                 AND status = 'OK' THEN 'KEEP_AS_BENCH'
               WHEN overlay_enabled AND status = 'OK'
                 AND (coalesce(overlay_vetoed_signal_share, 0.0) >= 0.50
                   OR best_trade_count < 0.60
                     * (max(CASE WHEN run_label = 'HMM baseline'
                         THEN best_trade_count END) OVER ()))
                 THEN 'NICHE_FILTER'
               ELSE 'RESEARCH_ONLY' END AS recommendation_label,
          round(single_raw, 6) AS single_candidate_score
        FROM rt_scored)"""
  }

  // ---------------- queries ----------------

  private def prefixSql = s"""${MarketData.barsSql},
      ${Indicators.twiggsSql},
      ${EventGrammar.grammarSql}"""

  def all: Seq[Q] = Seq(

    // Hybrid overlay evaluation: grid under 3 overlay variants → per-run
    // best combo, cross-run scores, recommendation classes
    Q("q_hybrid_eval", Some(s"""
      WITH RECURSIVE $prefixSql,
      $hybridSql
      SELECT run_label, overlay_mode, overlay_enabled, status,
             best_combo_id, best_expectancy, best_pf, best_robustness_v2,
             best_ret_cv, best_trade_count, best_downside_std,
             best_zero_trade_share, overlay_match_rate,
             overlay_unknown_rate, overlay_vetoed_signal_share,
             combo_candidate_score, single_candidate_score,
             recommendation_label
      FROM rt_final ORDER BY run_label""")) { (s, dir) =>
      runTable(s, dir)
        .select("run_label", "overlay_mode", "overlay_enabled", "status",
          "best_combo_id", "best_expectancy", "best_pf",
          "best_robustness_v2", "best_ret_cv", "best_trade_count",
          "best_downside_std", "best_zero_trade_share",
          "overlay_match_rate", "overlay_unknown_rate",
          "overlay_vetoed_signal_share", "combo_candidate_score",
          "single_candidate_score", "recommendation_label")
        .orderBy("run_label")
    },

    // Key deltas of each overlay run vs the baseline (_build_key_delta)
    Q("q_hybrid_key_deltas", Some(s"""
      WITH RECURSIVE $prefixSql,
      $hybridSql,
      b AS (SELECT * FROM rt_final WHERE run_label = 'HMM baseline')
      SELECT r.run_label AS comparison,
             round(r.best_expectancy - b.best_expectancy, 9)
               AS delta_expectancy,
             round(r.best_pf - b.best_pf, 6) AS delta_pf,
             round(r.best_robustness_v2 - b.best_robustness_v2, 6)
               AS delta_robustness_v2,
             round(r.best_ret_cv - b.best_ret_cv, 6) AS delta_ret_cv,
             round(r.best_zero_trade_share - b.best_zero_trade_share, 9)
               AS delta_zero_trade_share,
             CAST(r.best_trade_count - b.best_trade_count AS BIGINT)
               AS delta_trade_count
      FROM rt_final r CROSS JOIN b
      WHERE r.run_label <> 'HMM baseline'
      ORDER BY r.run_label""")) { (s, dir) =>
      val rt = runTable(s, dir)
      val b = rt.filter(col("run_label") === "HMM baseline")
        .select(col("best_expectancy").as("b_exp"),
          col("best_pf").as("b_pf"),
          col("best_robustness_v2").as("b_rob"),
          col("best_ret_cv").as("b_cv"),
          col("best_zero_trade_share").as("b_zero"),
          col("best_trade_count").as("b_tc"))
      rt.filter(col("run_label") =!= "HMM baseline")
        .crossJoin(broadcast(b))
        .select(col("run_label").as("comparison"),
          round(col("best_expectancy") - col("b_exp"), 9)
            .as("delta_expectancy"),
          round(col("best_pf") - col("b_pf"), 6).as("delta_pf"),
          round(col("best_robustness_v2") - col("b_rob"), 6)
            .as("delta_robustness_v2"),
          round(col("best_ret_cv") - col("b_cv"), 6).as("delta_ret_cv"),
          round(col("best_zero_trade_share") - col("b_zero"), 9)
            .as("delta_zero_trade_share"),
          (col("best_trade_count") - col("b_tc")).cast("long")
            .as("delta_trade_count"))
        .orderBy("comparison")
    },

    // Walk-forward consistency of the hybrid (block_veto) vs baseline:
    // per-split default-combo sims for both runs, hybrid win counts and
    // mean deltas, and the reference's consistency score
    Q("q_hybrid_wf", Some {
      // one signal chain per (gate, variant) — MATERIALIZED so the 64
      // split×combo sim cells below filter from 8 computed frames
      // instead of re-deriving signals per cell
      def sigChain(k: Int): String = {
        val (m, cb) = SigVariants(k)
        s"""
        sigv_$k AS MATERIALIZED (
          WITH ${Signals.sql(m, cb)} SELECT * FROM signals),
        gsig_$k AS MATERIALIZED (
          SELECT s.* REPLACE ((s.entry_signal AND ${gateSql("block_veto")})
            AS entry_signal)
          FROM sigv_$k s LEFT JOIN pol p
            ON s.ticker = p.ticker AND s.bar_ts = p.bar_ts
              AND s.bar_id = p.bar_id)"""
      }
      val nWf = graft.Settings.walkForward.nSplits
      def cell(i: Int, hybrid: Boolean, c: Grid.Combo, ci: Int): String = {
        val src = (if (hybrid) "gsig_" else "sigv_") + variantIdx(c)
        val whereEnd =
          if (i == nWf - 1) "wb.hi"
          else s"wb.lo + ${i + 1} * wb.step"
        s"""
        (WITH RECURSIVE
         win AS (SELECT g.* FROM $src g, wb
                 WHERE g.bar_ts > wb.lo + $i * wb.step
                   AND g.bar_ts <= $whereEnd),
         ${Engine.tradesSql(Engine.Config(c.holdBars, c.feeBps),
            src = "win")},
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
         SELECT $i AS split_idx, $hybrid AS is_hybrid, $ci AS combo_idx,
                '${BacktestQueries2.comboId(c)}' AS combo_id,
                '${c.mode}' AS mode, ${c.confirmBars} AS confirm_bars,
                ${c.holdBars} AS hold_bars,
                CAST(${c.feeBps} AS DOUBLE) AS fee_bps,
                m.*, dd.max_drawdown
         FROM m CROSS JOIN dd)"""
      }
      val chains = SigVariants.indices.map(sigChain).mkString(",")
      val cells = (for {
        h <- Seq(false, true); i <- 0 until nWf
        (c, ci) <- BacktestQueries2.GridCombos.zipWithIndex
      } yield cell(i, h, c, ci)).mkString(" UNION ALL ")
      s"""
      WITH RECURSIVE $prefixSql,
      $polSql,
      wb AS (SELECT min(bar_ts) AS lo, max(bar_ts) AS hi,
                    (max(bar_ts) - min(bar_ts)) // $nWf AS step
             FROM grammar),
      $chains,
      wf_combos AS ($cells),
      ${BacktestQueries2.rankScoreTailSql("wf_", "wf_cs",
          Seq("split_idx", "is_hybrid"))},
      defrows AS (SELECT * FROM wf_cs WHERE combo_idx = $DefIdx),
      j AS (
        SELECT b.split_idx,
               h.expectancy - b.expectancy AS d_exp,
               h.profit_factor - b.profit_factor AS d_pf,
               h.ret_cv - b.ret_cv AS d_cv,
               h.robustness_score_v2 - b.robustness_score_v2 AS d_v2
        FROM (SELECT * FROM defrows WHERE NOT is_hybrid) b
        JOIN (SELECT * FROM defrows WHERE is_hybrid) h USING (split_idx)),
      ovl AS (
        SELECT round(CASE WHEN count(CASE WHEN s.entry_signal THEN 1 END)
            > 0
          THEN CAST(count(CASE WHEN s.entry_signal
              AND NOT ${gateSql("block_veto")} THEN 1 END) AS DOUBLE)
            / count(CASE WHEN s.entry_signal THEN 1 END)
          ELSE 0.0 END, 9) AS veto_share
        FROM sigv_${variantIdx(Default)} s LEFT JOIN pol p
          ON s.ticker = p.ticker AND s.bar_ts = p.bar_ts
            AND s.bar_id = p.bar_id)
      SELECT 'hmm' AS source, 'baseline_vs_hybrid' AS comparison,
             count(*) AS split_count,
             count(CASE WHEN d_exp > 0 THEN 1 END)
               AS hybrid_wins_expectancy,
             count(CASE WHEN d_pf > 0 THEN 1 END) AS hybrid_wins_pf,
             count(CASE WHEN d_v2 > 0 THEN 1 END)
               AS hybrid_wins_robustness_v2,
             count(CASE WHEN d_cv < 0 THEN 1 END) AS hybrid_wins_ret_cv,
             round(avg(d_exp), 9) AS avg_delta_expectancy,
             round(avg(d_pf), 6) AS avg_delta_pf,
             round(avg(d_cv), 6) AS avg_delta_ret_cv,
             CAST(NULL AS DOUBLE) AS baseline_overlay_vetoed_signal_share,
             (SELECT veto_share FROM ovl)
               AS hybrid_overlay_vetoed_signal_share,
             round(greatest(least(100.0 * (
               0.30 * (CAST(count(CASE WHEN d_exp > 0 THEN 1 END)
                 AS DOUBLE) / greatest(count(*), 1))
               + 0.20 * (CAST(count(CASE WHEN d_pf > 0 THEN 1 END)
                 AS DOUBLE) / greatest(count(*), 1))
               + 0.30 * (CAST(count(CASE WHEN d_v2 > 0 THEN 1 END)
                 AS DOUBLE) / greatest(count(*), 1))
               + 0.20 * (CAST(count(CASE WHEN d_cv < 0 THEN 1 END)
                 AS DOUBLE) / greatest(count(*), 1))), 100.0), 0.0), 6)
               AS wf_consistency_score
      FROM j"""
    }) { (s, dir) =>
      val cs = BacktestQueries2.scoreCombos(wfMetrics(s, dir),
        Seq("split_idx", "is_hybrid"))
      val defrows = cs.filter(col("combo_idx") === DefIdx)
      val b = defrows.filter(!col("is_hybrid"))
        .select(col("split_idx"), col("expectancy").as("b_exp"),
          col("profit_factor").as("b_pf"), col("ret_cv").as("b_cv"),
          col("robustness_score_v2").as("b_v2"))
      val h = defrows.filter(col("is_hybrid"))
        .select(col("split_idx"), col("expectancy").as("h_exp"),
          col("profit_factor").as("h_pf"), col("ret_cv").as("h_cv"),
          col("robustness_score_v2").as("h_v2"))
      val j = b.join(h, "split_idx")
        .select((col("h_exp") - col("b_exp")).as("d_exp"),
          (col("h_pf") - col("b_pf")).as("d_pf"),
          (col("h_cv") - col("b_cv")).as("d_cv"),
          (col("h_v2") - col("b_v2")).as("d_v2"))
      val veto = ovlStats(s, dir).select(
        col("veto_share_veto").as("hyb_veto"))
      def winShare(c: Column) =
        c.cast("double") / greatest(count(lit(1)), lit(1))
      j.agg(
          count(lit(1)).as("split_count"),
          Cols.countIf(col("d_exp") > 0).as("hybrid_wins_expectancy"),
          Cols.countIf(col("d_pf") > 0).as("hybrid_wins_pf"),
          Cols.countIf(col("d_v2") > 0).as("hybrid_wins_robustness_v2"),
          Cols.countIf(col("d_cv") < 0).as("hybrid_wins_ret_cv"),
          round(avg("d_exp"), 9).as("avg_delta_expectancy"),
          round(avg("d_pf"), 6).as("avg_delta_pf"),
          round(avg("d_cv"), 6).as("avg_delta_ret_cv"),
          round(greatest(least(lit(100.0)
            * (lit(0.30) * winShare(Cols.countIf(col("d_exp") > 0))
              + lit(0.20) * winShare(Cols.countIf(col("d_pf") > 0))
              + lit(0.30) * winShare(Cols.countIf(col("d_v2") > 0))
              + lit(0.20) * winShare(Cols.countIf(col("d_cv") < 0))),
            lit(100.0)), lit(0.0)), 6).as("wf_consistency_score"))
        .crossJoin(broadcast(veto))
        .select(lit("hmm").as("source"),
          lit("baseline_vs_hybrid").as("comparison"),
          col("split_count"),
          col("hybrid_wins_expectancy"), col("hybrid_wins_pf"),
          col("hybrid_wins_robustness_v2"),
          col("hybrid_wins_ret_cv"),
          col("avg_delta_expectancy"), col("avg_delta_pf"),
          col("avg_delta_ret_cv"),
          lit(null).cast("double")
            .as("baseline_overlay_vetoed_signal_share"),
          col("hyb_veto").as("hybrid_overlay_vetoed_signal_share"),
          col("wf_consistency_score"))
    }
  )
}
