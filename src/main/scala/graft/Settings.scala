package graft

import java.io.FileInputStream
import java.util.Properties

/** Runtime configuration surface — the engine mirror of the reference's
  * externalized settings (ref: src/mf_etl/config.py:667-724,
  * configs/settings.yaml). The reference layers pydantic-settings
  * sources: init args > `MF_ETL_*` env vars (`__` nesting) > the YAML
  * file > defaults. The engine keeps the same key names and the same
  * defaults, resolved per lookup (driver-side, plan-construction time —
  * never in a hot path) with the same precedence shape:
  *
  *   1. JVM system property  `graft.<section>.<key>`    (tests, ad hoc)
  *   2. environment variable `GRAFT_<SECTION>__<KEY>`   (deploy-time)
  *   3. properties file named by `-Dgraft.settings.file` /
  *      `GRAFT_SETTINGS_FILE` (keys as `section.key`)   (site config)
  *   4. compiled default     (== configs/settings.yaml value)
  *
  * Lookups are live `def`s, so a test can set a system property, build a
  * plan, and clear it — no reload machinery. Values are memoized per
  * (key, defaults-unset) only via the props-file cache; the sysprop/env
  * checks are O(1).
  *
  * Deliberately compile-time (NOT exposed here): `indicators.tmf_period`
  * — the period is baked into downstream feature NAMES (`tmf_21`,
  * `tti_proxy_v1_21`, ... across silver/gold/grammar), so changing it is
  * a schema change, not a tuning knob; the reference has the same
  * coupling (silver/indicators_twiggs.py names columns by period).
  */
object Settings {

  /** Properties file (source 3), loaded once per named file. */
  @volatile private var fileCache: Option[(String, Properties)] = None

  /** Environment source — a `var` ONLY so tests can inject an
    * environment (the JVM cannot setenv); production never reassigns
    * it. Reads go through this for both the `GRAFT_*` override layer
    * and the settings-file path variable. */
  @volatile private[graft] var envSource: String => Option[String] =
    k => sys.env.get(k)

  private def fileProps(): Option[Properties] = {
    val path = sys.props.get("graft.settings.file")
      .orElse(envSource("GRAFT_SETTINGS_FILE"))
    path.map { p =>
      fileCache match {
        case Some((cp, props)) if cp == p => props
        case _ =>
          val props = new Properties()
          val in = new FileInputStream(p)
          try props.load(in) finally in.close()
          fileCache = Some((p, props))
          props
      }
    }
  }

  private def envKey(key: String): String =
    "GRAFT_" + key.toUpperCase.replace(".", "__")

  /** Raw lookup through the precedence chain; None → compiled default. */
  def raw(key: String): Option[String] =
    sys.props.get(s"graft.$key")
      .orElse(envSource(envKey(key)))
      .orElse(fileProps().flatMap(p => Option(p.getProperty(key))))

  def str(key: String, default: String): String = raw(key).getOrElse(default)
  def int(key: String, default: Int): Int = raw(key).map(_.trim.toInt).getOrElse(default)
  def dbl(key: String, default: Double): Double = raw(key).map(_.trim.toDouble).getOrElse(default)
  def bool(key: String, default: Boolean): Boolean = raw(key).map(_.trim.toBoolean).getOrElse(default)
  /** Comma-separated int list (yaml `[5, 20]` → `5,20`). */
  def ints(key: String, default: Seq[Int]): Seq[Int] =
    raw(key).map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(default)
  /** Comma-separated double list (yaml `[0.0, 1.0]` → `0,1`). */
  def dbls(key: String, default: Seq[Double]): Seq[Double] =
    raw(key).map(_.split(",").map(_.trim.toDouble).toSeq).getOrElse(default)
  /** Comma-separated string list. */
  def strs(key: String, default: Seq[String]): Seq[String] =
    raw(key).map(_.split(",").map(_.trim).toSeq).getOrElse(default)
  /** Optional double: the literals `null` / `none` (yaml `null`) mean
    * absent. */
  def dblOpt(key: String, default: Option[Double]): Option[Double] =
    raw(key).map(_.trim).map {
      case v if v.equalsIgnoreCase("null") || v.equalsIgnoreCase("none") =>
        None
      case v => Some(v.toDouble)
    }.getOrElse(default)
  /** Comma-separated optional-double list (yaml `[null, 5.0]` →
    * `null,5.0`). */
  def dblOpts(key: String, default: Seq[Option[Double]])
      : Seq[Option[Double]] =
    raw(key).map(_.split(",").map(_.trim).toSeq.map {
      case v if v.equalsIgnoreCase("null") || v.equalsIgnoreCase("none") =>
        None
      case v => Option(v.toDouble)
    }).getOrElse(default)

  // ---- typed views of the sections the engine consumes --------------
  // Key names and defaults match configs/settings.yaml verbatim.

  /** `validation:` block (settings.yaml:24-28). */
  object validation {
    def suspiciousRangePct: Double = dbl("validation.suspicious_range_pct_threshold", 0.5)
    def gapDaysWarn: Int = int("validation.gap_days_warn_threshold", 7)
    /** `validation.bootstrap:` (settings.yaml:29-34). */
    def bootstrapNBoot: Int = int("validation.bootstrap.n_boot", 1000)
    def bootstrapCi: Double = dbl("validation.bootstrap.ci", 0.95)
    def bootstrapBlockLength: Int = int("validation.bootstrap.block_length", 10)
    def bootstrapSeed: Int = int("validation.bootstrap.random_state", 42)
    /** `validation.event_study:` (settings.yaml:35-38). */
    def eventWindowPre: Int = int("validation.event_study.window_pre", 10)
    def eventWindowPost: Int = int("validation.event_study.window_post", 20)
    def minEventsPerTransition: Int = int("validation.event_study.min_events_per_transition", 50)
    /** `validation.rolling_stability:` (settings.yaml:39-41). */
    def stabilityWindowMonths: Int = int("validation.rolling_stability.window_months", 12)
    def stabilityStepMonths: Int = int("validation.rolling_stability.step_months", 3)
  }

  /** `event_grammar:` block (settings.yaml:58-65). */
  object eventGrammar {
    def respectFailLookback: Int = int("event_grammar.respect_fail_lookahead_bars", 10)
    def holdBars: Int = int("event_grammar.hold_consecutive_bars", 5)
    def burstAbsThreshold: Double = dbl("event_grammar.tmf_burst_abs_threshold", 0.15)
    def burstSlopeThreshold: Double = dbl("event_grammar.tmf_burst_slope_threshold", 0.05)
    def activityWindows: Seq[Int] = ints("event_grammar.activity_windows", Seq(5, 20))
    /** Respect band — the |lag(tmf)| < band gate on respect-zero pivots
      * (ref: src/mf_etl/gold/event_grammar_v1.py respect_zero band). */
    def respectBand: Double = dbl("event_grammar.respect_band", 0.10)
  }

  /** `gold_features:` block (settings.yaml:67-76). */
  object goldFeatures {
    def wZero: Double = dbl("gold_features.score_weights.zero", 1.0)
    def wRespect: Double = dbl("gold_features.score_weights.respect", 2.0)
    def wBurst: Double = dbl("gold_features.score_weights.burst", 2.0)
    def wHold: Double = dbl("gold_features.score_weights.hold", 1.5)
    def recencyClipBars: Int = int("gold_features.recency_clip_bars", 20)
  }

  /** `backtest:` defaults (settings.yaml:129-140). */
  object backtest {
    def holdBars: Int = int("backtest.hold_bars", 10)
    def feeBpsPerSide: Double = dbl("backtest.fee_bps_per_side", 0.0)
    def slippageBpsPerSide: Double = dbl("backtest.slippage_bps_per_side", 0.0)
  }

  /** `backtest_sensitivity:` (ref sensitivity_runner max_combos cap). */
  object sensitivity {
    def maxCombos: Int = int("backtest_sensitivity.max_combos", 500)
  }

  /** `precision:` block (settings.yaml:14-17) — layer float dtypes.
    * Accepted values: `float32` | `float64`. */
  object precision {
    def bronzeFloat: String = str("precision.bronze_float", "float64")
    def silverFloat: String = str("precision.silver_float", "float32")
    def goldFloat: String = str("precision.gold_float", "float32")
  }

  /** `parquet:` block (settings.yaml:19-22). */
  object parquet {
    def compression: String = str("parquet.compression", "zstd")
  }

  /** `cluster_hardening:` block (settings.yaml:101-126) — the
    * ALLOW/WATCH/BLOCK policy thresholds, risk penalties, and score
    * weights the tradability scorer applies. `min_transition_events`
    * and `near_zero_abs_mean` are the hardening module's own internal
    * defaults (ref research/cluster_hardening.py), surfaced alongside
    * the yaml keys. */
  object clusterHardening {
    def minNRowsHard: Int = int("cluster_hardening.min_n_rows_hard", 200)
    def minStateShareHard: Double = dbl("cluster_hardening.min_state_share_hard", 0.03)
    def retCvHard: Double = dbl("cluster_hardening.ret_cv_hard", 6.0)
    def signConsistencyHard: Double = dbl("cluster_hardening.sign_consistency_hard", 0.55)
    def ciWidthHardQuantile: Double = dbl("cluster_hardening.ci_width_hard_quantile", 0.8)
    def scoreMinAllow: Double = dbl("cluster_hardening.score_min_allow", 70.0)
    def scoreMinWatch: Double = dbl("cluster_hardening.score_min_watch", 45.0)
    def minTransitionEvents: Int = int("cluster_hardening.min_transition_events", 40)
    def nearZeroAbsMean: Double = dbl("cluster_hardening.near_zero_abs_mean", 0.001)
    def penLowN: Double = dbl("cluster_hardening.penalties.LOW_N", 20.0)
    def penLowOccupancy: Double = dbl("cluster_hardening.penalties.LOW_OCCUPANCY", 20.0)
    def penNearZero: Double = dbl("cluster_hardening.penalties.MEAN_NEAR_ZERO_CV_INFLATION", 15.0)
    def penWideCi: Double = dbl("cluster_hardening.penalties.WIDE_CI", 15.0)
    def penSignFlip: Double = dbl("cluster_hardening.penalties.SIGN_FLIP_ACROSS_WINDOWS", 20.0)
    def penDrift: Double = dbl("cluster_hardening.penalties.WINDOW_DRIFT_HIGH", 15.0)
    def penOutlier: Double = dbl("cluster_hardening.penalties.LIKELY_OUTLIER_WINDOW", 10.0)
    def penSparse: Double = dbl("cluster_hardening.penalties.TRANSITIONS_TOO_SPARSE", 10.0)
    def wSampleSize: Double = dbl("cluster_hardening.weights.sample_size", 0.15)
    def wOccupancy: Double = dbl("cluster_hardening.weights.occupancy", 0.15)
    def wSignConfidence: Double = dbl("cluster_hardening.weights.sign_confidence", 0.2)
    def wCiWidth: Double = dbl("cluster_hardening.weights.ci_width", 0.15)
    def wSignConsistency: Double = dbl("cluster_hardening.weights.sign_consistency", 0.15)
    def wRetCv: Double = dbl("cluster_hardening.weights.ret_cv", 0.1)
    def wConfidenceScore: Double = dbl("cluster_hardening.weights.confidence_score", 0.1)
  }

  /** `backtest_execution_realism:` block (settings.yaml:169-196).
    * The yaml expresses gates as named profiles; [[profileMinPrice]]
    * etc. resolve a profile's thresholds with per-key overrides, and
    * the `gate.*` keys pin the demo gate the driver's q_exec_* queries
    * apply (minPrice 5 / dollarVol 500k / warmup 21 / volCap 8%). */
  object execRealism {
    def defaultProfile: String = str("backtest_execution_realism.default_profile", "none")
    def dollarVolWindow: Int = int("backtest_execution_realism.dollar_vol_window", 20)
    def minHistoryBarsDefault: Int = int("backtest_execution_realism.min_history_bars_default", 50)
    private val profileDefaults: Map[String, (Option[Double], Option[Double], Option[Double], Option[Double])] = Map(
      "none" -> ((None, None, None, None)),
      "lite" -> ((Some(2.0), Some(1000000.0), Some(0.12), Some(50.0))),
      "strict" -> ((Some(5.0), Some(5000000.0), Some(0.08), Some(100.0))))
    private def pd(name: String) = profileDefaults.getOrElse(name, (None, None, None, None))
    def profileMinPrice(name: String): Option[Double] =
      dblOpt(s"backtest_execution_realism.profiles.$name.min_price", pd(name)._1)
    def profileMinDollarVol20(name: String): Option[Double] =
      dblOpt(s"backtest_execution_realism.profiles.$name.min_dollar_vol_20", pd(name)._2)
    def profileMaxVolPct(name: String): Option[Double] =
      dblOpt(s"backtest_execution_realism.profiles.$name.max_vol_pct", pd(name)._3)
    def profileMinHistoryBars(name: String): Option[Int] =
      dblOpt(s"backtest_execution_realism.profiles.$name.min_history_bars_for_execution",
        pd(name)._4).map(_.toInt)
    def gateMinPrice: Double = dbl("backtest_execution_realism.gate.min_price", 5.0)
    def gateMinDollarVol: Double = dbl("backtest_execution_realism.gate.min_dollar_vol_20", 500000.0)
    def gateWarmupBars: Int = int("backtest_execution_realism.gate.min_history_bars_for_execution", 21)
    def gateMaxVolPct: Option[Double] = dblOpt("backtest_execution_realism.gate.max_vol_pct", Some(8.0))
  }

  /** `backtest_policy_overlay:` block (settings.yaml:152-159). */
  object policyOverlay {
    def defaultOverlayMode: String = str("backtest_policy_overlay.default_overlay_mode", "none")
    def joinKeys: Seq[String] = strs("backtest_policy_overlay.join_keys", Seq("ticker", "trade_date"))
    def allowUnknownForBlockVeto: Boolean = bool("backtest_policy_overlay.allow_unknown_for_block_veto", true)
    def minOverlayMatchRateWarn: Double = dbl("backtest_policy_overlay.min_overlay_match_rate_warn", 0.80)
    def dedupeRule: String = str("backtest_policy_overlay.dedupe_rule", "first")
  }

  /** `overlay_coverage_policy:` block (settings.yaml:161-168). */
  object overlayCoverage {
    def coverageMode: String = str("overlay_coverage_policy.coverage_mode", "warn_only")
    def minMatchRateWarn: Double = dbl("overlay_coverage_policy.min_match_rate_warn", 0.80)
    def minMatchRateFail: Double = dbl("overlay_coverage_policy.min_match_rate_fail", 0.60)
    def minYearMatchRateWarn: Double = dbl("overlay_coverage_policy.min_year_match_rate_warn", 0.70)
    def minYearMatchRateFail: Double = dbl("overlay_coverage_policy.min_year_match_rate_fail", 0.50)
    def unknownRateWarn: Double = dbl("overlay_coverage_policy.unknown_rate_warn", 0.25)
    def unknownRateFail: Double = dbl("overlay_coverage_policy.unknown_rate_fail", 0.50)
    def unknownHandling: String = str("overlay_coverage_policy.unknown_handling", "treat_unknown_as_pass")
  }

  /** `backtest_execution_calibration:` block (settings.yaml:198-217) —
    * the 4×5×7×2 sweep grid and the recommendation bands. */
  object execCalibration {
    def sweepMinPrice: Seq[Double] =
      dbls("backtest_execution_calibration.sweep.min_price", Seq(0.0, 1.0, 2.0, 5.0))
    def sweepMinDollarVol20: Seq[Double] =
      dbls("backtest_execution_calibration.sweep.min_dollar_vol20",
        Seq(0.0, 250000.0, 500000.0, 1000000.0, 2000000.0))
    def sweepMaxVolPct: Seq[Option[Double]] =
      dblOpts("backtest_execution_calibration.sweep.max_vol_pct",
        Seq(None, Some(5.0), Some(8.0), Some(10.0), Some(15.0), Some(20.0), Some(30.0)))
    def sweepMinHistoryBars: Seq[Int] =
      ints("backtest_execution_calibration.sweep.min_history_bars", Seq(20, 50))
    def liteEligibilityMin: Double = dbl("backtest_execution_calibration.target_lite_eligibility_min", 0.20)
    def liteEligibilityMax: Double = dbl("backtest_execution_calibration.target_lite_eligibility_max", 0.60)
    def strictEligibilityMin: Double = dbl("backtest_execution_calibration.target_strict_eligibility_min", 0.05)
    def strictEligibilityMax: Double = dbl("backtest_execution_calibration.target_strict_eligibility_max", 0.30)
    def minEligibleSignals: Int = int("backtest_execution_calibration.min_eligible_signals", 100)
    def maxSingleReasonShare: Double = dbl("backtest_execution_calibration.max_single_reason_share", 0.95)
    def topKRecommendations: Int = int("backtest_execution_calibration.top_k_recommendations", 5)
  }

  /** `candidate_rerun:` drift thresholds (settings.yaml:244-259,
    * ref config.py:438-442). */
  object candidateRerun {
    def expectancyDropPctFlag: Double = dbl("candidate_rerun.drift.expectancy_drop_pct_flag", 0.30)
    def pfDropPctFlag: Double = dbl("candidate_rerun.drift.pf_drop_pct_flag", 0.25)
    def robustnessDropPointsFlag: Double = dbl("candidate_rerun.drift.robustness_drop_points_flag", 10.0)
    def retCvIncreasePctFlag: Double = dbl("candidate_rerun.drift.ret_cv_increase_pct_flag", 0.50)
    def tradeCountDropPctFlag: Double = dbl("candidate_rerun.drift.trade_count_drop_pct_flag", 0.40)
    def overlayMatchRateMin: Double = dbl("candidate_rerun.drift.overlay_match_rate_min", 0.80)
  }

  /** `ops_nightly:` block (settings.yaml:261-266). */
  object opsNightly {
    def keepLastN: Int = int("ops_nightly.keep_last_n", 30)
    def defaultCoverageMode: String = str("ops_nightly.default_coverage_mode", "warn_only")
    def defaultWfEnabled: Boolean = bool("ops_nightly.default_wf_enabled", true)
  }

  /** `research_clustering:` block (settings.yaml:268-310). Fit-scale
    * keys whose compiled defaults deliberately diverge from the yaml
    * (kmeans n_init 3 / max_iter 20 vs 20/300; silhouette cap 500 vs
    * 200000) are pinned to the driver fixtures' scale — the yaml
    * values are production-sized and remain one override away. */
  object researchClustering {
    def scaler: String = str("research_clustering.scaler", "standard")
    def scalingScopeDefault: String = str("research_clustering.scaling_scope_default", "global")
    def clipZscore: Double = dbl("research_clustering.clip_zscore", 8.0)
    def silhouetteSampleMax: Int = int("research_clustering.silhouette_sample_max", 500)
    def randomState: Int = int("research_clustering.random_state", 42)
    def kmeansNInit: Int = int("research_clustering.kmeans.n_init", 3)
    def kmeansMaxIter: Int = int("research_clustering.kmeans.max_iter", 20)
    def gmmMaxIter: Int = int("research_clustering.gmm.max_iter", 60)
    def stabilitySeedsDefault: Int = int("research_clustering.stability.seeds_default", 10)
    def stabilitySeedStart: Int = int("research_clustering.stability.seed_start_default", 42)
    def forwardWindows: Seq[Int] = ints("research_clustering.forward_windows", Seq(5, 10, 20))
  }

  /** `ann:` block — the LLM-pipeline similarity-search knobs (engine
    * extension; the reference has no ANN surface). Defaults are the
    * driver-fixture scale (500–2000 vectors, dim 64); production
    * overrides them like any other key. `embeddingDim` pins the
    * oracle's subspace arithmetic — the engine probes the real dim and
    * requires divisibility at plan-build time. */
  object ann {
    def embeddingDim: Int = int("ann.embedding_dim", 64)
    def nQueries: Int = int("ann.n_queries", 32)
    def topK: Int = int("ann.top_k", 5)
    def pqM: Int = int("ann.pq.m", 4)
    def pqSubK: Int = int("ann.pq.sub_k", 8)
    def pqLloydIters: Int = int("ann.pq.lloyd_iters", 4)
    def pqSubDim: Int = {
      val (d, m) = (embeddingDim, pqM)
      require(d % m == 0, s"ann.embedding_dim $d not divisible by ann.pq.m $m")
      d / m
    }
    def ivfNCells: Int = int("ann.ivfpq.n_cells", 8)
    /** Serving defaults PROMOTED off the measured q_e_ann_frontier
      * (r10, sf0.01): under the stated candidate budget of nProbe ≤
      * nCells/2 (scan at most half the corpus per query), (nProbe 4,
      * R 48) is the best rung — served recall@5 0.5875 vs the r9
      * (2, 16) defaults' 0.3625, at 2× the ADC scan and 3× the
      * (cheap: R × dim per query) exact re-scores. */
    def ivfNProbe: Int = int("ann.ivfpq.n_probe", 4)
    def ivfCoarseIters: Int = int("ann.ivfpq.coarse_iters", 4)
    def rerankR: Int = int("ann.rerank_r", 48)
    def lshTargetBucket: Int = int("ann.lsh.target_bucket", 64)
    /** (nProbe, rerankR) rungs of the q_e_ann_frontier sweep, as
      * `np:r` pairs — the table the serving defaults are promoted
      * from. Rungs are validated against n_cells and top_k at plan
      * build. */
    def frontierRungs: Seq[(Int, Int)] =
      strs("ann.frontier.rungs",
        Seq("1:16", "2:16", "2:32", "4:16", "4:32", "4:48", "8:48"))
        .map { s =>
          val Array(np, r) = s.split(":").map(_.trim.toInt)
          require(np >= 1 && np <= ivfNCells,
            s"frontier rung nProbe $np outside 1..$ivfNCells")
          require(r >= topK, s"frontier rung R $r < ann.top_k $topK")
          (np, r)
        }
    /** Dimension-truncation ladder for the Matryoshka-style serving
      * A/B (q_e_mrl_recall — Kusupati et al. 2022 serve embeddings
      * from a nested prefix; the row prices dim budget against
      * recall). Each rung is a PREFIX length ≤ the fixture's full
      * embedding dim (64); the recall denominator is always the
      * full-dim exact top-k. */
    def mrlDims: Seq[Int] = {
      val ds = strs("ann.mrl_dims", Seq("8", "16", "32", "64"))
        .map { s =>
          val d = s.trim.toInt
          require(d >= 1 && d <= embeddingDim,
            s"mrl dim $d outside 1..$embeddingDim " +
              "(ann.embedding_dim)")
          d
        }
      require(ds.distinct.size == ds.size,
        s"ann.mrl_dims has duplicate rungs: $ds — each rung names " +
          "one oracle CTE pair")
      ds
    }
    /** `ann.rp:` — Johnson–Lindenstrauss random-projection knobs:
      * output dimensionality (distortion concentrates as O(√(1/d)))
      * and the pair cap for the measured-distortion report. */
    def rpOutDim: Int = int("ann.rp.out_dim", 16)
    def rpPairCap: Int = int("ann.rp.pair_cap", 64)
    /** Incremental-index split: vectors with `vec_id < incr_base` are
      * the snapshot the coarse cells + residual codebooks were fit on;
      * later ids are append-encoded against those FROZEN artifacts
      * (faiss add-without-train). Fixture default 400 of 500. */
    def incrBase: Int = int("ann.incr_base", 400)
    /** `ann.dimred:` — the dimension-reduction-CONSUMED ANN A/B
      * (q_e_dimred_ab): the IVF ladder runs UNDER each reduced
      * representation (RP / PCA / MRL prefix) at ONE matched
      * dimension, pricing index-cost-vs-recall per reduction — the
      * consume-what-you-measured discipline the RP/PCA/MRL recall
      * rows individually lack. `dim` is the shared target dimension;
      * `pca_iters` the power rounds of the A/B's own PCA fit (its
      * oracle unrolls dim × iters blocks, so both stay
      * fixture-scale). */
    def dimredDim: Int = {
      val d = int("ann.dimred.dim", 8)
      require(d >= 1 && d <= embeddingDim,
        s"ann.dimred.dim $d outside 1..$embeddingDim")
      d
    }
    def dimredPcaIters: Int = {
      val v = int("ann.dimred.pca_iters", 4)
      require(v >= 1, s"ann.dimred.pca_iters must be >= 1, got $v")
      v
    }
  }

  /** `dedup:` block — near-duplicate-detection knobs (engine
    * extension, same fixture-scale caveat as `ann`). */
  object dedup {
    def jaccardNgramN: Int = int("dedup.jaccard.ngram_n", 3)
    def jaccardMaxFreq: Int = int("dedup.jaccard.max_freq", 10)
    def jaccardMinSim: Double = dbl("dedup.jaccard.min_jaccard", 0.04)
    /** Semantic-dedup (SemDeDup) cosine threshold over the candidate
      * ANN pairs — scaled to the synthetic random embeddings (max
      * observed cosine ≈ 0.49); production embedding spaces override
      * to ≈ 0.95. */
    def semanticMinCos: Double = dbl("dedup.semantic.min_cos", 0.35)
    /** Estimated-similarity bar a banded CANDIDATE pair must pass to
      * become a duplicate-component EDGE (the candidate→verify split:
      * banding is tuned for recall, so its raw pairs are not edges —
      * r10's derived (8,1) layout makes that explicit, where a single
      * agreeing minhash pairs docs at est 0.125). 0.5 matches the
      * incremental classifier's near-dup bar. End-to-end cost of the
      * operating point (q_d_lsh_e2e, measured at the defaults):
      * component-membership recall ≈ 0.74 vs the exact-Jaccard truth
      * closure at precision 1.0 — lower this (or raise the band
      * count) to trade over-merge risk for recall. */
    def componentMinEst: Double = dbl("dedup.minhash.component_min_est", 0.5)
    def simhashRadius: Int = int("dedup.simhash.hamming_radius", 3)
    def substrK: Int = int("dedup.substr.k", 5)
    /** `dedup.cdc:` — content-defined chunking (LBFS/FastCDC family):
      * boundary-hash gram width and the cut divisor (expected chunk
      * length ≈ divisor bytes; fixture docs are a few hundred bytes,
      * so 32 yields ~10 chunks/doc — production block sizes are an
      * override like every other knob). */
    def cdcK: Int = int("dedup.cdc.k", 8)
    def cdcDivisor: Int = int("dedup.cdc.divisor", 32)
    /** `dedup.winnow:` — MOSS winnowing fingerprints (Schleimer 2003):
      * byte-gram width, selection window (guarantee: any verbatim
      * match ≥ window + k − 1 bytes shares a fingerprint), the
      * boilerplate-fingerprint prune, and the pair floor. */
    def winnowK: Int = int("dedup.winnow.k", 16)
    def winnowWindow: Int = int("dedup.winnow.window", 8)
    def winnowMaxFreq: Int = int("dedup.winnow.max_freq", 10)
    def winnowMinShared: Int = int("dedup.winnow.min_shared", 2)
    /** Same-offset match floor for span STRIPPING (Winnow.stripSpans):
      * one shared fingerprint at an offset is collision-grade
      * evidence; a real contiguous span emits ~2/(window+1) of its
      * positions. */
    def winnowStripMinMatches: Int =
      int("dedup.winnow.strip_min_matches", 2)
  }

  /** `bpe:` block — subword-tokenizer knobs (engine extension; the
    * packing/chunking family budgets on BPE token counts). `n_merges`
    * is fixture-scale: the oracle unrolls one CTE block per merge
    * round (the LloydKmeans discipline), so production vocab sizes
    * (tens of thousands of merges) are an override that keeps the
    * engine path and drops to the rows-only check. */
  object bpe {
    def nMerges: Int = int("bpe.n_merges", 12)
    /** Batched-learning knobs (Bpe.learnBatched — the top-m
      * non-conflicting-merges-per-round production mitigation of the
      * 2-actions-per-merge round count): fixed round count and the
      * candidate-window / max-admissions width. */
    def batchRounds: Int = int("bpe.batch_rounds", 4)
    def batchM: Int = int("bpe.batch_m", 4)
  }

  /** `dsir:` block — Data Selection via Importance Resampling (Xie et
    * al., NeurIPS 2023) knobs (engine extension). `n_buckets` is the
    * hashed-n-gram feature width (the paper uses 10k; the fixture
    * default keeps the bucket tables human-auditable — the model is
    * O(n_buckets) broadcast state either way). `target_lang` defines
    * the target distribution as a corpus slice; `sample_k` is the
    * Gumbel-top-k resample size. */
  object dsir {
    def nBuckets: Int = int("dsir.n_buckets", 64)
    def targetLang: String = str("dsir.target_lang", "en")
    def sampleK: Int = int("dsir.sample_k", 100)
  }

  /** `lm:` block — n-gram language-model smoothing knobs (engine
    * extension; text.KneserNey). `kn_discount` is interpolated KN's
    * absolute discount D, conventionally in (0, 1] (Chen & Goodman
    * 1998 estimate D ≈ n1/(n1+2·n2) ≈ 0.75 on natural text); the
    * bound keeps max(c−D, 0) from zeroing seen-bigram mass beyond
    * count-1 types, so Σ P_KN(·|w1) = 1 telescopes exactly. */
  object lm {
    def knDiscount: Double = {
      val d = dbl("lm.kn_discount", 0.75)
      require(d > 0.0 && d <= 1.0,
        s"lm.kn_discount must be in (0, 1], got $d")
      d
    }
    /** Count thresholds of the trigram-pruning frontier
      * (q_t_kn3_pruned_ab — the KenLM filter convention): each rung
      * drops trigram types with c3 < θ and reroutes their mass
      * through the backoff weight. θ = 1 (nothing pruned) is the
      * baseline row, so rungs must be ≥ 2. */
    def knPruneRungs: Seq[Long] =
      graft.Settings.strs("lm.kn_prune_rungs", Seq("2", "4"))
        .map { s =>
          val v = try s.trim.toLong
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"lm.kn_prune_rungs entry '$s' must be an integer " +
                "count threshold")
          }
          require(v >= 2,
            s"lm.kn_prune_rungs threshold $v must be >= 2 " +
              "(1 prunes nothing — that is the baseline row)")
          v
        }

    /** Stupid Backoff (Brants et al. 2007; text.StupidBackoff):
      * `sb_alpha` is the per-level backoff penalty (the paper's 0.4);
      * `sb_unk` is the raw SCORE floor for words the index counts
      * never saw (Stupid Backoff scores aren't probabilities, so the
      * floor is a score too — ln(α²·floor) ≈ −22.6 at defaults,
      * comfortably below any seen trigram). */
    def sbAlpha: Double = {
      val a = dbl("lm.sb_alpha", 0.4)
      require(a > 0.0 && a < 1.0,
        s"lm.sb_alpha must be in (0, 1), got $a")
      a
    }
    def sbUnk: Double = {
      val u = dbl("lm.sb_unk", 1e-9)
      require(u > 0.0, s"lm.sb_unk must be positive, got $u")
      u
    }
  }

  /** `unigram:` block — unigram-LM (SentencePiece, Kudo 2018)
    * tokenizer knobs (engine extension; text.Unigram). `seed_multi`
    * caps the multi-character seed candidates (all single chars are
    * always seeded — coverage); `max_piece_len` bounds piece length
    * (the DP's per-position candidate fan); `em_rounds` pins the
    * Viterbi-EM unroll depth; `prune_keep` caps the surviving
    * multi-char vocabulary; `unk_logprob` is the unseen-character
    * floor (byte-fallback analog); `max_word_len` is the oracle's DP
    * unroll bound — the engine REFUSES a corpus whose longest word
    * exceeds it (fixture max is 8). */
  object unigram {
    def seedMulti: Int = int("unigram.seed_multi", 40)
    def maxPieceLen: Int = int("unigram.max_piece_len", 4)
    def emRounds: Int = int("unigram.em_rounds", 3)
    def pruneKeep: Int = int("unigram.prune_keep", 24)
    def unkLogprob: Double = dbl("unigram.unk_logprob", -20.0)
    def maxWordLen: Int = int("unigram.max_word_len", 12)
  }

  /** `wordpiece:` block — WordPiece tokenizer knobs (engine extension;
    * text.WordPiece — the third tokenizer family next to BPE and
    * unigram-LM). `n_merges` pins the likelihood-ranked merge rounds
    * (one unrolled oracle CTE block each); `max_piece_len` is the
    * merged-symbol content cap (the trainers' max_token_length) and
    * the greedy encode's per-position candidate fan; `max_word_len`
    * is the greedy unroll bound — the engine REFUSES a corpus whose
    * longest word exceeds it (the unigram max_word_len contract). */
  object wordpiece {
    private def pos(k: String, d: Int): Int = {
      val v = int(k, d); require(v >= 1, s"$k must be >= 1, got $v"); v
    }
    def nMerges: Int = pos("wordpiece.n_merges", 12)
    def maxPieceLen: Int = pos("wordpiece.max_piece_len", 8)
    def maxWordLen: Int = pos("wordpiece.max_word_len", 12)
  }

  /** `pca:` block — power-iteration PCA knobs (engine extension;
    * ml.PowerPca — the data-DEPENDENT dimension reduction next to the
    * J-L random projection). `components` and `iters` pin the
    * deflated power rounds (one unrolled oracle block each; power
    * iteration converges geometrically in the eigengap, so production
    * round counts stay small). `rows_per_task` sizes the fit pass's
    * partitions over the N×d exploded frame — the frame every power
    * round scans twice is CORPUS-sized, so unlike the vocab-bounded
    * tokenizer tables it must widen with the data:
    * nPart = clamp(ceil(N·d / rows_per_task), 1, defaultParallelism)
    * (the ml.FitRounds width rule every iterative fit sizes by). The default keeps the
    * driver fixture at the measured 8-partition knee while a 100 TB
    * corpus saturates the cluster. */
  object pca {
    private def pos(k: String, d: Int): Int = {
      val v = int(k, d); require(v >= 1, s"$k must be >= 1, got $v"); v
    }
    def components: Int = pos("pca.components", 2)
    def iters: Int = pos("pca.iters", 8)
    def rowsPerTask: Int = pos("pca.rows_per_task", 4096)
  }

  /** `tuning:` block — partition-width knobs for frames that are
    * BOUNDED by construction (distinct-word vocabularies, k-bounded
    * kNN edge lists): several driver actions run over them per
    * iterative-fit round, so fixture-scale task-launch overhead
    * dominates at the default shuffle width. One validated knob
    * replaces the five fixture-tuned `coalesce(8)` call sites
    * (Bpe.learn / Bpe.learnBatched / Unigram.learn / WordPiece.learn /
    * NnDescent.topK) so the 100×-scale story is a config change.
    * NOT for corpus-sized frames — those size adaptively
    * (`pca.rows_per_task`, the ml.FitRounds per-fit constants). */
  object tuning {
    def smallFrameParts: Int = {
      val v = int("tuning.small_frame_parts", 8)
      require(v >= 1,
        s"tuning.small_frame_parts must be >= 1, got $v")
      v
    }
  }

  /** `multimodal:` block — perceptual-dup knobs. */
  object multimodal {
    /** Hot-bucket cap of the banded dup blocking
      * (Multimodal.bandPairs — image aHash AND audio flux-hash): a
      * band bucket larger than this is dropped before pairing, the
      * annSelfJoinPairs guard — a k-copy viral asset is a k-clique
      * whose pair output grows k², and one million-copy asset must
      * not produce 10^12 rows at corpus scale. Recall on exactly
      * those mega-cliques is the stated trade. */
    def maxBandBucket: Int = {
      val v = int("multimodal.max_band_bucket", 64)
      require(v >= 2,
        s"multimodal.max_band_bucket must be >= 2, got $v")
      v
    }
    /** Video keyframe sampling stride (every step-th 256-byte frame
      * is hashed — Multimodal.videoFrameBands). */
    def videoFrameStep: Int = {
      val v = int("multimodal.video.frame_step", 2)
      require(v >= 1,
        s"multimodal.video.frame_step must be >= 1, got $v")
      v
    }
    /** Video dup verdict threshold: matched keyframes as a share of
      * the smaller side's sampled keyframes. */
    def videoMinShare: Double = {
      val v = dbl("multimodal.video.min_frame_share", 0.5)
      require(v > 0.0 && v <= 1.0,
        s"multimodal.video.min_frame_share must be in (0,1], got $v")
      v
    }
  }

  /** `nndescent:` block — NN-Descent kNN-graph knobs (engine
    * extension; text.NnDescent). `k` is the graph degree (and the
    * md5-init sample size); `rounds` pins the local-join round count
    * (one unrolled oracle block each — the paper converges in
    * O(log N)-ish rounds, so production round counts stay single
    * digits at any scale). Defaults are the measured knee on the
    * fixture embeddings (near-i.i.d. 64-d, the hard case for local
    * joins): avg recall@k 0.29 at (5,2), 0.45 at (5,6), 0.88 at
    * (10,4) — recall scales with k (the paper's Fig. 6 behavior), so
    * the graph degree is the knob that buys quality. */
  object nndescent {
    private def pos(k: String, d: Int): Int = {
      val v = int(k, d); require(v >= 1, s"$k must be >= 1, got $v"); v
    }
    def k: Int = pos("nndescent.k", 10)
    /** rounds/hops may be 0 (a 0-round graph IS the md5 init — the
      * spec's baseline arm); k and beam must be positive. */
    def rounds: Int = {
      val v = int("nndescent.rounds", 4)
      require(v >= 0, s"nndescent.rounds must be >= 0, got $v"); v
    }
    /** Serving-side beam width and hop count (NnDescent.serve — the
      * graph-descent search layer): per hop a query scores ≤
      * beam·(k+1) candidates, so served cost is ~beam·(k+1)·hops
      * DISTINCT scores against N for brute force — constant in N,
      * which is the whole point at corpus scale. Defaults are the
      * measured knee on the fixture (recall@5 / distinct candidates
      * scored, N = 500): 0.53 @ 145 at (8,3), 0.78 @ 228 at (12,4),
      * 0.85 @ 274 at (16,5). */
    def beam: Int = pos("nndescent.beam", 12)
    def hops: Int = {
      val v = int("nndescent.hops", 4)
      require(v >= 0, s"nndescent.hops must be >= 0, got $v"); v
    }
    /** HNSW-style hierarchy (NnDescent.serveHier — Malkov & Yashunin
      * 2016): `hnsw_ratio` is the per-level node-sample divisor
      * (layer l keeps md5 mod ratio^l == 0 — nested by construction);
      * `hnsw_levels` the number of layers above the base graph (the
      * top layer's FULL scan is N/ratio^levels nodes per query — at
      * corpus scale more levels keep that entry cost constant, the
      * knob the flat serve's md5-random entries lack); `hnsw_up_*`
      * size the upper-layer graphs and descent; `hnsw_beam`/
      * `hnsw_hops` the base-layer finish. Defaults are the measured
      * Pareto point (see q_e_hnsw_ab): at the driver gate scale
      * (sf0.01) recall@5 0.875 at ~183 distinct scored vs the flat
      * serve's 0.775 at 228 — BETTER recall at 20% fewer scored
      * (measured after the double-blocking init fix; 12 knob combos
      * swept across both fixes). On the sf0.001 embeddings the same
      * point reads 0.65 @ 181 vs 0.75 @ 216 — that draw is closer
      * to i.i.d., the non-navigable case where concentrated entries
      * lose to entry diversity; both readings ride in the A/B row.
      * The structural claim is vs N — the coarse entry cost is a
      * knob (N/ratio^levels) where the flat serve's hop count must
      * grow. */
    def hnswRatio: Int = {
      val v = int("nndescent.hnsw_ratio", 4)
      require(v >= 2, s"nndescent.hnsw_ratio must be >= 2, got $v"); v
    }
    def hnswLevels: Int = pos("nndescent.hnsw_levels", 2)
    def hnswUpRounds: Int = {
      val v = int("nndescent.hnsw_up_rounds", 2)
      require(v >= 0,
        s"nndescent.hnsw_up_rounds must be >= 0, got $v"); v
    }
    def hnswUpBeam: Int = pos("nndescent.hnsw_up_beam", 6)
    def hnswUpHops: Int = {
      val v = int("nndescent.hnsw_up_hops", 1)
      require(v >= 0,
        s"nndescent.hnsw_up_hops must be >= 0, got $v"); v
    }
    def hnswBeam: Int = pos("nndescent.hnsw_beam", 12)
    def hnswHops: Int = {
      val v = int("nndescent.hnsw_hops", 4)
      require(v >= 0, s"nndescent.hnsw_hops must be >= 0, got $v"); v
    }
    /** (up_beam, up_hops) rungs of the hierarchical-serving frontier
      * sweep (q_e_hnsw_frontier), as `ub:uh` pairs — the measured
      * table the hnsw_up_* defaults are promoted from (the
      * ann.frontier.rungs discipline applied to the graph index).
      * Base-layer knobs stay at hnsw_beam/hnsw_hops per rung. */
    def hnswFrontierRungs: Seq[(Int, Int)] =
      graft.Settings.strs("nndescent.hnsw_frontier_rungs",
        Seq("4:1", "6:1", "8:2"))
        .map { s =>
          val parts = s.split(":").map(_.trim)
          require(parts.length == 2,
            s"nndescent.hnsw_frontier_rungs entry '$s' must be an " +
              "'ub:uh' pair (up_beam:up_hops)")
          val (ub, uh) = try (parts(0).toInt, parts(1).toInt)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"nndescent.hnsw_frontier_rungs entry '$s' must be an " +
                "'ub:uh' pair of integers (up_beam:up_hops)")
          }
          require(ub >= 1, s"frontier rung up_beam $ub must be >= 1")
          require(uh >= 0, s"frontier rung up_hops $uh must be >= 0")
          (ub, uh)
        }

    /** rerank_r rungs of the graph+PQ serving frontier
      * (q_e_hnsw_pq_frontier) — the measured table the shared
      * `ann.rerank_r` default is promoted from, applied to the
      * DiskANN trade (recall bought per full-dim float touched). */
    def hnswPqRerankRungs: Seq[Int] = {
      val v = graft.Settings.ints("nndescent.hnsw_pq_rerank_rungs",
        Seq(12, 24, 48, 96))
      v.foreach(r => require(r >= 1,
        s"nndescent.hnsw_pq_rerank_rungs rung $r must be >= 1"))
      v
    }

    /** Confined repair rounds after an incremental batch insert
      * (NnDescent.incrInsert — the graph index's add-without-retrain
      * rung): per-round work is bounded by the batch's blast radius
      * (touched ∪ adjacent pivots), so small counts stay cheap at any
      * corpus size. */
    def incrRounds: Int = {
      val v = int("nndescent.incr_rounds", 2)
      require(v >= 0,
        s"nndescent.incr_rounds must be >= 0, got $v"); v
    }
  }

  /** `quality_clf:` block — trained fastText-style quality-classifier
    * knobs (engine extension; text.QualityClf). `n_buckets` is the
    * hashed-gram feature width; `lr`/`iters` pin the full-batch
    * logistic GD (the oracle unrolls one CTE block per iteration, so
    * production iteration counts are an override that keeps the engine
    * path); `pos_threshold` is the heuristic-battery score band that
    * defines the positive reference class. */
  object qualityClf {
    def nBuckets: Int = int("quality_clf.n_buckets", 64)
    def lr: Double = dbl("quality_clf.lr", 10.0)
    def iters: Int = int("quality_clf.iters", 24)
    def posThreshold: Double = dbl("quality_clf.pos_threshold", 0.75)
    /** Target precision the calibration-driven operating point is
      * chosen FOR (QualityClf.chooseThreshold): the smallest decile
      * boundary whose achieved precision meets this keeps the most
      * recall at the precision the pipeline owner asked for. Consumed
      * by pipeline stage 6 and StreamingCuration.curateWithClassifier
      * — engine and oracle re-derive the threshold from the same
      * decile grid when this changes. */
    def targetPrecision: Double = dbl("quality_clf.target_precision", 0.9)
  }

  /** `curation:` block — data-pruning knobs beyond the dedup families.
    * `proto_prune_frac` is the per-cluster share of most-prototypical
    * (centroid-nearest) points dropped by the Sorscher-style pruning
    * query. */
  object curation {
    def protoPruneFrac: Double = {
      val f = dbl("curation.proto_prune_frac", 0.25)
      // strict (0,1): frac = 0 diverges between engines (DuckDB's
      // ceil-rank cut goes NULL → keep NULL, Spark's
      // percentile_approx(0) returns the min → keep boolean) and
      // frac = 1 prunes everything; neither is a meaningful pruning
      // policy, so reject at read like the ANN knob validations
      require(f > 0.0 && f < 1.0,
        s"curation.proto_prune_frac $f must be in (0, 1)")
      f
    }
  }

  /** `export:` block — training-data shard-export knobs (engine
    * extension of the reference's single-file export,
    * gold/export.py:16-63; n_shards sizes a shard ≈ one output file,
    * so the default is fixture-scale). */
  object export {
    def nShards: Int = int("export.n_shards", 8)
    def shardSalt: String = str("export.shard_salt", "shard")
  }

  /** `cluster_qa:` block (settings.yaml:93-99) — the SOFT QA flag
    * thresholds (the hardening block holds the HARD twins). The two
    * derived thresholds mirror validation/cluster_qa.py:212-213. */
  object clusterQa {
    def retCvThreshold: Double = dbl("cluster_qa.ret_cv_threshold", 5.0)
    def minNRows: Int = int("cluster_qa.min_n_rows", 200)
    def minStateShare: Double = dbl("cluster_qa.min_state_share", 0.03)
    def signConsistencyThreshold: Double = dbl("cluster_qa.sign_consistency_threshold", 0.55)
    def ciWidthQuantileThreshold: Double = dbl("cluster_qa.ci_width_quantile_threshold", 0.8)
    def eps: Double = dbl("cluster_qa.eps", 1e-12)
    def transitionsSparseThreshold: Int = math.max(10, minNRows / 5)
    def nearZeroMeanThreshold: Double = math.max(0.001, 1000.0 * eps)
  }

  /** `validation_walkforward:` block (settings.yaml:80-91). The
    * reference splits by a train-end DATE list sized to its 2007-2024
    * corpus; the engine's fixture-agnostic analogue is a split COUNT
    * over the observed time range (`n_splits`, engine-native key,
    * default 4 = the driver-fixture scale), with the yaml's remaining
    * runner defaults surfaced verbatim. */
  object walkForward {
    def nSplits: Int = int("validation_walkforward.n_splits", 4)
    def trainEndListDefault: Seq[String] = strs(
      "validation_walkforward.train_end_list_default",
      Seq("2012-12-31", "2014-12-31", "2016-12-31", "2018-12-31",
        "2020-12-31"))
    def hmmComponentsDefault: Int = int("validation_walkforward.hmm_components_default", 5)
    def clusterMethodDefault: String = str("validation_walkforward.cluster_method_default", "gmm")
    def clusterKDefault: Int = int("validation_walkforward.cluster_k_default", 5)
    def scalingScopeDefault: String = str("validation_walkforward.scaling_scope_default", "per_ticker")
    def continueOnErrorDefault: Boolean = bool("validation_walkforward.continue_on_error_default", true)
  }

  /** `research_hmm:` block (settings.yaml:312-364). Same fixture-scale
    * caveat as research_clustering: n_iter 30 / min_sequence_length 10
    * / sweep 4..8 are the engine's driver-fixture defaults; the yaml's
    * production values (200 / 100 / [4,5,6,8]) are overrides. */
  object researchHmm {
    def nComponentsDefault: Int = int("research_hmm.hmm.n_components_default", 5)
    def nIter: Int = int("research_hmm.hmm.n_iter", 30)
    def randomState: Int = int("research_hmm.hmm.random_state", 42)
    def minSequenceLength: Int = int("research_hmm.min_sequence_length", 10)
    def sweepComponents: Seq[Int] = ints("research_hmm.sweep.components_default", Seq(4, 5, 6, 7, 8))
    def stabilitySeedsDefault: Int = int("research_hmm.stability.seeds_default", 5)
    def stabilitySeedStart: Int = int("research_hmm.stability.seed_start_default", 42)
  }
}
