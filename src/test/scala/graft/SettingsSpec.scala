package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.etl.{EventGrammar, GoldFeatures, Precision}

/** Runtime config surface (ref: src/mf_etl/config.py:667-724,
  * configs/settings.yaml): same key names, same defaults, overridable
  * via `graft.*` system properties / `GRAFT_*__*` env / a properties
  * file — without recompiling. Tests drive the sysprop source (the env
  * source shares the same resolution path). */
class SettingsSpec extends SparkSpec {
  import spark.implicits._

  private def withProp[A](key: String, value: String)(body: => A): A = {
    sys.props(key) = value
    try body finally sys.props.remove(key)
  }

  test("defaults mirror configs/settings.yaml") {
    assert(Settings.validation.suspiciousRangePct == 0.5)
    assert(Settings.validation.gapDaysWarn == 7)
    assert(Settings.validation.bootstrapNBoot == 1000)
    assert(Settings.validation.bootstrapCi == 0.95)
    assert(Settings.validation.bootstrapBlockLength == 10)
    assert(Settings.eventGrammar.holdBars == 5)
    assert(Settings.eventGrammar.respectFailLookback == 10)
    assert(Settings.eventGrammar.burstAbsThreshold == 0.15)
    assert(Settings.eventGrammar.burstSlopeThreshold == 0.05)
    assert(Settings.eventGrammar.activityWindows == Seq(5, 20))
    assert(Settings.goldFeatures.wZero == 1.0)
    assert(Settings.goldFeatures.wRespect == 2.0)
    assert(Settings.goldFeatures.wBurst == 2.0)
    assert(Settings.goldFeatures.wHold == 1.5)
    assert(Settings.goldFeatures.recencyClipBars == 20)
    assert(Settings.sensitivity.maxCombos == 500)
    assert(Settings.precision.silverFloat == "float32")
    assert(Settings.parquet.compression == "zstd")
  }

  test("round-8 sections mirror settings.yaml (divergences documented)") {
    val H = Settings.clusterHardening
    assert(H.minNRowsHard == 200 && H.minStateShareHard == 0.03)
    assert(H.retCvHard == 6.0 && H.signConsistencyHard == 0.55)
    assert(H.ciWidthHardQuantile == 0.8)
    assert(H.scoreMinAllow == 70.0 && H.scoreMinWatch == 45.0)
    assert(H.penLowN == 20.0 && H.penNearZero == 15.0
      && H.penOutlier == 10.0)
    assert(H.wSampleSize == 0.15 && H.wSignConfidence == 0.2
      && H.wRetCv == 0.1)
    val R = Settings.execRealism
    assert(R.defaultProfile == "none" && R.dollarVolWindow == 20)
    assert(R.profileMinPrice("lite").contains(2.0))
    assert(R.profileMinDollarVol20("strict").contains(5000000.0))
    assert(R.profileMaxVolPct("none").isEmpty)
    assert(R.profileMinHistoryBars("strict").contains(100))
    assert(R.gateMinPrice == 5.0 && R.gateMaxVolPct.contains(8.0))
    assert(Settings.policyOverlay.minOverlayMatchRateWarn == 0.80)
    assert(Settings.policyOverlay.joinKeys ==
      Seq("ticker", "trade_date"))
    assert(Settings.overlayCoverage.minMatchRateFail == 0.60)
    assert(Settings.overlayCoverage.unknownRateWarn == 0.25)
    val C = Settings.execCalibration
    assert(C.sweepMinPrice == Seq(0.0, 1.0, 2.0, 5.0))
    assert(C.sweepMaxVolPct.head.isEmpty
      && C.sweepMaxVolPct.size == 7)
    assert(C.sweepMinHistoryBars == Seq(20, 50))
    assert(C.liteEligibilityMin == 0.20
      && C.strictEligibilityMax == 0.30)
    assert(C.minEligibleSignals == 100
      && C.maxSingleReasonShare == 0.95 && C.topKRecommendations == 5)
    assert(Settings.candidateRerun.expectancyDropPctFlag == 0.30)
    assert(Settings.candidateRerun.tradeCountDropPctFlag == 0.40)
    assert(Settings.opsNightly.keepLastN == 30)
    assert(Settings.researchClustering.clipZscore == 8.0)
    // fixture-scale divergences from the yaml, pinned deliberately
    assert(Settings.researchClustering.kmeansNInit == 3)
    assert(Settings.researchClustering.silhouetteSampleMax == 500)
    assert(Settings.researchHmm.sweepComponents == Seq(4, 5, 6, 7, 8))
    assert(Settings.researchHmm.nIter == 30)
  }

  test("hardening override flows into the oracle SQL and the drift defs") {
    // oracle SQL is rebuilt per SparkEntry.oracleSql call, so a live
    // override must appear in the interpolated text — the mechanism
    // that keeps engine and oracle from desynchronizing
    val sql0 = SparkEntry.oracleSql("q_cluster_hardening_full")
    assert(sql0.contains("score < 45.0") && !sql0.contains("55.5"))
    withProp("graft.cluster_hardening.score_min_watch", "55.5") {
      val sql = SparkEntry.oracleSql("q_cluster_hardening_full")
      assert(sql.contains("score < 55.5") && !sql.contains("score < 45.0"))
    }
    withProp("graft.candidate_rerun.drift.expectancy_drop_pct_flag",
      "0.77") {
      assert(graft.queries.ProductionQueries.ExpectancyDropPct == 0.77)
      assert(SparkEntry.oracleSql("q_candidate_rerun").contains("0.77"))
    }
    withProp("graft.ops_nightly.keep_last_n", "7") {
      assert(graft.etl.NightlyOps.DefaultKeepLastN == 7)
    }
  }

  test("calibration grid override reshapes the sweep on both sides") {
    assert(graft.backtest.Calibration.Combos.size == 280)
    withProp("graft.backtest_execution_calibration.sweep.min_price",
      "0.0,9.0") {
      withProp("graft.backtest_execution_calibration.sweep.max_vol_pct",
        "null,12.0") {
        val combos = graft.backtest.Calibration.Combos
        assert(combos.size == 2 * 5 * 2 * 2)
        assert(combos.head.comboId == "c0001"
          && combos.last.comboId == "c0040")
        assert(combos.map(_.maxVolPct).distinct ==
          Seq(None, Some(12.0)))
        val grid = graft.backtest.Calibration
          .gridDf(spark).collect()
        assert(grid.length == 40)
        assert(graft.backtest.Calibration.gridSql.contains("12.0"))
      }
    }
    assert(graft.backtest.Calibration.Combos.size == 280)
  }

  test("realism gate and coverage policy overrides reach their queries") {
    val sql0 = SparkEntry.oracleSql("q_exec_realism")
    assert(sql0.contains("500000.0"))
    withProp("graft.backtest_execution_realism.gate.min_dollar_vol_20",
      "750000") {
      assert(SparkEntry.oracleSql("q_exec_realism").contains("750000.0"))
    }
    // the coverage grade column follows overlay_coverage_policy
    import spark.implicits._
    def grade(rate: Double): String = Seq(rate).toDF("r")
      .select(graft.backtest.Overlay.coverageStatus(col("r")))
      .as[String].head()
    assert(grade(0.95) == "OK" && grade(0.7) == "WARN"
      && grade(0.5) == "FAIL")
    withProp("graft.overlay_coverage_policy.min_match_rate_warn",
      "0.99") {
      assert(grade(0.95) == "WARN")
      assert(SparkEntry.oracleSql("q_overlay_coverage").contains("0.99"))
    }
  }

  test("system property overrides win over defaults and clear cleanly") {
    assert(EventGrammar.HoldBars == 5)
    withProp("graft.event_grammar.hold_consecutive_bars", "3") {
      assert(EventGrammar.HoldBars == 3)
      assert(Settings.eventGrammar.holdBars == 3)
    }
    assert(EventGrammar.HoldBars == 5)

    withProp("graft.gold_features.score_weights.zero", "4.0") {
      assert(GoldFeatures.WZero == 4.0)
    }
    withProp("graft.event_grammar.activity_windows", "3, 9") {
      assert(Settings.eventGrammar.activityWindows == Seq(3, 9))
    }
  }

  test("precision policy override flips the layer dtype") {
    assert(Precision.SilverLayer.floatType == FloatType)
    withProp("graft.precision.silver_float", "float64") {
      assert(Precision.SilverLayer.floatType == DoubleType)
      val df = Seq(("A", 1.5)).toDF("k", "v")
      val out = Precision.withPrecision(df, Precision.SilverLayer)
      assert(out.schema("v").dataType == DoubleType)
    }
    assert(Precision.SilverLayer.floatType == FloatType)
    intercept[IllegalArgumentException] {
      withProp("graft.precision.gold_float", "float16") {
        Precision.GoldLayer.floatType
      }
    }
  }

  test("gap threshold override changes the bronze warn flag end-to-end") {
    // two bars 5 calendar days apart: not a gap at the default 7,
    // a gap when the threshold is tightened to 3
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ticker").orderBy("trade_date")
    def gapFlag() = Seq(("A", "2024-01-01"), ("A", "2024-01-06"))
      .toDF("ticker", "d")
      .select(col("ticker"), col("d").cast("date").as("trade_date"))
      .select(col("ticker"), coalesce(
        datediff(col("trade_date"), lag("trade_date", 1).over(w))
          > Settings.validation.gapDaysWarn, lit(false)).as("gap"))
      .agg(sum(when(col("gap"), 1).otherwise(0))).as[Long].head()
    assert(gapFlag() == 0L)
    withProp("graft.validation.gap_days_warn_threshold", "3") {
      assert(gapFlag() == 1L)
    }
  }

  test("ann/dedup knob overrides re-interpolate engine and oracle") {
    // defaults (n_probe 4 / rerank_r 48 are the r10 promoted serving
    // config — chosen off the measured q_e_ann_frontier)
    assert(Settings.ann.ivfNCells == 8 && Settings.ann.ivfNProbe == 4)
    assert(Settings.ann.pqM == 4 && Settings.ann.pqSubK == 8)
    assert(Settings.ann.rerankR == 48 && Settings.ann.topK == 5)
    assert(Settings.ann.pqSubDim == 16)
    assert(Settings.dedup.jaccardNgramN == 3)
    assert(Settings.dedup.jaccardMaxFreq == 10)
    assert(Settings.dedup.jaccardMinSim == 0.04)
    assert(Settings.dedup.simhashRadius == 3)
    // oracle SQL re-interpolates per access — the desync-proof pattern
    assert(SparkEntry.oracleSql("q_e_ann_ivfpq_res").contains("rn <= 4"))
    withProp("graft.ann.ivfpq.n_probe", "3") {
      assert(SparkEntry.oracleSql("q_e_ann_ivfpq_res")
        .contains("rn <= 3"))
    }
    withProp("graft.ann.rerank_r", "24") {
      assert(SparkEntry.oracleSql("q_e_ann_rerank")
        .contains("rnk <= 24"))
    }
    withProp("graft.dedup.jaccard.max_freq", "7") {
      assert(SparkEntry.oracleSql("q_d_jaccard").contains("c <= 7"))
    }
    // rerank_r < top_k must fail LOUDLY (the shared ADC short list
    // serves top_k from its rnk <= rerank_r prefix) — a silent
    // fewer-rows answer would desync engine and oracle
    withProp("graft.ann.rerank_r", "3") {
      intercept[IllegalArgumentException] {
        SparkEntry.oracleSql("q_e_ann_rerank")
      }
    }
    // the derived LSH layout re-bands BOTH sides on a threshold
    // override: 0.5 -> (4, 2) two-row band keys in the oracle text
    withProp("graft.dedup.jaccard.min_jaccard", "0.5") {
      val sql = SparkEntry.oracleSql("q_d_minhash")
      assert(sql.contains("m0 || '_' || m1 AS b0"),
        "threshold override did not re-derive the banding")
      assert(SparkEntry.oracleSql("q_d_lsh_tune")
        .contains("2 AS rows_per_band"))
    }
    withProp("graft.dedup.simhash.hamming_radius", "2") {
      assert(SparkEntry.oracleSql("q_d_simhash")
        .contains("hamming <= 2"))
    }
    withProp("graft.dedup.jaccard.ngram_n", "2") {
      val sql = SparkEntry.oracleSql("q_d_jaccard")
      assert(sql.contains("t[i+1] || ' ' || t[i+2]")
        && !sql.contains("t[i+3]"))
    }
    assert(Settings.dedup.substrK == 5)
    withProp("graft.dedup.substr.k", "4") {
      val sql = SparkEntry.oracleSql("q_d_substr_spans")
      assert(sql.contains("t[pos+4]") && !sql.contains("t[pos+5]")
        && sql.contains("range(4) r(j)"))
    }
    assert(Settings.export.nShards == 8)
    assert(Settings.export.shardSalt == "shard")
    assert(SparkEntry.oracleSql("q_t_shard_assign").contains("% 8"))
    withProp("graft.export.n_shards", "5") {
      assert(SparkEntry.oracleSql("q_t_shard_assign").contains("% 5"))
    }
    withProp("graft.export.shard_salt", "v2") {
      assert(SparkEntry.oracleSql("q_t_shard_manifest")
        .contains("'v2_' || doc_id"))
    }
  }

  test("dsir / cdc / rp / curation knob overrides re-interpolate " +
      "engine and oracle") {
    // DSIR bucket width reaches the hashed-feature mod AND the add-B
    // smoothing denominators in the oracle
    assert(SparkEntry.oracleSql("q_t_dsir_weights").contains("% 64"))
    withProp("graft.dsir.n_buckets", "32") {
      val sql = SparkEntry.oracleSql("q_t_dsir_weights")
      assert(sql.contains("% 32") && sql.contains("+ 32"))
    }
    withProp("graft.dsir.target_lang", "fr") {
      assert(SparkEntry.oracleSql("q_t_dsir_weights")
        .contains("lang = 'fr'"))
    }
    withProp("graft.dsir.sample_k", "25") {
      assert(SparkEntry.oracleSql("q_t_dsir_sample")
        .contains("smp_rank <= 25"))
    }
    // CDC gram width rebuilds the coefficient table (k entries) and
    // the divisor reaches the cut predicate
    withProp("graft.dedup.cdc.divisor", "16") {
      assert(SparkEntry.oracleSql("q_d_cdc_chunks")
        .contains("h % 16 = 0"))
    }
    withProp("graft.dedup.cdc.k", "4") {
      val sql = SparkEntry.oracleSql("q_d_cdc_chunks")
      assert(sql.contains("pos + 4 AS b"),
        "cut offset did not follow the gram width")
    }
    // RP output dim reaches the matrix CTE range AND the ±1/√d scale
    withProp("graft.ann.rp.out_dim", "4") {
      val sql = SparkEntry.oracleSql("q_e_rp_norms")
      assert(sql.contains("range(4) t1(j)"))
      assert(sql.contains("0.5 ELSE -0.5"),
        "scale literal did not follow 1/sqrt(out_dim)")
    }
    withProp("graft.ann.rp.pair_cap", "10") {
      assert(SparkEntry.oracleSql("q_e_rp_distortion")
        .contains("vec_id < 10"))
    }
    // prototypicality prune fraction reaches the ceil-rank cut
    withProp("graft.curation.proto_prune_frac", "0.5") {
      assert(SparkEntry.oracleSql("q_e_proto_prune")
        .contains("ceil(0.5 * n)"))
    }
    // proto_prune_frac outside (0,1) must fail LOUDLY at Settings read
    // (frac = 0 silently diverges between engines otherwise)
    withProp("graft.curation.proto_prune_frac", "0.0") {
      intercept[IllegalArgumentException] {
        SparkEntry.oracleSql("q_e_proto_prune")
      }
    }
  }

  test("quality_clf / winnow-strip knob overrides re-interpolate " +
      "engine and oracle") {
    // defaults: the measured r11 operating point
    assert(Settings.qualityClf.nBuckets == 64)
    assert(Settings.qualityClf.lr == 10.0)
    assert(Settings.qualityClf.iters == 24)
    assert(Settings.qualityClf.posThreshold == 0.75)
    assert(Settings.dedup.winnowStripMinMatches == 2)
    // iteration count drives the unrolled CTE chain: qcw<iters> is the
    // final weights CTE read by the fit query's SELECT
    assert(SparkEntry.oracleSql("q_t_quality_clf_fit")
      .contains("FROM qcw24"))
    withProp("graft.quality_clf.iters", "4") {
      val sql = SparkEntry.oracleSql("q_t_quality_clf_fit")
      assert(sql.contains("FROM qcw4") && !sql.contains("qcw5"),
        "unroll depth did not follow quality_clf.iters")
    }
    // bucket width reaches the hashed-feature mod, the dense-feature
    // slot id, and the weight-table range bound
    withProp("graft.quality_clf.n_buckets", "16") {
      val sql = SparkEntry.oracleSql("q_t_quality_clf_fit")
      assert(sql.contains("% 16") && sql.contains("range(-1, 16 + 1)"))
      assert(sql.contains("16 AS bk"),
        "dense length-feature slot did not follow n_buckets")
    }
    // learning rate and label threshold are plan literals on both sides
    withProp("graft.quality_clf.lr", "2.5") {
      assert(SparkEntry.oracleSql("q_t_quality_clf_fit")
        .contains("w.w - 2.5 *"))
    }
    withProp("graft.quality_clf.pos_threshold", "0.6") {
      assert(SparkEntry.oracleSql("q_t_quality_clf")
        .contains(">= 0.6"))
    }
    // the held-out fit slice is pinned in its oracle's GD CTEs
    assert(SparkEntry.oracleSql("q_t_quality_clf_heldout")
      .contains("WHERE doc_id % 5 <> 0"))
    // winnow strip floor reaches the span gate
    withProp("graft.dedup.winnow.strip_min_matches", "3") {
      assert(SparkEntry.oracleSql("q_d_winnow_strip")
        .contains("n_matches >= 3"))
    }
    // calibration-driven operating point: the target-precision knob
    // is the qcpick selection literal in BOTH the threshold report
    // and pipeline stage 6's gate (engine and oracle re-derive the
    // threshold from the same decile grid)
    assert(Settings.qualityClf.targetPrecision == 0.9)
    assert(SparkEntry.oracleSql("q_t_quality_clf_threshold")
      .contains("prec >= 0.9"))
    assert(SparkEntry.oracleSql("q_t_dedup_pipeline")
      .contains("(SELECT thr FROM qcpick)"))
    withProp("graft.quality_clf.target_precision", "0.55") {
      assert(SparkEntry.oracleSql("q_t_quality_clf_threshold")
        .contains("prec >= 0.55"))
      assert(SparkEntry.oracleSql("q_t_dedup_pipeline")
        .contains("prec >= 0.55"))
    }
    // the selection RULE itself: smallest qualifying decile, most-
    // conservative fallback — pure and deterministic
    val m = Seq(0.0 -> Some(0.5), 0.1 -> Some(0.72), 0.2 -> Some(0.8),
      0.3 -> Some(0.95), 0.4 -> None)
    assert(graft.text.QualityClf.chooseThreshold(m, 0.8) == 0.2)
    assert(graft.text.QualityClf.chooseThreshold(m, 0.9) == 0.3)
    assert(graft.text.QualityClf.chooseThreshold(m, 0.99) == 0.4,
      "no qualifying decile must fall back to the largest boundary")
    // Kneser-Ney discount: the (0,1] bound and the oracle literal
    assert(Settings.lm.knDiscount == 0.75)
    assert(SparkEntry.oracleSql("q_t_kn_lp")
      .contains("CAST(0.75 AS DOUBLE)"))
    withProp("graft.lm.kn_discount", "0.5") {
      assert(SparkEntry.oracleSql("q_t_kn_lp")
        .contains("CAST(0.5 AS DOUBLE)"))
    }
    withProp("graft.lm.kn_discount", "1.5") {
      intercept[IllegalArgumentException](Settings.lm.knDiscount)
    }
    // unigram tokenizer knobs reach the oracle: EM unroll depth (the
    // final usage/vocab CTEs are numbered by round), the prune cap,
    // and the seed window
    assert(Settings.unigram.emRounds == 3
      && Settings.unigram.pruneKeep == 24
      && Settings.unigram.maxWordLen == 12)
    assert(SparkEntry.oracleSql("q_t_unigram_learn")
      .contains("FROM ulp3 p LEFT JOIN uuc3"))
    withProp("graft.unigram.em_rounds", "2") {
      val sql = SparkEntry.oracleSql("q_t_unigram_learn")
      assert(sql.contains("FROM ulp2 p LEFT JOIN uuc2")
        && !sql.contains("udp3_"),
        "EM unroll depth did not follow unigram.em_rounds")
    }
    withProp("graft.unigram.prune_keep", "7") {
      assert(SparkEntry.oracleSql("q_t_unigram_learn")
        .contains("WHERE rn <= 7"))
    }
  }

  test("a Settings override reaches a memoized fit after Stage.clear()") {
    // the engine's fit must follow the same knob the oracle text does:
    // the fitted weights are a Stage.memo value, so clear() drops them
    val dir = "/root/testdata/sf0.001"
    def fitRows(): Seq[String] =
      SparkEntry.queries("q_t_quality_clf_fit")(spark, dir).collect()
        .map(_.toString).sorted.toSeq
    graft.queries.Stage.clear()
    val default = fitRows()
    graft.queries.Stage.clear()
    val short = withProp("graft.quality_clf.iters", "4") {
      try fitRows() finally graft.queries.Stage.clear()
    }
    assert(default.nonEmpty && short.nonEmpty)
    assert(default != short,
      "quality_clf.iters override did not reach the memoized fit")
  }

  test("wordpiece / stupid-backoff / nndescent knob overrides " +
      "re-interpolate engine and oracle") {
    // wordpiece defaults + the unroll-depth flows: merge rounds end
    // at wpm<n>, the greedy encode chain at wpenc_<max_word_len>
    assert(Settings.wordpiece.nMerges == 12)
    assert(Settings.wordpiece.maxPieceLen == 8)
    assert(Settings.wordpiece.maxWordLen == 12)
    assert(SparkEntry.oracleSql("q_t_wordpiece_learn")
      .contains("FROM wpm12"))
    withProp("graft.wordpiece.n_merges", "5") {
      val sql = SparkEntry.oracleSql("q_t_wordpiece_learn")
      assert(sql.contains("FROM wpm5") && !sql.contains("wpm6"),
        "merge unroll depth did not follow wordpiece.n_merges")
    }
    withProp("graft.wordpiece.max_word_len", "9") {
      val sql = SparkEntry.oracleSql("q_t_wordpiece_encode")
      assert(sql.contains("wpenc_9") && !sql.contains("wpenc_10"),
        "greedy unroll depth did not follow wordpiece.max_word_len")
    }
    withProp("graft.wordpiece.max_piece_len", "6") {
      val sql = SparkEntry.oracleSql("q_t_wordpiece_learn")
      assert(sql.contains("END) <= 6"),
        "merged-content cap did not follow wordpiece.max_piece_len")
    }
    // stupid-backoff: α and the unk floor ride as DOUBLE-cast
    // literals; out-of-range values fail loudly
    assert(Settings.lm.sbAlpha == 0.4 && Settings.lm.sbUnk == 1e-9)
    assert(SparkEntry.oracleSql("q_t_sb_lp")
      .contains("CAST(0.4 AS DOUBLE)"))
    withProp("graft.lm.sb_alpha", "0.3") {
      assert(SparkEntry.oracleSql("q_t_sb_lp")
        .contains("CAST(0.3 AS DOUBLE)"))
    }
    withProp("graft.lm.sb_alpha", "1.5") {
      intercept[IllegalArgumentException] { Settings.lm.sbAlpha }
    }
    // nndescent: the round count is the final ndk<r> CTE the graph
    // query reads; k is the per-node window bound
    assert(Settings.nndescent.k == 10)
    assert(Settings.nndescent.rounds == 4)
    assert(SparkEntry.oracleSql("q_e_nnd_graph").contains("FROM ndk4"))
    withProp("graft.nndescent.rounds", "2") {
      val sql = SparkEntry.oracleSql("q_e_nnd_graph")
      assert(sql.contains("FROM ndk2") && !sql.contains("ndk3"),
        "round unroll did not follow nndescent.rounds")
    }
    withProp("graft.nndescent.k", "7") {
      assert(SparkEntry.oracleSql("q_e_nnd_graph")
        .contains("rnk <= 7"))
    }
    // serving knobs: hop count is the final beam CTE the serve query
    // reads; beam width is the entry fan and the per-hop window bound
    assert(Settings.nndescent.beam == 12)
    assert(Settings.nndescent.hops == 4)
    assert(SparkEntry.oracleSql("q_e_nnd_serve").contains("FROM nsb4"))
    withProp("graft.nndescent.hops", "2") {
      val sql = SparkEntry.oracleSql("q_e_nnd_serve")
      assert(sql.contains("FROM nsb2") && !sql.contains("nsb3"),
        "hop unroll did not follow nndescent.hops")
    }
    withProp("graft.nndescent.beam", "6") {
      assert(SparkEntry.oracleSql("q_e_nnd_serve")
        .contains("range(1, 6 + 1)"))
    }
    // pca: iteration count is the final ppv_<c>_<t> / ppw chain depth,
    // component count the ppfit union width
    assert(Settings.pca.components == 2 && Settings.pca.iters == 8)
    assert(SparkEntry.oracleSql("q_e_pca_fit").contains("ppv_1_8"))
    withProp("graft.pca.iters", "3") {
      val sql = SparkEntry.oracleSql("q_e_pca_fit")
      assert(sql.contains("ppv_0_3") && !sql.contains("ppv_0_4"),
        "power-round unroll did not follow pca.iters")
    }
    withProp("graft.pca.components", "1") {
      assert(!SparkEntry.oracleSql("q_e_pca_var").contains("ppl_1"))
    }
  }

  test("hnsw / incremental-nnd knob overrides re-interpolate engine " +
      "and oracle") {
    assert(Settings.nndescent.hnswRatio == 4)
    assert(Settings.nndescent.hnswLevels == 2)
    assert(Settings.nndescent.hnswUpRounds == 2)
    assert(Settings.nndescent.hnswUpBeam == 6
      && Settings.nndescent.hnswUpHops == 1)
    assert(Settings.nndescent.hnswBeam == 12
      && Settings.nndescent.hnswHops == 4)
    // levels flow: the coarse scan reads layer <levels>'s node set;
    // each layer chain ends at hl<l>k<up_rounds>
    val sql = SparkEntry.oracleSql("q_e_hnsw_serve")
    assert(sql.contains("hl2nd") && sql.contains("hl1k2")
      && sql.contains("hl2k2"))
    withProp("graft.nndescent.hnsw_levels", "1") {
      val s1 = SparkEntry.oracleSql("q_e_hnsw_serve")
      assert(s1.contains("hl1nd") && !s1.contains("hl2nd"),
        "coarse scan did not follow hnsw_levels")
    }
    withProp("graft.nndescent.hnsw_ratio", "8") {
      assert(SparkEntry.oracleSql("q_e_hnsw_serve").contains("% 64"),
        "layer-2 modulus must be ratio^2")
    }
    withProp("graft.nndescent.hnsw_ratio", "1") {
      intercept[IllegalArgumentException] {
        Settings.nndescent.hnswRatio
      }
    }
    // hop budget flow: total hop blocks = levels·up_hops + hnsw_hops
    withProp("graft.nndescent.hnsw_hops", "1") {
      val s2 = SparkEntry.oracleSql("q_e_hnsw_serve")
      assert(s2.contains("hsb3") && !s2.contains("hsb4"),
        "hop chain depth must follow levels*up_hops + hnsw_hops")
    }
    // frontier rungs: default table parses, the oracle carries one
    // serve chain per rung, and malformed rungs fail loudly
    assert(Settings.nndescent.hnswFrontierRungs ==
      Seq((4, 1), (6, 1), (8, 2)))
    val fsql = SparkEntry.oracleSql("q_e_hnsw_frontier")
    assert(fsql.contains("hf4x1rv") && fsql.contains("hf6x1rv")
      && fsql.contains("hf8x2rv"))
    withProp("graft.nndescent.hnsw_frontier_rungs", "3:1") {
      val f1 = SparkEntry.oracleSql("q_e_hnsw_frontier")
      assert(f1.contains("hf3x1rv") && !f1.contains("hf6x1rv"),
        "rung chains did not follow hnsw_frontier_rungs")
    }
    withProp("graft.nndescent.hnsw_frontier_rungs", "0:1") {
      intercept[IllegalArgumentException] {
        Settings.nndescent.hnswFrontierRungs
      }
    }
    // malformed rungs name the knob and the expected shape rather
    // than leaking a bare MatchError/NumberFormatException
    for (bad <- Seq("4", "4:1:2", "a:b")) {
      withProp("graft.nndescent.hnsw_frontier_rungs", bad) {
        val e = intercept[IllegalArgumentException] {
          Settings.nndescent.hnswFrontierRungs
        }
        assert(e.getMessage.contains("hnsw_frontier_rungs")
          && e.getMessage.contains("ub:uh"), s"'$bad': ${e.getMessage}")
      }
    }
    // PQ rerank rungs: default table parses; one re-rank tail per
    // rung in the frontier oracle, sharing ONE traversal core
    assert(Settings.nndescent.hnswPqRerankRungs == Seq(12, 24, 48, 96))
    val pfsql = SparkEntry.oracleSql("q_e_hnsw_pq_frontier")
    assert(pfsql.contains("gpr12rv") && pfsql.contains("gpr96rv"))
    withProp("graft.nndescent.hnsw_pq_rerank_rungs", "16") {
      val f2 = SparkEntry.oracleSql("q_e_hnsw_pq_frontier")
      assert(f2.contains("gpr16rv") && !f2.contains("gpr12rv"),
        "rerank tails did not follow hnsw_pq_rerank_rungs")
    }
    // KN prune rungs: default table parses, the pruning oracle
    // carries one chain per rung, and bad rungs fail loudly naming
    // the knob (1 prunes nothing — that is the baseline row)
    assert(Settings.lm.knPruneRungs == Seq(2L, 4L))
    val prsql = SparkEntry.oracleSql("q_t_kn3_pruned_ab")
    assert(prsql.contains("kp0cx") && prsql.contains("kp1cx"))
    withProp("graft.lm.kn_prune_rungs", "3") {
      val p1 = SparkEntry.oracleSql("q_t_kn3_pruned_ab")
      assert(p1.contains("kp0cx") && !p1.contains("kp1cx"),
        "pruning chains did not follow lm.kn_prune_rungs")
    }
    for (bad <- Seq("1", "x")) {
      withProp("graft.lm.kn_prune_rungs", bad) {
        val e = intercept[IllegalArgumentException] {
          Settings.lm.knPruneRungs
        }
        assert(e.getMessage.contains("kn_prune_rungs"),
          s"'$bad': ${e.getMessage}")
      }
    }
    // incremental repair rounds flow: the chain ends at ing<r>
    assert(Settings.nndescent.incrRounds == 2)
    assert(SparkEntry.oracleSql("q_e_nnd_incr").contains("ing2"))
    withProp("graft.nndescent.incr_rounds", "1") {
      val s3 = SparkEntry.oracleSql("q_e_nnd_incr")
      assert(s3.contains("FROM ing1") && !s3.contains("ing2"),
        "repair-round unroll did not follow nndescent.incr_rounds")
    }
    // the seed entry modulus is the frozen-index size (ann.incr_base)
    assert(SparkEntry.oracleSql("q_e_nnd_incr").contains("% 400"))
    withProp("graft.ann.incr_base", "300") {
      assert(SparkEntry.oracleSql("q_e_nnd_incr").contains("% 300"))
    }
  }

  test("tuning.small_frame_parts / pca.rows_per_task validate and " +
      "size the fit passes") {
    // the shared small-frame width: one knob behind the five former
    // coalesce(8) sites (Bpe×2 / Unigram / WordPiece / NnDescent.topK)
    assert(Settings.tuning.smallFrameParts == 8)
    withProp("graft.tuning.small_frame_parts", "3") {
      assert(Settings.tuning.smallFrameParts == 3)
    }
    withProp("graft.tuning.small_frame_parts", "0") {
      intercept[IllegalArgumentException] {
        Settings.tuning.smallFrameParts
      }
    }
    // the pca fit pass sizes ADAPTIVELY (corpus-sized frame): fixture
    // stays at its measured 8-task knee, a 10⁹-row corpus saturates
    // the cluster, and the clamp floor is 1
    assert(Settings.pca.rowsPerTask == 4096)
    assert(graft.ml.PowerPca.fitPartitions(500L, 64, 32) == 8)
    assert(graft.ml.PowerPca.fitPartitions(1000000000L, 64, 32) == 32)
    assert(graft.ml.PowerPca.fitPartitions(0L, 64, 32) == 1)
    withProp("graft.pca.rows_per_task", "1024") {
      assert(graft.ml.PowerPca.fitPartitions(500L, 64, 32) == 32)
    }
    withProp("graft.pca.rows_per_task", "0") {
      intercept[IllegalArgumentException] { Settings.pca.rowsPerTask }
    }
  }

  test("cluster_qa / validation_walkforward sections mirror the yaml " +
      "and reach their consumers") {
    val Q = Settings.clusterQa
    assert(Q.retCvThreshold == 5.0 && Q.minNRows == 200)
    assert(Q.minStateShare == 0.03 && Q.signConsistencyThreshold == 0.55)
    assert(Q.ciWidthQuantileThreshold == 0.8 && Q.eps == 1e-12)
    // the module's derived thresholds (cluster_qa.py:212-213)
    assert(Q.transitionsSparseThreshold == 40)
    assert(Q.nearZeroMeanThreshold == 0.001)
    val W = Settings.walkForward
    assert(W.nSplits == 4)
    assert(W.trainEndListDefault.head == "2012-12-31"
      && W.trainEndListDefault.size == 5)
    assert(W.hmmComponentsDefault == 5 && W.clusterMethodDefault == "gmm")
    assert(W.clusterKDefault == 5 && W.scalingScopeDefault == "per_ticker")
    assert(W.continueOnErrorDefault)
    // overrides re-interpolate the oracles
    withProp("graft.cluster_qa.ret_cv_threshold", "7.5") {
      assert(SparkEntry.oracleSql("q_qa_cluster_flags").contains("7.5"))
    }
    withProp("graft.cluster_qa.min_n_rows", "500") {
      // derived threshold follows: max(10, 500/5) = 100
      assert(Settings.clusterQa.transitionsSparseThreshold == 100)
      assert(SparkEntry.oracleSql("q_qa_cluster_flags")
        .contains("< 100"))
    }
    withProp("graft.validation_walkforward.n_splits", "3") {
      val sql = SparkEntry.oracleSql("q_bt_walk_forward")
      // split arithmetic and the unrolled split branches both follow
      assert(sql.contains("// 3 AS step"))
      assert(sql.contains("SELECT 2 AS split_idx")
        && !sql.contains("SELECT 3 AS split_idx"))
    }
  }

  test("env-var override layer resolves between sysprops and the file") {
    val old = Settings.envSource
    try {
      Settings.envSource = k =>
        if (k == "GRAFT_PRECISION__SILVER_FLOAT") Some("float64")
        else None
      // env override observed by the typed view, the precision-policy
      // schema, and the q_config_effective oracle interpolation
      assert(Settings.precision.silverFloat == "float64")
      assert(Precision.SilverLayer.floatType == DoubleType)
      // float64 policy = doubles pass through UN-downcast (the default
      // float32 silver policy would cast v to FloatType)
      val df = Seq(("A", 1.5)).toDF("k", "v")
      assert(Precision.withPrecision(df, Precision.SilverLayer)
        .schema("v").dataType == DoubleType)
      assert(SparkEntry.oracleSql("q_config_effective")
        .contains("('precision.silver_float', 'float64')"))
      // sysprops still win over env
      withProp("graft.precision.silver_float", "float32") {
        assert(Settings.precision.silverFloat == "float32")
      }
    } finally Settings.envSource = old
    assert(Settings.precision.silverFloat == "float32")
  }

  test("properties file source resolves below sysprops") {
    val f = java.io.File.createTempFile("graft-settings", ".properties")
    f.deleteOnExit()
    val pw = new java.io.PrintWriter(f)
    pw.println("backtest_sensitivity.max_combos = 42")
    pw.println("event_grammar.hold_consecutive_bars = 9")
    pw.close()
    withProp("graft.settings.file", f.getAbsolutePath) {
      assert(Settings.sensitivity.maxCombos == 42)
      assert(EventGrammar.HoldBars == 9)
      // sysprop still wins over the file
      withProp("graft.event_grammar.hold_consecutive_bars", "2") {
        assert(EventGrammar.HoldBars == 2)
      }
    }
    assert(Settings.sensitivity.maxCombos == 500)
  }

  test("multimodal knobs (band-bucket cap, video keyframe step/share) " +
      "validate and re-interpolate the video-dup oracle") {
    assert(Settings.multimodal.maxBandBucket == 64)
    assert(Settings.multimodal.videoFrameStep == 2)
    assert(Settings.multimodal.videoMinShare == 0.5)
    withProp("graft.multimodal.max_band_bucket", "1") {
      intercept[IllegalArgumentException] {
        Settings.multimodal.maxBandBucket
      }
    }
    withProp("graft.multimodal.video.frame_step", "0") {
      intercept[IllegalArgumentException] {
        Settings.multimodal.videoFrameStep
      }
    }
    withProp("graft.multimodal.video.min_frame_share", "1.5") {
      intercept[IllegalArgumentException] {
        Settings.multimodal.videoMinShare
      }
    }
    // oracle text follows the knobs (the desync-proof contract): the
    // sampling stride and the verdict threshold are interpolated into
    // the video-dup SQL
    def videoSql = SparkEntry.oracleSql("q_m_video_dup")
    assert(videoSql.contains("range(0, len(text) // 256 + 1, 2)"))
    assert(videoSql.contains(">= 0.5"))
    withProp("graft.multimodal.video.frame_step", "3") {
      assert(videoSql.contains("range(0, len(text) // 256 + 1, 3)"))
    }
    withProp("graft.multimodal.video.min_frame_share", "0.75") {
      assert(videoSql.contains(">= 0.75"))
    }
  }
}
