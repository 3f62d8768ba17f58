package graft.queries

import org.apache.spark.sql.SparkSession

/** Concurrent materialization of the shared Stage caches.
  *
  * The registered queries share ~15 cached stages (slim grammar/labels,
  * the 8 per-combo trade sims, bootstrap draws, the scored combo frame).
  * A sequential query loop builds them one at a time, leaving the
  * cluster idle between jobs and charging each cache's build cost to
  * whichever consumer happens to run first. Prewarming submits the
  * builds as concurrent Spark jobs in dependency phases — on a real
  * cluster this is exactly how the reference's staged artifacts are
  * produced (each layer persisted once, consumed many times), and on
  * local[32] it turns the serial cache-population tail into one
  * all-cores phase. */
object Warmup {

  /** Per-phase wall seconds + per-build wall seconds of the last
    * [[prewarm]] (builds within a phase overlap, so per-build times
    * overstate exclusive cost — the phase wall is the honest total;
    * per-build is the RANKING signal the bench JSON now carries). */
  final case class Report(phases: Seq[(String, Double)],
    builds: Seq[(String, Double)])

  /** Materialize shared stages in dependency order (phases run their
    * members concurrently). Safe to call more than once — Stage.cached
    * memoizes. Returns wall seconds per phase and per build (the
    * bench JSON reports both so stage-build cost is separable from
    * query cost). */
  def prewarm(spark: SparkSession, dir: String): Report = {
    graft.SparkEntry.tune(spark)
    // Phase-level build concurrency. Each build is itself a multi-job
    // Spark program that can fill all task slots; running many at once
    // mostly contends for the same slots and shuffle I/O — under a
    // loaded host 8-wide phases measured 2-6× their idle-machine cost.
    // Width 4 keeps slots fed through stragglers without that pile-up.
    val width = 4
    val phaseTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val buildTimes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    def phase(label: String, builds: Seq[(String, () => Any)]): Unit = {
      val p0 = System.nanoTime()
      graft.ops.Pools.awaitAll(builds.map { case (name, b) =>
        () => {
          val t0 = System.nanoTime()
          val r = b()
          buildTimes.add(name -> (System.nanoTime() - t0) / 1e9)
          r
        }
      }, width = width)
      phaseTimes += label -> (System.nanoTime() - p0) / 1e9
    }

    // phase 1: chain roots (one hash exchange each, disjoint inputs)
    phase("warmup_p1_roots", Seq(
      "slimGrammar" -> (() => Stage.slimGrammar(spark, dir).count()),
      "slimFwd" -> (() => Stage.slimFwd(spark, dir).count()),
      "gramSlim" -> (() => BacktestQueries2.gramSlim(spark, dir).count()),
      "docSigs" -> (() => DedupStages.docSigs(spark, dir).count()),
      "annPairs" -> (() => TextQueries.annPairs(spark, dir).count()),
      "pqTop5" -> (() => AnnStages.pqTop5(spark, dir).count()),
      "exactTop5" -> (() => AnnStages.exactTop5(spark, dir).count()),
      "annServeIndex" ->
        (() => AnnStages.annServeIndex(spark, dir).count()),
      "ivfPqCands" -> (() => AnnStages.ivfPqCands(spark, dir).count()),
      // residual index artifacts: the coarse + residual Lloyd fits are
      // iterative job chains — warm them concurrently with the other
      // roots so the fit latency overlaps instead of serializing into
      // the first residual query
      "residCands" -> (() => AnnStages.residCands(spark, dir).count()),
      // incremental-index artifacts: base-snapshot coarse + residual
      // Lloyd fits + the union index — same iterative-chain shape as
      // residCands, so it overlaps here instead of serializing into
      // the first q_e_index_* query
      "annServeIncrIndex" ->
        (() => AnnStages.annServeIncrIndex(spark, dir).count()),
      "hdbscanPairs" -> (() => MlQueries.hdbscanPairs(spark, dir).count()),
      "bronzeDf" -> (() => IngestQueries.bronzeDf(spark, dir).count()),
      // exact-substring covered positions (span + strip queries) and
      // the shard-export assignment (assign/manifest/balance) — both
      // single-exchange roots over documents
      "substrCovered" ->
        (() => DedupStages.substrCovered(spark, dir).count()),
      "substrIncrCovered" ->
        (() => DedupStages.substrIncrCovered(spark, dir).count()),
      "shardStage" ->
        (() => CurationQueries.shardStage(spark, dir).count()),
      // DSIR importance-weight model + per-doc scores (weights and
      // Gumbel-resample queries) and the bigram-LM per-doc scores
      // (bigram report + perplexity buckets) — both two-shuffle roots
      // over documents
      "dsirWeights" ->
        (() => CurationQueries.dsirWeights(spark, dir).count()),
      // quality-classifier labeled-feature stage + the GD fit (a
      // trained-model artifact like bpeVocab — its iterative action
      // chain overlaps the other roots instead of serializing into
      // the first q_t_quality_clf* query)
      "qclfFit" -> (() => CurationQueries.qclfWeights(spark, dir)),
      "bigramLp" -> (() => TextQueries.bigramLp(spark, dir).count()),
      // Kneser-Ney per-doc scores (KN report + KN perplexity buckets)
      // — the same two-count-shuffle root shape as bigramLp
      "knLp" -> (() => TextQueries.knLp(spark, dir).count()),
      // KN TRIGRAM per-doc scores (kn3 report + order-movement
      // matrix) — one more count shuffle than the bigram rung
      "kn3Lp" -> (() => TextQueries.kn3Lp(spark, dir).count()),
      // Stupid-Backoff per-doc scores (SB report + backoff mix) —
      // three count shuffles over the index slice + the scoring joins
      "sbLp" -> (() => TextQueries.sbLp(spark, dir).count()),
      // unigram-LM tokenizer fit (Viterbi-EM rounds over the
      // word-freq vocabulary) — a tokenizer-training artifact like
      // bpeVocab, built once here so its round chain overlaps
      "uniFit" -> (() => TextQueries.uniLearned(spark, dir)),
      // WordPiece fit (likelihood-ranked merge rounds) + the greedy
      // word → pieces table — the third tokenizer-training artifact
      "wpSegs" -> (() => TextQueries.wpSegs(spark, dir).count()),
      // the frozen incremental WordPiece state (index-only fit +
      // batch words greedy-encoded under it)
      "wpIncrSegs" -> (() => TextQueries.wpIncrSegs(spark, dir).count()),
      // CDC chunk fingerprints (one codegen'd rolling-hash pass,
      // shuffle-free — the stored block-dedup artifact)
      "cdcChunks" -> (() => DedupStages.cdcChunks(spark, dir).count()),
      // J-L projected embeddings (map-only literal-matrix dots — the
      // stored reduced-dim artifact for the rp norm/distortion/recall
      // rows)
      "rpProjected" -> (() => AnnStages.rpProjected(spark, dir).count()),
      // IVF-Flat index build (MLlib coarse fit) — an index artifact,
      // built once here instead of per q_e_ann_ivf run
      "ivfTop5" -> (() => AnnStages.ivfTop5(spark, dir).count()),
      // NN-Descent kNN graph (md5 init + fixed local-join rounds) —
      // an iterative graph artifact read by the graph + recall rows
      "nndGraph" -> (() => AnnStages.nndGraph(spark, dir).count()),
      // power-iteration PCA fit (deflated decimal matvec rounds) —
      // a trained-model artifact read by the fit + variance rows
      "pcaFit" -> (() => AnnStages.pcaFitted(spark, dir)),
      // exact Jaccard pair truth (one shingle pass, self-join-free)
      "jaccTruth" -> (() => DedupStages.jaccTruth(spark, dir).count()),
      // BPE merge-table learn (12 iterative rounds over the word-freq
      // vocabulary) — a tokenizer-training artifact, built once here
      // so its round chain overlaps the other roots
      "bpeVocab" -> (() => TextQueries.bpeVocab(spark, dir).count()),
      "bpeBytesVocab" ->
        (() => TextQueries.bpeBytesVocab(spark, dir).count()),
      // the frozen incremental-tokenizer state (index-only learn)
      "bpeIncrVocab" ->
        (() => TextQueries.bpeIncrVocab(spark, dir).count()),
      // winnowed document fingerprints (one rolling-hash pass + a
      // per-doc window — the stored MOSS artifact)
      "winnowFps" -> (() => DedupStages.winnowFps(spark, dir).count()),
      // trade-graph edges (the stored PageRank input)
      "tradeEdges" -> (() => Relational.tradeEdges(spark, dir).count())))

    // phase 2: consumers of the roots — per-combo sims, the gated/base
    // signal variants (shared by the hybrid grid AND walk-forward
    // families — built once here so phase 3 never races on them),
    // bootstrap draw tables, day windows, the slim signal frame
    phase("warmup_p2_consumers",
      BacktestQueries2.GridCombos.map(c =>
        s"comboTrades:$c" ->
          (() => BacktestQueries2.comboTrades(spark, dir, c).count()))
        ++ Seq(
          "slimSignals" -> (() => Stage.slimSignals(spark, dir).count()),
          "bootStats" -> (() => ResearchQueries.bootStats(spark, dir).count()),
          "bootPair" -> (() => ResearchQueries.bootPair(spark, dir).count()),
          "dayWindows" ->
            (() => ResearchQueries.dayWindows(spark, dir).count()),
          "calBase" ->
            (() => CalibrationQueries.calBase(spark, dir).count()),
          // docComponents populates the shared mhPairs stage through
          // its own builder call — no separate entry, no intra-phase
          // double-build race
          "docComponents" ->
            (() => DedupStages.docComponents(spark, dir).count()),
          // semantic component map (reads the phase-1 annPairs stage)
          "semComps" -> (() => TextQueries.semComps(spark, dir).count()),
          // beam-search serving over the phase-1 NN-Descent graph
          // (iterative hop chain — the serve + serve-recall rows)
          "nndServed" ->
            (() => AnnStages.nndServed(spark, dir).count()),
          // HNSW layer graphs + hierarchical serve (reads the phase-1
          // base graph; layer builds are bucket-init NND chains) and
          // the frontier's non-default rungs (share the layers)
          // NOTE (r15): the non-default frontier rungs
          // (hnswServedAt(ub, uh)) and the three dimred arms were
          // dropped from prewarm — each is consumed by exactly ONE
          // registered query (q_e_hnsw_frontier / q_e_dimred_ab), so
          // that query pays its own build. 52 s (dimred) + 38 s
          // (frontier rungs) off the cold warmup wall.
          "hnswServed" ->
            (() => AnnStages.hnswServed(spark, dir).count()),
          // frozen-base incremental graph (base build + seed beam
          // search + confined repair rounds)
          "nndIncrGraph" ->
            (() => AnnStages.nndIncrGraph(spark, dir).count()),
          // the all-nodes exact truth (the recall denominator — one
          // broadcast brute-force pass, stored once)
          "nndTruth" ->
            (() => AnnStages.nndTruth(spark, dir).count()),
          // calibration-driven classifier threshold (reads the
          // phase-1 qclfFit artifact; one 10-row metric collect)
          "qclfThreshold" ->
            (() => CurationQueries.qclfThreshold(spark, dir)),
          // batch words under the frozen index merges (iterative
          // apply loop — reads the phase-1 incremental learn)
          "bpeBatchApplied" -> (() => TextQueries.batchAppliedVocab(
            spark, dir, TextQueries.bpeIncrLearned(spark, dir)._1)
            .count()),
          "idxStarEdges" ->
            (() => DedupStages.idxStarEdges(spark, dir).count()),
          "kmTop5" -> (() => AnnStages.kmTop5(spark, dir).count()),
          "rerankTop5" ->
            (() => AnnStages.rerankTop5(spark, dir).count()),
          "residRerankTop5" ->
            (() => AnnStages.residRerankTop5(spark, dir).count()),
          "annServeResIndex" ->
            (() => AnnStages.annServeResIndex(spark, dir).count()),
          "lloydTop5" -> (() => AnnStages.lloydTop5(spark, dir).count()),
          "lloydAssign" ->
            (() => MlQueries.lloydAssign(spark, dir).count()),
          "hdbscanCoreDf" ->
            (() => MlQueries.hdbscanCoreDf(spark, dir).count()))
        ++ HybridQueries.sigBuilds(spark, dir))

    // phase 3: the scored combo frame (needs all 8 sims; also the
    // hybrid baseline run) + the calibration sweep grid (needs the
    // calibration base) + the hybrid overlay grids and walk-forward
    // cells (each ONE keyed sim over the phase-2 signal stages)
    phase("warmup_p3_scored", Seq(
      "comboScored" ->
        (() => BacktestQueries2.comboScored(spark, dir).count()),
      "calGrid" -> (() => CalibrationQueries.calGrid(spark, dir).count()),
      "wfMetrics" -> (() => HybridQueries.wfMetrics(spark, dir).count()))
      ++ HybridQueries.Runs.filter(_.mode.isDefined).map(r =>
        s"runScored:$r" ->
          (() => HybridQueries.runScored(spark, dir, r).count())))

    import scala.jdk.CollectionConverters._
    Report(phaseTimes.toSeq, buildTimes.asScala.toSeq)
  }
}
