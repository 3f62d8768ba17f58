package graft

/** Physical-plan invariants for the scale-critical operators — the
  * ARCHITECTURE.md claims, locked as tests. Runs against the driver's
  * sf0.001 parquet (read-only). */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q_scan_project pushes filters and prunes the scan") {
    val p = planOf("q_scan_project")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("IsNotNull"), "expected pushed IsNotNull")
    // pruned read schema: the query needs 5 source columns of 11
    val read = "ReadSchema:.*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("l_orderkey") && !read.contains("l_comment"),
      s"scan not pruned: $read")
  }

  test("q_join_enrich keeps dimension joins broadcast") {
    val p = planOf("q_join_enrich")
    assert(p.contains("BroadcastHashJoin"), "dim join not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_e_ann_pairs: bucket equi-join, never a cross product") {
    val p = planOf("q_e_ann_pairs")
    assert(!p.contains("CartesianProduct"),
      "ANN pair generation degenerated to a cross product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "ANN pair generation degenerated to a nested-loop join")
  }

  test("q_d_simhash: 16-bit band blocking, key space >= 2^16, equi-join") {
    import graft.text.TextOps
    // the blocking-key space (band_idx × band_value) must be wide enough
    // that per-key bucket sizes stay sub-linear at corpus scale
    val keySpace = TextOps.SimHashBands.toLong << TextOps.SimHashBandBits
    assert(keySpace >= (1L << 16),
      s"simhash blocking key space $keySpace below 2^16 — near-quadratic")
    val p = planOf("q_d_simhash")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_d_jaccard: candidate pairs via equi-join, no cross product") {
    val p = planOf("q_d_jaccard")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("slim grammar stage is cache-shared across consumers") {
    // materialize the shared stage, then any consumer must read the
    // InMemory relation instead of rebuilding the chain
    graft.queries.Stage.slimGrammar(spark, dir).count()
    val p = planOf("q_hmm_transitions")
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      "consumer did not reuse the cached slim grammar stage")
    graft.queries.Stage.clear()
  }

  test("q_bt_edge bar-count side reuses the cached slim grammar stage") {
    graft.queries.Stage.clear()
    // populate the shared grammar_slim stage (any grid consumer does)
    SparkEntry.queries("q_bt_grid")(spark, dir).count()
    val p = planOf("q_bt_edge")
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      "q_bt_edge rebuilt the indicators→grammar chain instead of " +
        "reading the cached slim stage")
    graft.queries.Stage.clear()
  }

  test("DSIR weight stage: the model is broadcast, never a shuffle " +
      "join (audited on the stage BUILD — the registered query reads " +
      "the checkpointed stage)") {
    val p = graft.text.Dsir.logWeights(
      spark.read.parquet(s"$dir/documents.parquet"), 64, "en")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "model join not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a model-side join fell back to a shuffle join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_t_dsir_sample: global top-k plans as TakeOrdered, not a " +
      "corpus-wide sort") {
    val p = planOf("q_t_dsir_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "resample did not plan as TakeOrdered(k)")
  }

  test("q_e_proto_prune / q_t_ppl_buckets: quantile cuts broadcast back") {
    val p1 = planOf("q_e_proto_prune")
    assert(p1.contains("BroadcastHashJoin"), "proto cuts not broadcast")
    assert(!p1.contains("CartesianProduct"))
    val p2 = planOf("q_t_ppl_buckets")
    assert(p2.contains("BroadcastHashJoin"), "ppl cuts not broadcast")
    graft.queries.Stage.clear()
  }

  test("unigram E-step pass is map-only with the model as a plan " +
      "literal; KN scoring stays on count-table equi-joins") {
    // the per-round segmentation pass: Viterbi DP as an aggregate
    // fold over a checkpointed word table — no exchange, no join (the
    // vocab rides as a map literal, the QualityClf broadcast-fit
    // shape); the round's only shuffle is the usage groupBy
    val words = graft.text.Bpe.wordTable(
      spark.read.parquet(s"$dir/documents.parquet")).localCheckpoint()
    val p = graft.text.Unigram
      .segmentWords(words, Map("a" -> -1.0, "ab" -> -2.0), 4, -20.0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unigram E-step shuffled:\n$p")
    assert(!p.contains("Join"),
      "the unigram model must ride as a literal, never a join")
    // KN: bigram/context/continuation count tables meet the scored
    // stream on equi-joins; the one-row type total is a broadcast
    // cross (the family's scalar-stat convention) — never a true
    // cartesian over data
    val p2 = planOf("q_t_kn_lp")
    assert(!p2.contains("CartesianProduct"))
    graft.queries.Stage.clear()
  }

  test("CDC chunking is shuffle-free (map-only per doc)") {
    val df = graft.text.Cdc.chunks(
      spark.read.parquet(s"$dir/documents.parquet"), 8, 32)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"CDC chunking shuffled:\n$p")
  }

  test("q_e_contrastive / q_e_rp_rerank: candidate-bounded selection, " +
      "no cross product, query sides broadcast") {
    val p1 = planOf("q_e_contrastive")
    assert(!p1.contains("CartesianProduct"))
    assert(!p1.contains("BroadcastNestedLoopJoin"),
      "contrastive mining degenerated to a nested-loop join")
    val p2 = planOf("q_e_rp_rerank")
    assert(p2.contains("BroadcastHashJoin"),
      "rp-rerank query side not broadcast")
    assert(!p2.contains("CartesianProduct"))
    graft.queries.Stage.clear()
  }

  test("ANN pair / bronze parse / index-star stages are cache-shared " +
      "across their consumers") {
    graft.queries.Stage.clear()
    // populate the shared stages through their first consumers (same
    // memo Warmup fills), then each later consumer must read the
    // checkpointed stage (ExistingRDD leaf) instead of rebuilding the
    // LSH self-join / line parse / index CC
    SparkEntry.queries("q_e_ann_pairs")(spark, dir).count()
    SparkEntry.queries("q_bronze_parse")(spark, dir).count()
    SparkEntry.queries("q_d_components_incr")(spark, dir).count()
    for (q <- Seq("q_e_sim_hist", "q_e_semantic_dedup",
        "q_bronze_sanity", "q_d_components_incr")) {
      val p = planOf(q)
      assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
        s"$q rebuilt its shared stage instead of reading the cache")
    }
    graft.queries.Stage.clear()
  }

  test("PQ ground truth, fitted-codebook top-5, and the serving index " +
      "are cache-shared across their consumers") {
    graft.queries.Stage.clear()
    // first consumers populate exactTop5/pqTop5/kmTop5/annServeIndex
    SparkEntry.queries("q_e_pq_recall")(spark, dir).count()
    SparkEntry.queries("q_e_ann_serve")(spark, dir).count()
    for (q <- Seq("q_e_pq_recall", "q_e_pq_recall_cmp", "q_e_ann_serve")) {
      val p = planOf(q)
      assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
        s"$q rebuilt its shared PQ/serving stage instead of reading " +
          "the cache")
    }
    graft.queries.Stage.clear()
  }

  test("rerank: ADC candidate stage is cache-shared; the re-score is " +
      "a candidate-keyed broadcast-query equi-join") {
    graft.queries.Stage.clear()
    // q_e_ann_rerank populates ivfpq_adc_cands + rerank_top5; the A/B
    // gain query must then read the SAME cached stages, not rebuild
    // the IVF-PQ ranking
    SparkEntry.queries("q_e_ann_rerank")(spark, dir).count()
    for (q <- Seq("q_e_ann_rerank", "q_e_rerank_gain")) {
      val p = planOf(q)
      assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
        s"$q rebuilt the shared ADC candidate stage instead of " +
          "reading the cache")
    }
    graft.queries.Stage.clear()
    // audit the operator's BUILD plan: full vectors join the SHORT
    // LIST by vid (equi-join), the query vectors broadcast, and
    // nothing degenerates to a cross product — the shape that keeps
    // full-vector cost at queries×R rows at any corpus size
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cands = graft.text.Similarity.ivfPqTopK(emb,
      org.apache.spark.sql.functions.col("vec_id") < 32,
      k = 16, nCells = 8, nProbe = 2)
    val p = graft.text.Similarity.rerankExact(emb,
        org.apache.spark.sql.functions.col("vec_id") < 32, cands, k = 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"),
      "rerank lost its broadcast-query equi-join shape")
  }

  test("incremental index: serve reads the cached union index; drift " +
      "stats stay broadcast equi-joins") {
    graft.queries.Stage.clear()
    // q_e_index_incr populates ann_serve_incr_index; a second
    // evaluation must read the cached union, not re-encode
    SparkEntry.queries("q_e_index_incr")(spark, dir).count()
    val p = planOf("q_e_index_incr")
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      "q_e_index_incr rebuilt the standing index instead of reading " +
        "the cache")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the refit dial: centroid/codebook tables broadcast, never a
    // cross product — the stats pass is corpus-scan-shaped
    val pd = planOf("q_e_index_drift")
    assert(!pd.contains("CartesianProduct"))
    assert(!pd.contains("BroadcastNestedLoopJoin"))
    graft.queries.Stage.clear()
  }

  test("residual IVF-PQ: candidate stage is cache-shared across its " +
      "four consumers; build plan stays broadcast equi-joins") {
    graft.queries.Stage.clear()
    // q_e_ann_ivfpq_res populates ivfpq_res_cands; the rerank, gain,
    // and serving-comparison queries must read the SAME cached stage
    SparkEntry.queries("q_e_ann_ivfpq_res")(spark, dir).count()
    for (q <- Seq("q_e_ann_ivfpq_res", "q_e_ann_ivfpq_res_rerank",
        "q_e_ivfpq_res_gain")) {
      val p = planOf(q)
      assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
        s"$q rebuilt the shared residual ADC stage instead of " +
          "reading the cache")
    }
    graft.queries.Stage.clear()
    // operator BUILD plan: codebook/cell tables broadcast, candidates
    // by equi-join, never a cross product — corpus vectors shuffle
    // only their m codes at any scale
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val S = graft.text.Similarity
    val cells = S.lloydCoarseCells(emb, nCells = 4, iters = 1)
    val cb = S.lloydResidualCodebook(emb, cells, m = 4, subK = 4,
      iters = 1)
    val p = S.ivfPqResidualTopK(emb,
        org.apache.spark.sql.functions.col("vec_id") < 32,
        k = 5, nProbe = 2, cells, cb)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"),
      "residual IVF-PQ lost its broadcast equi-join shape")
  }

  test("PQ codebook and ADC joins stay broadcast equi-joins") {
    // audit the operator's BUILD plan — the registered query reads the
    // cached pq_top5 stage, whose plan is just the checkpoint leaf
    val p = graft.text.Similarity.pqTopK(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        org.apache.spark.sql.functions.col("vec_id") < 32, k = 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"),
      "PQ codebook/ADC joins lost their broadcast equi-join shape")
  }

  test("bpe encode: vocab join broadcasts; no round chain in the " +
      "encode plan (the learn is a staged artifact)") {
    val p = planOf("q_t_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      "word -> pieces vocab join must broadcast (megabyte-sized at " +
        "any corpus scale)")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"))
    // the learned vocab is a checkpointed stage: the per-round merge
    // folds must NOT re-run inside the encode plan
    assert(!p.contains("aggregate("),
      "merge-round fold leaked into the encode plan — vocab stage " +
        "not reused")
    // q_t_pack consumes the same staged vocab
    val pk = planOf("q_t_pack")
    assert(!pk.contains("aggregate("),
      "q_t_pack re-runs the BPE learn instead of reading the stage")
  }

  test("dedup pipeline: stage-shared artifacts, equi-joins only, " +
      "and the frontier never cross-joins the corpus") {
    val p = planOf("q_t_dedup_pipeline")
    assert(!p.contains("CartesianProduct"),
      "pipeline stage degenerated to a cross product")
    // the component maps arrive as checkpointed stages, not re-runs
    // of the iterative CC (which would show groupBy/propagation jobs)
    assert(p.contains("Scan ExistingRDD"),
      "shared component stages not read from checkpoint")
    // (one-row broadcast stat attaches are the family's standard
    // scalar crossJoin — only a true cartesian over data is a defect)
    val f = planOf("q_e_ann_frontier")
    assert(!f.contains("CartesianProduct"),
      "frontier rung degenerated to a cartesian product")
  }

  test("q_t_tfidf: df join stays an equi-join, no cartesian blowup") {
    val p = planOf("q_t_tfidf")
    // the one-row corpus-count broadcast is a legitimate
    // BroadcastNestedLoopJoin; only an unbroadcast cartesian is a bug
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "tf/df join lost its equi-join shape")
  }

  test("q_d_components: edge joins never degenerate to cross products") {
    val p = planOf("q_d_components")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_t_pack / q_corpus_curate / q_bt_portfolio: " +
      "no single-task global window") {
    // VERDICT r3 items 1-2 + the r4 equity-curve generalization: global
    // prefix scans must run as the distributed two-pass pattern
    // (Wins.prefixScan), never an unpartitioned Window — which Spark
    // executes as ONE task over the whole input. A
    // windowspecdefinition whose FIRST argument is a sort order (no
    // partition columns before the ordering) is exactly that
    // single-task shape.
    val unpartitioned = raw"windowspecdefinition\([^,)]*(?: ASC | DESC )".r
    for (q <- Seq("q_t_pack", "q_corpus_curate", "q_bt_portfolio")) {
      val p = planOf(q)
      // portfolio's scan windows all live INSIDE the localCheckpoint
      // (single window stage), so only the text queries must still show
      // a partitioned window in the outer plan
      if (q != "q_bt_portfolio")
        assert(p.contains("windowspecdefinition"),
          s"$q: expected a (partitioned) window in the plan")
      assert(unpartitioned.findFirstIn(p).isEmpty,
        s"$q: unpartitioned global window (single task at scale):\n" +
          unpartitioned.findFirstIn(p).getOrElse(""))
    }
  }

  test("new curation/similarity queries keep equi-join + partitioned-" +
      "window shapes") {
    // the corpus-scale additions must never degenerate to a cross
    // product of the corpus with itself, and any window must be
    // partitioned (the one-row totals broadcasts legitimately appear
    // as BroadcastNestedLoopJoin — only CartesianProduct is a bug)
    val unpartitioned = raw"windowspecdefinition\([^,)]*(?: ASC | DESC )".r
    for (q <- Seq("q_t_decontaminate", "q_t_span_dup", "q_t_bigram_lp",
        "q_t_sample_strat", "q_e_semantic_dedup", "q_t_mix_temperature",
        "q_compact_plan")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      assert(unpartitioned.findFirstIn(p).isEmpty,
        s"$q: unpartitioned global window (single task at scale)")
    }
  }

  test("hdbscan pair/core stages: top-k rides the pre-join " +
      "partitioning (no n² exchange); consumers read the cache") {
    // the point side is hash-partitioned on ia BEFORE the broadcast
    // cross join, so the per-point top-k window inherits its required
    // distribution from the n-row input — the n² pair rows are never
    // shuffled. The registered queries now read the shared
    // hdbscan_pairs/coredist stages (one n² scan per run), so the
    // audit targets the stage BUILD plan, then asserts both consumers
    // hit the cache.
    graft.queries.Stage.clear()
    // the cached stage is a checkpoint leaf, so reconstruct the build
    // plan inline (same shape as MlQueries.hdbscanPairs + the rn=8
    // core selection) — the PQ-codebook audit uses the same pattern
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val pairs = e.select(col("vec_id").as("ia"), col("v").as("va"))
      .repartition(col("ia"))
      .join(broadcast(
        e.select(col("vec_id").as("ib"), col("v").as("vb"))))
      .select(col("ia"), col("ib"),
        sqrt(graft.functions.VecOps.sqDist(col("va"), col("vb")))
          .as("dist"))
    val build = pairs.withColumn("rn", row_number().over(
        Window.partitionBy("ia").orderBy("dist", "ib")))
      .filter(col("rn") === 8)
      .queryExecution.executedPlan.toString
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(build).size
    assert(shuffles <= 2,
      s"expected <=2 row exchanges, got $shuffles:\n$build")
    assert(build.contains("WindowGroupLimit"),
      "top-k pushdown (WindowGroupLimit) missing — full n² sort")
    for (q <- Seq("q_hdbscan_core", "q_hdbscan_mst_edges")) {
      val p = planOf(q)
      assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
        s"$q rebuilt the shared hdbscan stage instead of reading " +
          "the cache")
    }
    graft.queries.Stage.clear()
  }

  test("sanity/QA batteries: global aggregates + partitioned windows only") {
    // q_bt_sanity / q_grid_sanity / q_sanity_gold_audit are single-pass
    // aggregate batteries (map-side partial agg, one row or one row per
    // column out); q_qa_state_windows groups once on (win, state) and
    // windows only within state partitions. None may introduce a
    // cartesian product or an unpartitioned (single-task) window.
    val unpartitioned = raw"windowspecdefinition\([^,)]*(?: ASC | DESC )".r
    for (q <- Seq("q_bt_sanity", "q_grid_sanity", "q_sanity_gold_audit",
        "q_qa_state_windows")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      assert(unpartitioned.findFirstIn(p).isEmpty,
        s"$q: unpartitioned global window (single task at scale)")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$q: expected an aggregate battery in the plan")
    }
  }

  test("report-table ranks carry NO unpartitioned window node at all " +
      "(r16: converted to broadcast rank joins / TakeOrdered)") {
    // r15 pinned these queries' intentional unpartitioned windows to
    // aggregate-only inputs; r16 (VERDICT item 7) removed the windows
    // outright — Wins.boundedRanks ranks the ≤k-row report tables via
    // a broadcast inequality join, and the argmax picks became
    // parallel TakeOrdered. No logical Window without a partitionSpec
    // may appear anywhere in these plans again.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("q_rank_norm", "q_bt_robustness", "q_t_source_kl",
        "q_w_dense_rank", "q_t_bm25", "q_e_sim_hist", "q_pagerank_trade",
        "q_cluster_hardening_full", "q_t_vocab", "q_hybrid_eval",
        "q_hybrid_key_deltas", "q_hybrid_wf", "q_t_dsir_sample",
        "q_cluster_assign_metrics")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan
      val wins = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(wins.isEmpty,
        s"$q: unpartitioned window crept back (single task at scale)")
    }
  }

  test("q_scd2_asof: dimension attach has NO join node (union+window " +
      "as-of); q_m_phash_dup stays equi-join") {
    // the SCD2 dimension attaches via the UNION + WINDOW as-of shape —
    // one hash exchange, zero join nodes for the as-of itself (the
    // only Join in the plan would be a fact-side prep join; there is
    // none here)
    val p = planOf("q_scd2_asof")
    assert(!p.contains("Join"),
      "q_scd2_asof grew a join node — the as-of must stay union+window")
    // phash: banded candidate generation is an equi-join on
    // (band_idx, band), never a cross product
    val p2 = planOf("q_m_phash_dup")
    assert(!p2.contains("CartesianProduct"))
    assert(!p2.contains("BroadcastNestedLoopJoin"))
  }

  test("q_t_pii / q_t_blocklist are map-only: no shuffle before the sort") {
    // per-doc scans must stream with the parquet scan — any hash
    // exchange, join, or aggregate means the column program picked up a
    // spurious shuffle (the final orderBy's range exchange is the only
    // legitimate one)
    for (q <- Seq("q_t_pii", "q_t_blocklist")) {
      val p = planOf(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q: unexpected hash exchange in a per-doc column program")
      assert(!p.contains("Join"), s"$q: unexpected join")
      assert(!p.contains("windowspecdefinition"), s"$q: unexpected window")
    }
  }

  test("substr-dedup and shard-export stages are cache-shared; no " +
      "cross products; shard windows partition by shard") {
    graft.queries.Stage.clear()
    // populate through first consumers (same memo Warmup fills)
    SparkEntry.queries("q_d_substr_spans")(spark, dir).count()
    SparkEntry.queries("q_t_shard_assign")(spark, dir).count()
    for (q <- Seq("q_d_substr_strip", "q_t_shard_manifest",
        "q_t_shard_balance")) {
      val p = planOf(q)
      assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
        s"$q rebuilt its shared stage instead of reading the cache")
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoop"), s"$q: cross product")
    }
    // the covered-position keeper is a gram equi-join, never a cross
    // product; the strip's positional filter joins per doc_id
    val spans = planOf("q_d_substr_spans")
    assert(!spans.contains("CartesianProduct")
      && !spans.contains("BroadcastNestedLoop"))
    // in-shard position windows partition by shard_id (never a global
    // unpartitioned data-scale window): partition columns lead the
    // windowspecdefinition. Asserted on the UNCACHED builder — the
    // registered query reads the checkpointed stage, whose internal
    // plan is already collapsed to an RDD leaf.
    val assign = graft.text.Export.shardAssign(
      spark.read.parquet(s"$dir/documents.parquet"), nShards = 8)
      .queryExecution.executedPlan.toString
    assert(assign.contains("windowspecdefinition(shard_id#"),
      "shard window lost its shard_id partitioning")
    graft.queries.Stage.clear()
  }

  test("trade-graph edges and incremental substr-covered are cache-shared") {
    graft.queries.Stage.clear()
    // first consumers populate trade_graph_edges / doc_substr_incr_covered
    // (same memo Warmup fills); a re-planned consumer must read the
    // checkpointed stage — PageRank iterations and the span grouping
    // never re-run the fact join / gram index join
    SparkEntry.queries("q_pagerank_trade")(spark, dir).count()
    SparkEntry.queries("q_d_substr_incr")(spark, dir).count()
    for (q <- Seq("q_pagerank_trade", "q_d_substr_incr")) {
      val p = planOf(q)
      assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
        s"$q rebuilt its shared stage instead of reading the cache")
      // r16: q_pagerank_trade's rank attach is Wins.boundedRanks — a
      // broadcast INEQUALITY join over the ≤25-row nation rank table
      // plans as BroadcastNestedLoopJoin by design (both sides are
      // post-aggregation report frames); only a true CartesianProduct
      // of data-scale inputs is a defect
      assert(!p.contains("CartesianProduct"), s"$q: cross product")
      if (q != "q_pagerank_trade")
        assert(!p.contains("BroadcastNestedLoop"), s"$q: cross product")
    }
    graft.queries.Stage.clear()
  }

  test("event analytics ride one user_id exchange; retention stays bounded") {
    // sessionization and the funnel are single-shuffle: the per-user
    // windows, the (user_id, sess_idx) / per-user aggregates, and (for
    // the funnel) the global rollup all ride ONE hashpartitioning on
    // user_id (subset partitioning satisfies the aggregate's clustering)
    for (q <- Seq("q_ev_sessions", "q_ev_funnel")) {
      val p = planOf(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n == 1, s"$q: expected exactly 1 hash exchange, got $n")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
    // retention may re-shuffle only AFTER per-user reduction — the
    // (cohort, offset) rollup and cohort-size window move a table
    // bounded by days², never the event stream
    val p = planOf("q_ev_retention")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 3, s"q_ev_retention: $n hash exchanges")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_ev_asof has NO join node; q_ev_range_join stays an equi-join") {
    // the as-of join is the union+window shape — one hash exchange,
    // zero join operators (a Join in this plan means the non-equi
    // nested-loop formulation crept back in)
    val asof = planOf("q_ev_asof")
    assert(!asof.contains("Join"), "as-of join planned a join node")
    val n = "Exchange hashpartitioning".r.findAllIn(asof).length
    assert(n == 1, s"q_ev_asof: expected 1 hash exchange, got $n")
    // the binned range join must plan as a shuffled/broadcast EQUI-join
    // on (key, bin) — BETWEEN alone would nested-loop
    val rj = planOf("q_ev_range_join")
    assert(!rj.contains("CartesianProduct"), "range join cartesian")
    assert(!rj.contains("BroadcastNestedLoopJoin"),
      "range join degenerated to a nested loop")
  }

  test("sketch/sampler/corr queries keep single-aggregation shapes") {
    // PPS sampling: broadcast total + map-only inclusion test — no hash
    // exchange anywhere (only the broadcast and the final sort)
    val ws = planOf("q_t_sample_weighted")
    assert(!ws.contains("Exchange hashpartitioning"),
      "weighted sampler picked up a hash exchange")
    assert(ws.contains("BroadcastExchange"), "total not broadcast")
    // quantile sketch and corr matrix: one grouped aggregation each —
    // a single hash exchange carrying per-group sketches/moments
    for (q <- Seq("q_t_len_quantiles", "q_corr_matrix")) {
      val p = planOf(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n == 1, s"$q: expected 1 hash exchange, got $n")
    }
  }

  test("q_exec_calibration: grid joins by broadcast, one pass over bars") {
    // the 280-combo sweep must be the broadcast-grid shape (one pass,
    // map-side partial agg), never a shuffled cartesian of bars × grid
    val p = planOf("q_exec_calibration")
    assert(!p.contains("CartesianProduct"),
      "calibration sweep degenerated to an unbroadcast cartesian")
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin") || p.contains("ExistingRDD"),
      "combo grid not broadcast")
  }

  test("AQE splits a skewed ticker partition in sort-merge joins") {
    // SURVEY §7.5.6: pathological ticker skew in partitionBy("ticker")
    // shuffles is handled by AQE's skew-join split — locked here on a
    // fixture where one ticker holds ~99% of rows
    val s = spark
    import s.implicits._
    val restore = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "16384")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", "false")
      val skewed = (1 to 60000).map(i =>
        (if (i % 100 == 0) s"T${i % 7}" else "HOT", i.toLong))
        .toDF("ticker", "v")
      val dim = (Seq("HOT") ++ (0 until 7).map(i => s"T$i"))
        .zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("ticker", "w")
      val j = skewed.join(dim, Seq("ticker"))
      // collect() executes THIS DataFrame's queryExecution (count()
      // would build a separate one and leave this plan unexecuted)
      assert(j.collect().length == 60000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join split did not engage:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bootstrap statsCi parallelizes per (group, draw)") {
    val s = spark
    import s.implicits._
    val bv = Seq((1, 1L, 1.0), (1, 2L, -2.0), (1, 3L, 3.0),
      (2, 1L, 0.5), (2, 2L, 1.5)).toDF("state", "ts", "v")
    val df = graft.ml.Bootstrap.statsCi(bv, "state", "v", Seq("ts"),
      nBoot = 8)
    val p = df.queryExecution.executedPlan.toString
    // the explode + repartition exchange is the per-draw parallel shape
    assert(p.contains("Exchange hashpartitioning"),
      "per-draw repartition missing")
    assert(df.count() == 2)
  }

  test("keyed simulate: whole sweep is ONE shuffle on (cell, ticker)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.backtest.Engine
    val bars = (1 to 20).map(i => Engine.SimBar(
      "T", i.toLong, i.toLong, 100.0, 101.0, 99.0, 100.5, 2,
      i % 5 == 0, 1)).toDF()
      .withColumnRenamed("state_code", "flow_state_code")
    val cfgs = Map("a" -> Engine.Config(2, 5.0), "b" -> Engine.Config(4, 0.0))
    val keyed = cfgs.keys.toSeq.map(c => bars.withColumn("cell", lit(c)))
      .reduce(_.unionByName(_))
    val ds = Engine.simulate(keyed, cfgs)
    assert(ds.count() > 0)
    // N cells must cost exactly one exchange — per-cell jobs were the
    // pre-batching shape this audit exists to prevent regressing to
    val p = ds.queryExecution.executedPlan.toString
    val nShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nShuffles == 1, s"expected 1 shuffle, got $nShuffles:\n$p")
  }

  test("r11 additions keep equi-join shapes: classifier scoring and " +
      "winnow strip never degenerate to a cross product") {
    // q_d_lsh_e2e is exempt from the nested-loop check: its one-row
    // metric aggregates compose via broadcast crossJoin by design
    // (the report-row convention), which plans as a 1-row BNLJ
    for (q <- Seq("q_t_quality_clf", "q_d_winnow_strip", "q_d_lsh_e2e")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
    for (q <- Seq("q_t_quality_clf", "q_d_winnow_strip")) {
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: nested-loop join")
    }
    graft.queries.Stage.clear()
  }

  test("r12 additions keep their scale shapes: wordpiece encode is " +
      "one vocab equi-join, SB scoring is count-table equi-joins, " +
      "NN-Descent rounds never degenerate to a cross product") {
    // wordpiece encode: corpus tokens join the word → pieces table —
    // an equi-join against a distinct-word frame, never a cross
    // product; the greedy DP itself ran at fit time
    for (q <- Seq("q_t_wordpiece_encode", "q_t_sb_lp",
        "q_e_nnd_graph", "q_e_nnd_recall")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
    // SB scoring: five LEFT equi-joins against vocabulary-bounded
    // count tables + ONE broadcast one-row total — the only
    // nested-loop allowed is that 1-row N attach
    val sb = planOf("q_t_sb_lp")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(sb).length
    assert(bnlj <= 1, s"q_t_sb_lp: $bnlj nested-loop joins (1-row N " +
      "attach is the only allowed one)")
    // NN-Descent graph build: the artifact is k-bounded per node and
    // its rounds are equi-joins (asserted above via q_e_nnd_graph).
    // q_e_nnd_recall is exempt from the nested-loop check: its truth
    // side IS the broadcast brute-force baseline (fixture-scale by
    // design — the quadratic plan NN-Descent exists to avoid); the
    // graph-vs-truth compare itself is an equi-join on (node, nbr).
    graft.queries.Stage.clear()
  }

  test("r13 additions keep their scale shapes: no cartesian products; " +
      "the only nested-loop joins are the documented bounded " +
      "broadcasts") {
    // hnsw serve: the coarse scan is a broadcast cross of the
    // N/ratio^levels top-layer node set (the bounded entry cost —
    // documented knob); everything else is equi-joins over k-bounded
    // edge lists. incr insert: seed entries + confined repair are
    // equi-joins throughout. dimred A/B: the probe crosses 8 queries
    // with the ≤ n_cells broadcast centroid table per arm. curation
    // gate: only 1-row total attaches. None may degenerate to a
    // CartesianProduct.
    for ((q, bnljBound) <- Seq(
        "q_e_hnsw_serve" -> 1, // the coarse scan
        "q_e_nnd_incr" -> 0,
        "q_e_dimred_ab" -> 3, // one ≤n_cells centroid cross per arm
        "q_t_curation_gate" -> 4)) { // 1-row aggregate attaches
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= bnljBound,
        s"$q: $bnlj nested-loop joins > documented bound $bnljBound")
    }
    graft.queries.Stage.clear()
  }

  test("r14 additions keep their scale shapes: no cartesian products; " +
      "the only nested-loop joins are the documented bounded " +
      "broadcasts") {
    // hnsw incr: representative table is a groupBy, entries/seed/
    // repair are equi-joins throughout — zero nested loops. graph+PQ
    // serve: ONE broadcast cross (the knob-bounded top-layer coarse
    // scan); ADC scoring, exact re-rank and the count attaches are
    // equi-joins. kn3 pruning frontier: per-variant single-row
    // aggregate attaches only (sizes × avg × base × moved per rung +
    // the baseline's) — bounded by the rung count, never data-sized.
    // audio dup: lag joins and the band-pair join are equi-joins.
    val rungAttaches = 1 + 3 * graft.Settings.lm.knPruneRungs.length
    for ((q, bnljBound) <- Seq(
        "q_e_hnsw_incr" -> 0,
        "q_e_hnsw_incr_serve" -> 1, // the coarse scan
        "q_e_hnsw_pq_serve" -> 1, // the coarse scan
        "q_e_hnsw_pq_frontier" -> 1, // shared traversal's coarse scan
        "q_t_kn3_pruned_ab" -> rungAttaches,
        "q_m_audio_dup" -> 0)) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= bnljBound,
        s"$q: $bnlj nested-loop joins > documented bound $bnljBound")
    }
    graft.queries.Stage.clear()
  }

  test("PowerPca fit pass partition width scales with input (no " +
      "fixed coalesce on the corpus-sized exploded frame)") {
    import graft.ml.PowerPca
    // fitPartitions is the ONLY width source fit() coalesces the N×d
    // exploded frame to: fixture-sized input keeps the measured
    // 8-task knee (at the driver's local[32]), corpus-sized input
    // saturates defaultParallelism — the r12 verdict's scale-killer
    // (a pinned coalesce(8) would serialize a 100 TB fit onto 8
    // tasks) is structurally gone
    assert(PowerPca.fitPartitions(500L, 64, 32) == 8)
    assert(PowerPca.fitPartitions(500000000L, 64, 32) == 32)
    assert(PowerPca.fitPartitions(1L, 64, 32) == 1)
    // and the clamp respects a SMALLER cluster too
    assert(PowerPca.fitPartitions(500L, 64,
      spark.sparkContext.defaultParallelism)
      == math.min(8, spark.sparkContext.defaultParallelism))
    // and the width really reaches the plan: a fit over a widened
    // fixture must request more partitions than the 8-knee
    assert(PowerPca.fitPartitions(500L * 100, 64, 2048) == 782)
  }

  test("feature layers plan at most one Window operator per dependency " +
      "level") {
    import graft.etl._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // each layer over its own input read back from parquet, as the
    // medallion chain hands layers over: the count is the layer's own
    val tmp = java.nio.file.Files.createTempDirectory("graft-levels")
    def readBack(df: DataFrame, name: String): DataFrame = {
      val p = tmp.resolve(name).toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    val limits = Seq[(String, DataFrame => DataFrame, Int)](
      ("silver", Silver.baseFeatures, 2), ("indicators", Indicators.twiggs, 3),
      ("grammar", EventGrammar.build, 2), ("gold", GoldFeatures.build, 3),
      ("labels", ForwardLabels.build, 2))
    try {
      val bars = readBack(MarketData.barsFromEvents(
        spark.read.parquet(s"$dir/events.parquet")), "bars")
      var in = bars
      val counts = limits.map { case (name, build, _) =>
        val out = build(in)
        in = readBack(out, name)
        name -> out.queryExecution.optimizedPlan
          .collect { case w: Window => w }.length
      }
      info(s"Window operators per layer: $counts")
      val over = counts.zip(limits).collect {
        case ((name, n), (_, _, max)) if n > max => s"$name $n > $max" }
      assert(over.isEmpty, s"Window operators over the layer limits: " +
        over.mkString(", "))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("round-6 centroid distances plan as the fused vec_sqdist18_r6: " +
      "q_kmeans_lloyd's final assignment, q_e_ivfpq_res_gain's residual " +
      "assignment and the residual index's PQ encode (audited on the " +
      "stage builds — the registered queries read checkpointed stages)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val vecs = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray).toIndexedSeq
    val cells = vecs.take(4)
    val subDim = vecs.head.length / 4
    val codebook = IndexedSeq.tabulate(4)(mi =>
      vecs.map(_.slice(mi * subDim, (mi + 1) * subDim)))
    val plans = Seq(
      "lloyd final assignment" -> graft.ml.LloydKmeans.fitWithDist(emb,
        "vec_id", "embedding", k = 4, iters = 2)._1,
      "residual frame" -> graft.text.Similarity.residualFrame(emb, cells),
      "residual PQ encode" -> graft.streaming.StreamingAnnServe
        .indexOfResidual(emb, cells, codebook))
    plans.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("vec_sqdist18_r6("),
        s"$name has no fused distance:\n$p")
      assert(raw"round\(vec_sqdist18\(".r.findFirstIn(p).isEmpty,
        s"$name still rounds an unfused vec_sqdist18:\n$p")
    }
  }
}
