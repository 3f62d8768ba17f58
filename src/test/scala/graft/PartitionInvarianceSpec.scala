package graft

/** Partition-layout invariance — the "would this survive 100×?" proof
  * for the queries whose output depends on global accumulation order.
  * Each query runs under three different physical layouts (scan split
  * size × shuffle width) and must produce the identical multiset of
  * rows: the distributed prefix sums accumulate in exact DECIMAL, the
  * samplers rank by portable hashes, and the money/moment sums go
  * through DECIMAL(38,x) — so nothing may drift when the cluster
  * width changes. A flake here means a result that would differ
  * between a 32-core box and a 1000-executor cluster. */
class PartitionInvarianceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries with global-order-sensitive internals made layout-proof
    * by construction (two-pass prefix sums, DECIMAL accumulation,
    * portable-hash ranking). */
  private val LayoutProof = Seq(
    "q_bt_portfolio",    // global equity prefix sum (prefixScan)
    "q_t_pack",          // token-budget prefix sum (prefixScan)
    "q_corpus_curate",   // ranked token budget on the same scan
    "q_compact_plan",    // byte-offset prefix sum on the same scan
    "q_bt_robustness_v2", // per-cell drawdown curves, one keyed scan
    "q_corr_matrix",     // exact integer-cents second moments
    "q_t_mix_temperature", // DECIMAL-normalized mixture shares
    "q_det_sample",      // portable-hash deterministic sampler
    "q_t_sample_strat",  // exact-k per-stratum portable-hash order
    "q_e_pq_topk",       // PQ encode + ADC: per-term DECIMAL distance sums
    "q_qa_state_windows", // window diagnostics: DECIMAL mean/var sums
    "q_kmeans_lloyd",    // iterative fit: DECIMAL assignment + centroid sums
    "q_e_ann_serve",     // serving ADC: DECIMAL lookups over probed cells
    "q_t_dsir_weights",  // ≤B-term float sums, round-6 emit boundary
    "q_t_dsir_sample",   // Gumbel-top-k on round-6 scores, portable hashes
    "q_t_ppl_buckets",   // fp avg→exp round-6 + discrete ceil-rank cuts
    "q_e_proto_prune",   // round-6 distances + discrete quantile cut
    "q_e_rp_distortion", // DECIMAL mean over round-6 ratios
    "q_t_quality_clf_calibration", // round-9 prob seam + DECIMAL mean
    "q_t_filter_agreement") // exact-count pair agreement ratios

  private def rows(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect().map(_.toString).sorted.toSeq
  }

  private def withLayout[A](splitBytes: String, shuffle: String)(
      f: => A): A = {
    val conf = spark.conf
    val oldSplit = conf.get("spark.sql.files.maxPartitionBytes",
      "134217728")
    val oldShuffle = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.files.maxPartitionBytes", splitBytes)
    conf.set("spark.sql.shuffle.partitions", shuffle)
    try f
    finally {
      conf.set("spark.sql.files.maxPartitionBytes", oldSplit)
      conf.set("spark.sql.shuffle.partitions", oldShuffle)
    }
  }

  test("order-sensitive queries are identical across partition layouts") {
    for (q <- LayoutProof) {
      graft.queries.Stage.clear() // caches must rebuild under each layout
      val base = withLayout("134217728", "4")(rows(q))
      graft.queries.Stage.clear()
      // tiny scan splits + narrow shuffle: many input partitions, 3 reducers
      val narrow = withLayout("65536", "3")(rows(q))
      graft.queries.Stage.clear()
      // wide shuffle: 48 reducers over the same tiny input
      val wide = withLayout("65536", "48")(rows(q))
      assert(base == narrow,
        s"$q drifted between default and narrow layout")
      assert(base == wide,
        s"$q drifted between default and wide layout")
    }
    graft.queries.Stage.clear()
  }
}
