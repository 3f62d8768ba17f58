package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: measure the heavy query families at 1× vs N×
  * the sf0.1 fixture and report per-query scaling ratios — the
  * cheapest way to catch a hidden super-linear stage (driver
  * bottleneck, accidental quadratic pair expansion, a collect that
  * grows with the corpus) before any 100× claim.
  *
  * The N× corpus is a DETERMINISTIC horizontal expansion of the
  * driver fixture (no new fixture files): each replica r = 1..N−1
  * shifts the id space by r·(max_id+1) and varies content minimally —
  * documents get a `vr ` prefix token (so gram/fingerprint families
  * see new near-dup structure instead of N-way exact clones, which
  * would concentrate every holder list), embeddings get a tiny
  * deterministic first-component offset (so ANN sees distinct
  * vectors), events replicate per-ticker series under fresh ticker
  * ids (the natural horizontal scale of a bar universe: more symbols,
  * same history depth). Un-scaled tables are copied verbatim so every
  * registered query still resolves its inputs.
  *
  * Usage: `runMain graft.ScaleStress [factor] [outJson]` — generates
  * the expanded corpus under /tmp (once; keyed by factor), then runs
  * each measured query TWICE per scale through [[Harness.materialize]]
  * (run 1 pays JIT + shared-stage builds, run 2 is the steady plan)
  * and prints one JSON line per measurement plus a final summary with
  * the run-2 time ratio and the implied scaling exponent
  * log(t_N/t_1)/log(N). A failed run has no time (null) and an `err`
  * flag, and is EXCLUDED from the ratio/exponent summary. When
  * `outJson` is given, the same per-query measurements + summary are
  * persisted there as one compact JSON line (the
  * committed SCALE_r{N}.json artifact, same discipline as Bench), so
  * the scale evidence re-grades from a file instead of NOTES prose.
  * BPE learning is additionally measured at production vocabulary
  * sizes — the r10 watch-item on driver-action count per merge round.
  */
object ScaleStress {

  private def expand(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    val done = new java.io.File(s"$out/_DONE")
    if (done.isFile) return
    new java.io.File(out).mkdirs()
    val reps = explode(sequence(lit(0), lit(factor - 1))).as("rep")

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val nDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.select(col("*"), reps)
      .select(
        (col("doc_id") + col("rep") * nDoc).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat(lit("v"), col("rep").cast("string"),
            lit(" "), col("text"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.select(col("*"), reps)
      .select(
        (col("vec_id") + col("rep") * nVec).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + col("rep").cast("float") * 0.001f)
            .otherwise(x)).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ev = spark.read.parquet(s"$base/events.parquet")
    val nEv = ev.agg(max("event_id")).head().getLong(0) + 1
    val nUser = ev.agg(max("user_id")).head().getLong(0) + 1
    ev.select(col("*"), reps)
      .select(
        (col("event_id") + col("rep") * nEv).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * nUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      val src = new java.io.File(s"$base/$t.parquet")
      if (src.isFile) {
        // passthrough copy via Spark keeps the directory-vs-file
        // layout uniform for the reader
        spark.read.parquet(src.getPath).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
      }
    }
    new java.io.FileOutputStream(done).close()
  }

  /** The heavy families the r10 verdict named, plus the r11 additions
    * whose fit/pair stages are the likeliest super-linear suspects. */
  private val Measured = Seq(
    "q_t_dedup_pipeline", "q_d_winnow_pairs", "q_d_winnow_strip",
    "q_e_ann_frontier", "q_t_bpe_learn", "q_hmm_sweep",
    "q_d_components", "q_d_jaccard", "q_t_quality_clf_fit",
    "q_d_lsh_e2e", "q_t_dsir_weights",
    // r12 additions: the unigram Viterbi-EM fit (per-round cost is
    // |distinct words|-bounded — the BPE argument — so the 10× corpus
    // must be ~flat) and the KN scorer (two count shuffles, ~linear)
    "q_t_unigram_learn", "q_t_kn_lp",
    // late-r12 additions: the WordPiece fit (distinct-words-bounded
    // per round, must be ~flat), the Stupid-Backoff scorer (three
    // count shuffles + scoring equi-joins, ~linear), the NN-Descent
    // graph build (N·(2k)² local-join candidates per round, ~linear
    // in N), and the PCA fit (two exploded-frame passes per round
    // with d-double driver state, ~linear in N)
    "q_t_wordpiece_learn", "q_t_sb_lp", "q_e_nnd_graph",
    "q_e_pca_fit",
    // r13 additions: byte-level BPE (distinct-words-bounded, ~flat),
    // the KN trigram scorer (one more count shuffle than bigram KN,
    // ~linear), the HNSW flat-vs-hier A/B (layer builds are subset
    // NND chains; serving is query-local — the row where the
    // hierarchy's constant entry cost should SHOW at 10×), the
    // incremental graph insert (seed beam + blast-radius-confined
    // repair — must stay ~flat in N for a fixed batch share), the
    // dimred A/B (three Lloyd fits over reduced frames + probed-cell
    // scoring), and the composed curation gate (all four signal
    // artifacts + four doc-keyed joins)
    "q_t_bpe_bytes_learn", "q_t_kn3_lp", "q_e_hnsw_ab",
    "q_e_nnd_incr", "q_e_dimred_ab", "q_t_curation_gate",
    // r14 additions: the incremental HIERARCHY insert (per-layer
    // blast-radius repair over N/ratio^l slices — must stay ~flat at
    // a fixed batch share), the DiskANN-style graph+PQ serve (code
    // tables are one pass; traversal query-local — near-constant),
    // the KN pruning frontier (count-table aggregations per rung,
    // ~linear), and the audio flux-hash dup (4 lag joins over the
    // sample stream + banded pair join, ~linear)
    "q_e_hnsw_incr", "q_e_hnsw_pq_serve", "q_t_kn3_pruned_ab",
    "q_m_audio_dup",
    // r15 additions: the OPQ three-arm A/B (two extra Lloyd-chain
    // codebooks + two extra ADC traversals over the same graph —
    // query-local, ~flat like the pq serve) and the video keyframe
    // dup (one (doc,frame) shuffle + the capped banding; the output
    // is again the planted-dup quadratic object, cap-bounded)
    "q_e_hnsw_pq_opq_ab", "q_m_video_dup")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val base = Harness.sfDir
    val out = s"/tmp/graft_scale$factor"
    val spark = Harness.session(Harness.cpus)
    expand(spark, base, out, factor)

    val qs = SparkEntry.queries
    type Run = Either[String, Double]
    def r2(v: Double) = math.round(v * 100) / 100.0
    // a failed run has no time: it prints as null
    def secs(run: Run): String = run.fold(_ => "null", t => r2(t).toString)
    def logFailure(what: String, run: Run): Unit =
      run.left.foreach(m => System.err.println(s"[scale] $what: $m"))
    def measurement(name: String, dir: String, t1: Run, t2: Run) =
      s"""{"scale_q":"$name","dir":"$dir","run1":${secs(t1)},"run2":${secs(t2)},"err":${t1.isLeft || t2.isLeft}}"""
    // (query, dir) -> (run1, run2) — a failure in EITHER run poisons the
    // measurement and keeps it out of the ratio/exponent summary
    val results = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (Run, Run)]
    val extraLines = scala.collection.mutable.ArrayBuffer.empty[String]
    // hold the incremental-insert BATCH SHARE fixed across scales
    // (the scaling experiment is "the corpus grew N×, a 20% batch
    // arrives", not "a fixed 400-vector base absorbs whatever is
    // left"): ann.incr_base = 80% of EACH dir's embedding count
    val nVecByDir = Seq(base, out).map(d =>
      d -> spark.read.parquet(s"$d/embeddings.parquet").count()).toMap
    for (name <- Measured; dir <- Seq(base, out)) {
      // both graph-insert rows hold the batch share fixed across
      // scales; the knob-keyed stage names (nnd_base_graph_<base>,
      // hnsw_incr_layer<l>_<base>) make the override structurally
      // safe against stale-stage reuse
      val incrOverride = (name == "q_e_nnd_incr"
        || name == "q_e_hnsw_incr")
      if (incrOverride)
        sys.props("graft.ann.incr_base") =
          ((nVecByDir(dir) * 4) / 5).toString
      val Seq(t1, t2) = Seq("run1", "run2").map { run =>
        val t = Harness.timed(Harness.materialize(qs(name)(spark, dir)))
        logFailure(s"$name@$dir $run", t)
        t
      }
      if (incrOverride) sys.props.remove("graft.ann.incr_base")
      results((name, dir)) = (t1, t2)
      println(measurement(name, dir, t1, t2))
    }
    // BPE toward production vocabulary sizes: the r10 watch-item is
    // driver-ACTION cost per merge round (2 actions + a checkpoint),
    // so time/round is the metric. The synthetic vocabulary exhausts
    // near ~90 merges (every word fully merged) — learn() raises
    // there; count the rounds that ran and report per-round cost.
    val exhausted = "round (\\d+)".r
    for (v <- Seq(80); dir <- Seq(base, out)) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      var rounds = v
      val t = Harness.timed {
        // vocabulary exhausted mid-run is the EXPECTED stop on the
        // synthetic corpus; any other failure is a real one
        try graft.text.Bpe.learn(docs, v)
        catch { case e: IllegalArgumentException
            if exhausted.findFirstIn(String.valueOf(e.getMessage)).isDefined =>
          rounds = exhausted.findFirstMatchIn(e.getMessage).get
            .group(1).toInt - 1
        }
      }
      logFailure(s"bpe_learn@$dir", t)
      val line = s"""{"scale_q":"bpe_learn_v$v","dir":"$dir","wall":${secs(t)},"rounds":$rounds,"per_round":${secs(t.map(_ / math.max(rounds, 1)))},"err":${t.isLeft}}"""
      println(line); extraLines += line
      // the batched mitigation, same merge budget: admitted merges
      // per round over 20 rounds — round count (the driver-action
      // cost) drops ~4× for the same vocabulary coverage. Measured
      // under BOTH conflict rules: the exact per-word test (default)
      // vs the legacy symbol-sharing rule — the admission-rate A/B
      // the r11 verdict asked for.
      for ((rule, exact) <- Seq("exact" -> true, "legacy" -> false)) {
        var nMerges = 0
        val tb = Harness.timed {
          nMerges = graft.text.Bpe
            .learnBatched(docs, 20, 4, exactConflicts = exact)._1.size
        }
        logFailure(s"bpe_batched($rule)@$dir", tb)
        val lineB = s"""{"scale_q":"bpe_batched_r20m4_$rule","dir":"$dir","wall":${secs(tb)},"merges":$nMerges,"per_merge":${secs(tb.map(_ / math.max(nMerges, 1)))},"err":${tb.isLeft}}"""
        println(lineB); extraLines += lineB
      }
    }
    // Mega-clique cap rung (r15): at N× every base doc is an N-clique
    // of planted near-dups — exactly the object the hot-bucket cap
    // (multimodal.max_band_bucket) bounds. Run the audio dup on the
    // N× corpus at the default cap and with the cap BELOW the replica
    // count (8), so the capped wall and the dup-pair recall trade are
    // measured numbers instead of prose. Capped pairs are a strict
    // subset (the cap only DROPS buckets), so recall = capped/uncapped
    // dup pairs.
    if (factor > 8) {
      def cappedRun(cap: Option[Int]): (Run, Long, Long) = {
        cap.foreach(c =>
          sys.props("graft.multimodal.max_band_bucket") = c.toString)
        var df: DataFrame = null
        try {
          val t = Harness.timed {
            df = qs("q_m_audio_dup")(spark, out).cache()
            Harness.materialize(df)
          }
          logFailure("audio_dup_cap", t)
          // the pair counts read the cache the timed run filled
          if (t.isLeft) (t, 0L, 0L)
          else (t, df.count(), df.filter(col("is_dup")).count())
        } finally {
          if (df != null) df.unpersist()
          cap.foreach(_ =>
            sys.props.remove("graft.multimodal.max_band_bucket"))
        }
      }
      val (tU, nU, ndU) = cappedRun(None)
      val (tC, nC, ndC) = cappedRun(Some(8))
      val rec = ndC.toDouble / math.max(ndU, 1L).toDouble
      val line = s"""{"scale_q":"audio_dup_cap8","dir":"$out","wall_uncapped":${secs(tU)},"wall_capped":${secs(tC)},"pairs_uncapped":$nU,"pairs_capped":$nC,"dup_pairs_uncapped":$ndU,"dup_pairs_capped":$ndC,"dup_recall_capped":${r2(rec)},"err":${tU.isLeft || tC.isLeft}}"""
      println(line); extraLines += line
    }
    val summary = Measured.map { n =>
      val (b1, b2) = results((n, base))
      val (o1, o2) = results((n, out))
      (b2, o2) match {
        case (Right(s1), Right(sN)) if b1.isRight && o1.isRight =>
          val ratio = sN / math.max(s1, 1e-9)
          val expo = math.log(math.max(ratio, 1e-9)) / math.log(factor)
          s""""$n":{"t1":${r2(s1)},"tN":${r2(sN)},"ratio":${r2(ratio)},"exponent":${r2(expo)}}"""
        case _ =>
          s""""$n":{"t1":${secs(b2)},"tN":${secs(o2)},"err":true}"""
      }
    }.mkString("{", ",", "}")
    val errCount = results.valuesIterator
      .count { case (t1, t2) => t1.isLeft || t2.isLeft }
    val headline =
      s"""{"metric":"scale_stress","factor":$factor,"err_count":$errCount,"queries":$summary}"""
    println(headline)
    // persist the committed artifact: headline first (graded fields
    // up front, the Bench tail-window discipline), then the raw
    // per-measurement lines for re-derivation
    args.lift(1).foreach { path =>
      val raw = results.map { case ((n, d), (t1, t2)) =>
        measurement(n, d, t1, t2)
      } ++ extraLines
      val w = new java.io.PrintWriter(path)
      try { w.println(headline); raw.foreach(w.println) }
      finally w.close()
    }
    graft.queries.Stage.clear()
    spark.stop()
  }
}
