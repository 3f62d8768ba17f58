package graft.queries

import graft.ops.Ckpt._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.text.{Dedup, Similarity, TextOps}
import TextQueries._

/** Shared ANN/embedding-family stages, fitted-index artifacts and
  * oracle CTE generators (r15 split out of TextQueries — pure move,
  * stage names and oracle strings byte-identical): NN-Descent graph +
  * truth, PCA fits, dimred arms, HNSW layers + serves (flat / PQ /
  * OPQ / incremental), PQ/IVF/residual index artifacts and their CTE
  * chains, J-L random projection. Consumed by [[AnnQueries]] (and the
  * dedup-pipeline rows that read ANN artifacts). */
object AnnStages {

  /** Read one driver testdata table (the QueryModule helper, local
    * copy — this object hosts stages, not queries). */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---- NN-Descent kNN graph: live knobs, shared stage, oracle chain

  private[queries] def NndK = graft.Settings.nndescent.k
  private[queries] def NndRounds = graft.Settings.nndescent.rounds

  /** Built NN-Descent graph (NnDescent.build at the live `nndescent.*`
    * knobs) — the stored kNN-graph artifact both the graph report and
    * the recall row read. */
  private[queries] def nndGraph(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "nnd_graph") {
      graft.text.NnDescent.build(t(s, dir, "embeddings"), NndK,
        NndRounds)
    }

  private[queries] def nndCtes: String =
    graft.text.NnDescent.oracleCtes(NndK, NndRounds)

  /** ALL-nodes exact top-k truth (the recall denominator — the
    * deliberately-quadratic fixture-only baseline), staged so the
    * recall row reads a cached artifact instead of re-running the
    * brute force per invocation. */
  private[queries] def nndTruth(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "nnd_truth") {
      graft.text.Similarity.cosineTopK(t(s, dir, "embeddings"),
        lit(true), NndK).select(col("qid").as("node"),
        col("vid").as("nbr"))
    }

  private[queries] def NndBeam = graft.Settings.nndescent.beam
  private[queries] def NndHops = graft.Settings.nndescent.hops

  private[queries] def MrlDims = graft.Settings.ann.mrlDims

  // ---- power-iteration PCA: live knobs, memoized fit, oracle chain

  private[queries] def PcaComps = graft.Settings.pca.components
  private[queries] def PcaIters = graft.Settings.pca.iters

  /** Fitted PCA, memoized per sf dir (the broadcast-fit contract —
    * trained once, shipped to every consumer). */
  private[queries] def pcaFitted(s: SparkSession, dir: String)
      : graft.ml.PowerPca.Fit =
    Stage.memo(s, dir, "pca_fit")(
      graft.ml.PowerPca.fit(t(s, dir, "embeddings"),
        PcaComps, PcaIters,
        // pcaCtes unrolls the oracle for exactly this dimension —
        // the same silent-divergence coupling the dimred arm guards
        expectDims = Some(graft.Settings.ann.embeddingDim)))

  private[queries] def pcaCtes: String =
    graft.ml.PowerPca.oracleCtes(PcaComps, PcaIters,
      dims = graft.Settings.ann.embeddingDim)

  // ---- dimred-consumed ANN A/B: live knobs, per-arm reduced frames,
  // staged IVF-flat results over each reduction

  private[queries] def DimredDim = graft.Settings.ann.dimredDim
  private[queries] def DimredPcaIters =
    graft.Settings.ann.dimredPcaIters

  /** PCA fit at the A/B's matched dimension (dimred.dim components ×
    * dimred.pca_iters rounds), memoized per sf dir. */
  private[queries] def pcaDrFitted(s: SparkSession, dir: String)
      : graft.ml.PowerPca.Fit =
    Stage.memo(s, dir, "pca_dimred_fit")(
      graft.ml.PowerPca.fit(t(s, dir, "embeddings"), DimredDim,
        DimredPcaIters,
        expectDims = Some(graft.Settings.ann.embeddingDim)))

  /** The reduced (vec_id, rv) frame of one A/B arm at the matched
    * dimension — mrl: raw prefix slice; rp: md5-sign J-L projection,
    * round-6 seam; pca: fitted projections, round-6 seam. */
  private[queries] def dimredReduced(s: SparkSession, dir: String,
      method: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val dIn = graft.Settings.ann.embeddingDim
    method match {
      case "mrl" => emb.select(col("vec_id"),
        slice(col("embedding"), 1, DimredDim).cast("array<double>")
          .as("rv"))
      case "rp" => emb.select(col("vec_id"),
        transform(graft.text.RandomProjection.project(
          col("embedding").cast("array<double>"), dIn, DimredDim),
          y => round(y, 6)).as("rv"))
      case "pca" =>
        val fit = pcaDrFitted(s, dir)
        val proj = graft.ml.PowerPca.projectRowwise(emb, fit)
        proj.select(col("vec_id"),
          array((0 until DimredDim).map(c => col(s"p$c")): _*)
            .as("rv"))
    }
  }

  /** One A/B arm's IVF-flat serving over its reduced frame: Lloyd
    * coarse cells fitted IN the reduced space (seed-slice init,
    * hash-checkable), queries probe their n_probe nearest cells by
    * round-6 exact L2, exact reduced-space cosine inside probed
    * cells only, top-k — plus `n_cands`, the probed-candidate count
    * (the arm's serving cost). */
  private[queries] def dimredArm(s: SparkSession, dir: String,
      method: String): DataFrame =
    Stage.cached(s, dir, s"dimred_$method") {
      val spark = s
      import spark.implicits._
      val red = dimredReduced(s, dir, method).graftCheckpoint()
      val (assign, cents) = graft.ml.LloydKmeans.fit(red, "vec_id",
        "rv", IvfNCells, CoarseIters)
      val centDf = cents.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "cv")
      val nr = red.withColumn("nrm",
        Similarity.norm(col("rv"))).graftCheckpoint()
      val q = nr.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("rv").as("qrv"),
          col("nrm").as("qnrm"))
      val probe = q.crossJoin(broadcast(centDf))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(graft.functions.VecOps.sqDist18r6(col("qrv"),
            col("cv")), col("cell"))))
        .filter(col("rn") <= IvfNProbe)
        .select("qid", "qrv", "qnrm", "cell")
      val cands = probe.join(
          assign.select(col("pid").as("vid"),
            col("cluster").as("cell")), Seq("cell"))
        .filter(col("vid") =!= col("qid"))
        .join(nr.select(col("vec_id").as("vid"), col("rv").as("vrv"),
          col("nrm").as("vnrm")), Seq("vid"))
      val scored = cands.select(col("qid"), col("vid"),
        round(Similarity.cosinePre(col("qrv"), col("vrv"),
          col("qnrm"), col("vnrm")), 6).as("cos_sim"))
      val nc = scored.groupBy("qid")
        .agg(count(lit(1)).as("n_cands"))
      scored.withColumn("rnk", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("cos_sim").desc, col("vid"))))
        .filter(col("rnk") <= AnnK)
        .join(nc, Seq("qid"))
        .select(col("qid"), col("vid"), col("cos_sim"), col("rnk"),
          col("n_cands"))
    }

  /** One arm's oracle chain over a reduced source CTE `src(pid, j,
    * x)`: norms, the unrolled Lloyd coarse fit (seed-slice init — the
    * engine's LloydKmeans verbatim via oracleSqlFrom), the query
    * probe (n_probe nearest cells by round-6 exact L2), probed-cell
    * candidates, reduced-space cosine, top-k and the candidate-count
    * cost. Ends at `${pfx}tk(qid, vid)` and `${pfx}nc(qid,
    * n_cands)`. */
  private[queries] def dimredArmCtes(pfx: String, src: String): String =
    s"""
      ${pfx}nr AS MATERIALIZED (
        SELECT pid, sqrt(sum(x*x)) AS nrm FROM $src GROUP BY 1),""" +
    graft.ml.LloydKmeans.oracleSqlFrom(src, IvfNCells, CoarseIters,
      pfx) +
    graft.ml.LloydKmeans.finalAssignSql(src, CoarseIters, pfx) + s""",
      ${pfx}pb AS (
        SELECT pid AS qid, c AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY pid
            ORDER BY round(d2, 6), c) AS rn
          FROM ${pfx}kd_fin WHERE pid < 8) WHERE rn <= $IvfNProbe),
      ${pfx}cd AS MATERIALIZED (
        SELECT p.qid, a.pid AS vid
        FROM ${pfx}pb p JOIN ${pfx}kassign a
          ON a.cluster = p.cell AND a.pid <> p.qid),
      ${pfx}nc AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_cands
        FROM ${pfx}cd GROUP BY 1),
      ${pfx}dt AS (
        SELECT c.qid, c.vid, sum(qa.x * eb.x) AS dot
        FROM ${pfx}cd c JOIN $src qa ON qa.pid = c.qid
                        JOIN $src eb ON eb.pid = c.vid
                          AND eb.j = qa.j
        GROUP BY 1, 2),
      ${pfx}sc AS MATERIALIZED (
        SELECT d.qid, d.vid,
               round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM ${pfx}dt d JOIN ${pfx}nr na ON na.pid = d.qid
                        JOIN ${pfx}nr nb ON nb.pid = d.vid),
      ${pfx}tk AS MATERIALIZED (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY cos_sim DESC, vid) AS rn FROM ${pfx}sc)
        WHERE rn <= $AnnK)"""

  /** Served beam-search results over the built graph (qid, vid,
    * cos_sim, rnk, n_scored) — read by the serve row and the
    * recall-vs-cost row. */
  private[queries] def nndServed(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "nnd_served") {
      graft.text.NnDescent.serve(t(s, dir, "embeddings"),
        nndGraph(s, dir), col("vec_id") < 8, AnnK, NndBeam, NndHops)
    }

  private[queries] def nndServeCtes: String =
    graft.text.NnDescent.oracleServeCtes(NndRounds, AnnK, NndBeam,
      NndHops)

  // ---- HNSW-style hierarchy over the NN-Descent graph: live knobs,
  // staged layer graphs, staged hierarchical serve

  private[queries] def HnswRatio = graft.Settings.nndescent.hnswRatio
  private[queries] def HnswLevels = graft.Settings.nndescent.hnswLevels
  private[queries] def HnswUpRounds =
    graft.Settings.nndescent.hnswUpRounds
  private[queries] def HnswUpBeam = graft.Settings.nndescent.hnswUpBeam
  private[queries] def HnswUpHops = graft.Settings.nndescent.hnswUpHops
  private[queries] def HnswBeam = graft.Settings.nndescent.hnswBeam
  private[queries] def HnswHops = graft.Settings.nndescent.hnswHops

  /** Layer graphs 1..hnsw_levels (NnDescent.buildLayers), one Stage
    * artifact per level. */
  private[queries] def hnswLayers(s: SparkSession, dir: String)
      : Seq[DataFrame] =
    // level builds are independent (nesting is by PREDICATE, not by
    // reading the level below): build them concurrently (guide §2.6)
    graft.ops.Pools.awaitAll((1 to HnswLevels).map { l => () =>
      Stage.cached(s, dir, s"hnsw_layer$l") {
        graft.text.NnDescent.buildSubset(
          t(s, dir, "embeddings").filter(
            graft.text.NnDescent.layerPred(col("vec_id"), l,
              HnswRatio)),
          NndK, HnswUpRounds, salt = s"hnswb$l")
      }
    })

  /** Hierarchically-served results at explicit descent knobs (qid,
    * vid, cos_sim, rnk, n_scored), staged per rung — the frontier
    * rungs and the default serve share the layer graphs and, when a
    * rung equals the defaults, the same stage. */
  private[queries] def hnswServedAt(s: SparkSession, dir: String,
      ub: Int, uh: Int): DataFrame =
    Stage.cached(s, dir, s"hnsw_served_${ub}_$uh") {
      graft.text.NnDescent.serveHier(t(s, dir, "embeddings"),
        nndGraph(s, dir), hnswLayers(s, dir), col("vec_id") < 8,
        AnnK, ub, uh, HnswBeam, HnswHops, HnswRatio)
    }

  /** Hierarchically-served results at the LIVE knobs — read by the
    * serve row, the recall row, and the flat-vs-hier A/B. */
  private[queries] def hnswServed(s: SparkSession, dir: String)
      : DataFrame = hnswServedAt(s, dir, HnswUpBeam, HnswUpHops)

  /** DiskANN-style graph+PQ served results (NnDescent.serveHierPq —
    * the same hierarchical descent with every hop ADC-scored over the
    * PQ codes, exact re-rank of the final beam), read by the serve
    * row and the float-vs-PQ A/B. The traversal is guided by the
    * Lloyd-FITTED codebook (the consume-what-you-fitted discipline —
    * seed-slice ADC misguides the beam badly enough to halve
    * recall). */
  private[queries] def hnswPqServed(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "hnsw_pq_served") {
      graft.text.NnDescent.serveHierPq(t(s, dir, "embeddings"),
        nndGraph(s, dir), hnswLayers(s, dir), col("vec_id") < 8,
        AnnK, HnswUpBeam, HnswUpHops, HnswBeam, HnswHops, HnswRatio,
        PqM, PqSubK, RerankR, codebook = Some(lloydCb(s, dir)))
    }

  private[queries] def hnswPqServeChainCtes: String =
    graft.text.NnDescent.oracleHierServePqCtes(NndRounds, AnnK,
      HnswUpBeam, HnswUpHops, HnswBeam, HnswHops, HnswRatio,
      HnswLevels, HnswUpRounds, PqM, PqSubK, PqSubDim, RerankR,
      lloydIters = PqLloydIters)

  // ---- OPQ levers for the graph+PQ serve: a structured rotation
  // (Srht — energy-spreading before the subspace split, the Ge et al.
  // 2013 lever in its deterministic Hadamard form) and a wider-m rung
  // (2·pq.m subspaces = twice the bits/vector) ----

  /** The corpus under the SRHT rotation — same vec_ids, rotated
    * coordinates (round-6 seam). Only the PQ quantizer consumes this
    * frame; graph, entries and exact re-rank stay on the original. */
  private[queries] def opqRotated(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "opq_rotated") {
      val d = graft.Settings.ann.embeddingDim
      t(s, dir, "embeddings").select(col("vec_id"),
        graft.text.Srht.rotate(
          col("embedding").cast("array<double>"), d).as("embedding"))
    }

  private[queries] def lloydCbRot(s: SparkSession, dir: String)
      : IndexedSeq[IndexedSeq[Array[Double]]] =
    Stage.memo(s, dir, "lloyd_cb_rot")(
      Similarity.lloydCodebook(opqRotated(s, dir), m = PqM,
        subK = PqSubK, iters = PqLloydIters))

  private[queries] def lloydCbWide(s: SparkSession, dir: String)
      : IndexedSeq[IndexedSeq[Array[Double]]] =
    Stage.memo(s, dir, "lloyd_cb_wide")(
      Similarity.lloydCodebook(t(s, dir, "embeddings"), m = 2 * PqM,
        subK = PqSubK, iters = PqLloydIters))

  /** Graph+PQ serve with codes/ADC in the ROTATED space, exact
    * re-rank in the original (NnDescent.serveHierPqCoded). */
  private[queries] def hnswPqRotServed(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "hnsw_pq_rot_served") {
      graft.text.NnDescent.serveHierPqCoded(t(s, dir, "embeddings"),
        nndGraph(s, dir), hnswLayers(s, dir), opqRotated(s, dir),
        col("vec_id") < 8, AnnK, HnswUpBeam, HnswUpHops, HnswBeam,
        HnswHops, HnswRatio, RerankR, lloydCbRot(s, dir))
    }

  /** Graph+PQ serve at m = 2·pq.m (24 bits/vector at the defaults —
    * the bits-vs-recall rung). */
  private[queries] def hnswPqWideServed(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "hnsw_pq_wide_served") {
      graft.text.NnDescent.serveHierPq(t(s, dir, "embeddings"),
        nndGraph(s, dir), hnswLayers(s, dir), col("vec_id") < 8,
        AnnK, HnswUpBeam, HnswUpHops, HnswBeam, HnswHops, HnswRatio,
        2 * PqM, PqSubK, RerankR,
        codebook = Some(lloydCbWide(s, dir)))
    }

  /** The rerank-budget rungs and the per-rung served frames (ONE
    * shared ADC traversal — the rerank pool does not affect it). */
  private[queries] def HnswPqRerankRungs =
    graft.Settings.nndescent.hnswPqRerankRungs
  private[queries] def hnswPqFrontierServed(s: SparkSession,
      dir: String): DataFrame =
    Stage.cached(s, dir, "hnsw_pq_frontier_served") {
      graft.text.NnDescent.serveHierPqFrontier(t(s, dir, "embeddings"),
        nndGraph(s, dir), hnswLayers(s, dir), col("vec_id") < 8,
        AnnK, HnswUpBeam, HnswUpHops, HnswBeam, HnswHops, HnswRatio,
        PqM, PqSubK, HnswPqRerankRungs,
        codebook = Some(lloydCb(s, dir)))
    }

  private[queries] def HnswFrontierRungs =
    graft.Settings.nndescent.hnswFrontierRungs

  // ---- incremental NND graph maintenance: live knob, staged base
  // graph + incrementally-repaired graph

  private[queries] def NndIncrRounds =
    graft.Settings.nndescent.incrRounds

  /** Base graph on the standing index slice (vec_id < ann.incr_base —
    * the IVF family's split convention): the FROZEN artifact the
    * batch inserts against. The effective incr_base is part of the
    * stage NAME: ScaleStress overrides the knob around its
    * q_e_nnd_incr runs while Stage.cached keys only by
    * (spark, dir, name), so baking the knob into the name makes a
    * stale-stage reuse at a different base structurally impossible. */
  private[queries] def nndBaseGraph(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, s"nnd_base_graph_$IncrBase") {
      graft.text.NnDescent.build(
        t(s, dir, "embeddings").filter(col("vec_id") < IncrBase),
        NndK, NndRounds)
    }

  /** Incrementally-maintained graph: vec_id >= incr_base seeded by
    * beam search over the frozen base graph, then confined repair
    * rounds — read by the graph row and the drift row. Knob-keyed
    * name for the same reason as [[nndBaseGraph]]. */
  private[queries] def nndIncrGraph(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, s"nnd_incr_graph_$IncrBase") {
      graft.text.NnDescent.incrInsert(t(s, dir, "embeddings"),
        nndBaseGraph(s, dir), IncrBase, NndK, NndBeam, NndHops,
        NndIncrRounds)
    }

  private[queries] def nndIncrCtes: String =
    graft.text.NnDescent.oracleIncrCtes(NndK, NndRounds, NndBeam,
      NndHops, NndIncrRounds, IncrBase)

  /** FROZEN old-slice layer graphs — the hierarchy as it stood before
    * the batch (vec_id < incr_base members of each level), one Stage
    * artifact per level. Salted `hnswo$l`, independent of the
    * standing `hnswb$l` layers; incr_base is part of the stage name
    * (the [[nndBaseGraph]] knob-override rule). */
  private[queries] def hnswOldLayers(s: SparkSession, dir: String)
      : Seq[DataFrame] =
    // independent per-level builds — concurrent (the hnswLayers rule)
    graft.ops.Pools.awaitAll((1 to HnswLevels).map { l => () =>
      Stage.cached(s, dir, s"hnsw_old_layer${l}_$IncrBase") {
        graft.text.NnDescent.buildSubset(
          t(s, dir, "embeddings").filter(col("vec_id") < IncrBase
            && graft.text.NnDescent.layerPred(col("vec_id"), l,
              HnswRatio)),
          NndK, HnswUpRounds, salt = s"hnswo$l")
      }
    })

  /** Incrementally-MAINTAINED layer graphs: each level's new members
    * (layerPred ∧ vec_id >= incr_base) seeded by beam search over the
    * frozen old layer graph (bucket-representative entries — sparse
    * layer ids), then confined repair rounds — the hierarchy after
    * the batch, read by the incr row, the drift row and the
    * incremental-serve spec lock. */
  private[queries] def hnswIncrLayers(s: SparkSession, dir: String)
      : Seq[DataFrame] = {
    val olds = hnswOldLayers(s, dir)
    // level l depends ONLY on the already-built olds(l-1): the incr
    // inserts are mutually independent — concurrent (guide §2.6)
    graft.ops.Pools.awaitAll((1 to HnswLevels).map { l => () =>
      Stage.cached(s, dir, s"hnsw_incr_layer${l}_$IncrBase") {
        graft.text.NnDescent.incrInsertLayer(
          t(s, dir, "embeddings").filter(
            graft.text.NnDescent.layerPred(col("vec_id"), l,
              HnswRatio)),
          olds(l - 1), IncrBase, NndK, NndBeam, NndHops,
          NndIncrRounds, salt = s"hnswi$l")
      }
    })
  }

  private[queries] def hnswIncrLayerCtes: String =
    (1 to HnswLevels).map(l => graft.text.NnDescent
      .oracleIncrLayerCtes(l, HnswRatio, NndK, HnswUpRounds, NndBeam,
        NndHops, NndIncrRounds, IncrBase).trim)
      .mkString(",\n      ")

  /** Hierarchical serving over the MAINTAINED hierarchy (incr base
    * graph + incr layer graphs) — the row that proves the
    * add-without-retrain index actually SERVES: new top-layer members
    * enter the coarse scan through the same layerPred rule the
    * standing serve uses. */
  private[queries] def hnswIncrServed(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, s"hnsw_incr_served_$IncrBase") {
      graft.text.NnDescent.serveHier(t(s, dir, "embeddings"),
        nndIncrGraph(s, dir), hnswIncrLayers(s, dir),
        col("vec_id") < 8, AnnK, HnswUpBeam, HnswUpHops, HnswBeam,
        HnswHops, HnswRatio)
    }

  private[queries] def hnswLayerCtes: String =
    (1 to HnswLevels).map(l => graft.text.NnDescent
      .oracleLayerCtes(l, HnswRatio, NndK, HnswUpRounds).trim)
      .mkString(",\n      ")

  private[queries] def hnswServeChainCtes: String =
    graft.text.NnDescent.oracleHierServeCtes(NndRounds, AnnK,
      HnswUpBeam, HnswUpHops, HnswBeam, HnswHops, HnswRatio,
      HnswLevels, HnswUpRounds)

  /** (nProbe, rerank R) rungs of the ANN recall-vs-cost frontier
    * (q_e_ann_frontier), from the live `ann.frontier.rungs` setting —
    * default spans the serving envelope at the fixture's nCells = 8:
    * 1/8 of the corpus scanned up to all of it, R from the r9 default
    * 16 to 48. The promoted serving defaults (ann.ivfpq.n_probe /
    * ann.rerank_r) are chosen off this table; both the engine rungs
    * and the per-rung oracle probe tails re-interpolate an override. */
  private[queries] def FrontierRungs: Seq[(Int, Int)] =
    graft.Settings.ann.frontierRungs

  /** Shared PQ top-5 stage (the ADC ranking both q_e_pq_topk and
    * q_e_pq_recall read): one row per (query, rank ≤ 5). */
  private[queries] def pqTop5(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "pq_top5") {
      Similarity.pqTopK(t(s, dir, "embeddings"), col("vec_id") < AnnQ,
        k = AnnK, m = PqM, subK = PqSubK)
    }

  /** Exact squared-L2 top-5 per query — the ground-truth side both PQ
    * recall queries rank against. A cached stage: ground-truth eval
    * sets are stored artifacts in production (recomputing the exact
    * scan per recall probe would defeat the point of the index). */
  private[queries] def exactTop5(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "exact_l2_top5") {
      // the cosineTopK shape: broadcast the bounded query slice and
      // fold each pair with the fused round-6 exact-decimal
      // VecSqDist18R6 expression — N×AnnQ codegen'd rows instead of
      // exploding to N×d×AnnQ rows through a per-dim join + hash
      // aggregate. The per-pair d2 is round-6 of the same Σ CAST((x−qx)²
      // AS DECIMAL(38,18)) (the VecDecimal contract the Lloyd/PQ encode
      // chains already hash-match), so every rounded value is
      // bit-identical.
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < AnnQ)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val d2full = e.join(broadcast(q), col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("vid"),
          graft.functions.VecOps.sqDist18r6(col("v"), col("qv")).as("d2"))
      // nulls LAST: the distance is null on dirty embeddings
      // (null element / length mismatch / per-term overflow), and an
      // ascending-nulls-first window would let such a pair into the
      // TRUTH set. Unreachable on clean fixtures (oracle hash
      // unchanged), but the truth table must never rank a failed
      // distance first.
      d2full.withColumn("rn", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("d2").asc_nulls_last, col("vid"))))
        .filter(col("rn") <= AnnK).select("qid", "vid")
    }

  /** Exact cosine top-k of the 8 query vectors (vec_id < 8) — the
    * ground-truth side of the graph, HNSW and dimred recall rows,
    * cached like [[exactTop5]] (the squared-L2 truth of the PQ/IVF/RP
    * rows). */
  private[queries] def cosTruth(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "ann_cos_truth") {
      Similarity.cosineTopK(t(s, dir, "embeddings"), col("vec_id") < 8,
        AnnK).select("qid", "vid")
    }

  /** The one recall count: per (arm keys…, qid), `n_hits` = truth
    * (qid, vid) rows the arm served and `n_true` = truth rows. `arms`
    * is the full arm-key list (its columns are the keys `served`
    * carries besides qid and vid), so an arm that served nothing keeps
    * its truth rows at n_hits = 0. A plain left join: a duplicated
    * served pair counts twice in both columns. */
  private[queries] def recallHits(truth: DataFrame, served: DataFrame,
      arms: DataFrame): DataFrame =
    hitCounts(truth.crossJoin(broadcast(arms)), served,
      arms.columns.toSeq)

  /** [[recallHits]] of one served table: per qid. */
  private[queries] def recallHits(truth: DataFrame, served: DataFrame)
      : DataFrame = hitCounts(truth, served, Nil)

  private def hitCounts(truth: DataFrame, served: DataFrame,
      keys: Seq[String]): DataFrame = {
    val on = keys ++ Seq("qid", "vid")
    truth.join(served.select(on.map(col) :+ lit(1).as("hit"): _*), on,
        "left")
      .groupBy((keys :+ "qid").map(col): _*)
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_true"))
  }

  /** Several arms' served rows as one frame: each arm's (qid, vid,
    * `carry`…) columns, tagged with its arm value in column `key`. */
  private[queries] def tagArms(key: String, arms: Seq[(Any, DataFrame)],
      carry: String*): DataFrame =
    arms.map { case (a, df) =>
      df.select(lit(a).as(key) +: (Seq("qid", "vid") ++ carry).map(col): _*)
    }.reduce(_ unionByName _)

  /** Fitted per-subspace KMeans PQ codebook, one per sf dir — a stored
    * production artifact (codebooks are trained offline and shipped to
    * every encoder/server), memoized driver-side like the index
    * signatures. */
  private[queries] def kmCodebook(s: SparkSession, dir: String)
      : IndexedSeq[IndexedSeq[Array[Double]]] =
    Stage.memo(s, dir, "km_codebook")(
      Similarity.kmeansCodebook(t(s, dir, "embeddings"), m = PqM,
        subK = PqSubK))

  /** PQ top-5 under the FITTED codebook (the production-quality swap);
    * cached so the A/B recall query and any consumer share one build. */
  private[queries] def kmTop5(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "pq_km_top5") {
      Similarity.pqTopKCodebook(t(s, dir, "embeddings"),
        col("vec_id") < AnnQ, k = AnnK, kmCodebook(s, dir))
    }

  /** Lloyd iterations for the deterministic fitted codebook — small
    * because the oracle unrolls m × iters CTE chains, and 4 rounds from
    * the seed slices already separate fitted from unfitted recall. */
  private[queries] def PqLloydIters = graft.Settings.ann.pqLloydIters

  /** DETERMINISTIC fitted codebook (per-subspace `LloydKmeans`) — the
    * hash-checkable counterpart to [[kmCodebook]]; memoized per sf dir
    * like the other stored index artifacts. */
  private[queries] def lloydCb(s: SparkSession, dir: String)
      : IndexedSeq[IndexedSeq[Array[Double]]] =
    Stage.memo(s, dir, "lloyd_codebook")(
      Similarity.lloydCodebook(t(s, dir, "embeddings"), m = PqM,
        subK = PqSubK, iters = PqLloydIters))

  /** PQ top-5 under the deterministic Lloyd codebook. */
  private[queries] def lloydTop5(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "pq_lloyd_top5") {
      Similarity.pqTopKCodebook(t(s, dir, "embeddings"),
        col("vec_id") < AnnQ, k = AnnK, lloydCb(s, dir))
    }

  /** Oracle CTEs for the Lloyd-fitted PQ path, appended after
    * [[pqCtes]]: one unrolled `LloydKmeans.oracleSqlFrom` chain per
    * subspace (prefix `s<m>_`) → fitted codebook union `lcent` → the
    * SAME encode/ADC/rank chain as the seed path (`ld2`/`lcodes`/
    * `lqd2`/`ladc`/`lranked`), so the fitted-codebook PQ ranking is
    * bit-reproduced end-to-end: iterative fit included. */
  private[queries] def lloydPqCtes: String = {
    val chains = (0 until PqM).map { mi =>
      s"""
      s${mi}_pts AS MATERIALIZED (
        SELECT vec_id AS pid, j, x FROM sub WHERE m = $mi),""" +
        graft.ml.LloydKmeans.oracleSqlFrom(
          s"s${mi}_pts", PqSubK, PqLloydIters, s"s${mi}_")
    }.mkString(",")
    val union = (0 until PqM).map(mi =>
      s"SELECT $mi AS m, c, j, y FROM s${mi}_cent_$PqLloydIters")
      .mkString("\n        UNION ALL ")
    s"""$chains,
      lcent AS (
        $union),
      ld2 AS (
        SELECT s.vec_id, s.m, c.c,
               CAST(sum(CAST((s.x - c.y) * (s.x - c.y) AS DECIMAL(38,18)))
                 AS DOUBLE) AS d2
        FROM sub s JOIN lcent c ON s.m = c.m AND s.j = c.j
        GROUP BY 1, 2, 3),
      lcodes AS (
        SELECT vec_id AS vid, m, c FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY round(d2, 6), c) AS rn FROM ld2) WHERE rn = 1),
      lqd2 AS (
        SELECT vec_id AS qid, m, c, d2 AS qd2 FROM ld2
        WHERE vec_id < $AnnQ),
      ladc AS (
        SELECT q.qid, k.vid,
               round(CAST(sum(CAST(q.qd2 AS DECIMAL(38,18))) AS DOUBLE),
                 6) AS adc
        FROM lcodes k JOIN lqd2 q ON k.m = q.m AND k.c = q.c
        GROUP BY 1, 2),
      lranked AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY adc, vid) AS rnk
        FROM ladc WHERE qid <> vid)"""
  }

  /** Serving-index artifacts (coarse cells + codebook + the encoded
    * (vid, cell, codes) table) — the standing IVF-PQ index the
    * streaming/batch serving path queries. The table is a cached stage;
    * at 100 TB it is a stored table hash-partitioned by cell. */
  private[queries] def serveArtifacts(s: SparkSession, dir: String)
      : (graft.streaming.StreamingAnnServe.Cells,
         graft.streaming.StreamingEncode.Codebook) =
    Stage.memo(s, dir, "serve_artifacts") {
      val emb = t(s, dir, "embeddings")
      (graft.streaming.StreamingAnnServe.seedCells(emb,
          nCells = IvfNCells),
        graft.streaming.StreamingEncode.seedCodebook(emb, m = PqM,
          subK = PqSubK))
    }
  private[queries] def annServeIndex(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "ann_serve_index") {
      val (cells, cb) = serveArtifacts(s, dir)
      graft.streaming.StreamingAnnServe.indexOf(
        t(s, dir, "embeddings"), cells, cb)
    }

  /** ADC short-list length for the exact re-rank stage: several×k is
    * the production sweet spot (most of the recall@5 ADC lost sits just
    * below the ADC top-5 boundary). The shared short-list stages are
    * built at k = R and serve top_k from their rnk ≤ k prefix, which
    * is only sound when R ≥ top_k — a misconfigured override would
    * silently return fewer rows per query than the oracle ranks, so it
    * fails loudly here instead. */
  private[queries] def RerankR = {
    val r = graft.Settings.ann.rerankR
    require(r >= AnnK,
      s"ann.rerank_r $r < ann.top_k $AnnK: the shared ADC short list " +
        "serves top_k from its rnk <= rerank_r prefix")
    r
  }

  /** IVF-PQ ADC candidate short list (top-$RerankR per query) — one
    * build shared by the re-rank query (which re-scores it) and the
    * A/B gain query (whose ADC-top-5 baseline is its rnk <= 5
    * prefix). */
  private[queries] def ivfPqCands(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "ivfpq_adc_cands") {
      Similarity.ivfPqTopK(t(s, dir, "embeddings"),
        col("vec_id") < AnnQ, k = RerankR, nCells = IvfNCells,
        nProbe = IvfNProbe, m = PqM, subK = PqSubK)
    }

  /** IVF-Flat top-k (MLlib coarse fit at nProbe = nCells ≡ brute
    * force) — staged because the KMeans fit is an index-build
    * artifact, not per-query work. Query count and k resolve through
    * the live `ann:` Settings like the rest of the family; nCells is
    * deliberately pinned at 16 (≠ ann.ivfpq.n_cells) because at
    * nProbe = nCells the cell count cannot change the answer — only
    * the brute-force contract matters, and a separate cell count keeps
    * this MLlib fit from aliasing the Lloyd coarse artifacts. */
  private[queries] def ivfTop5(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "ivf_top5") {
      Similarity.ivfTopK(t(s, dir, "embeddings"), col("vec_id") < AnnQ,
        k = AnnK, nCells = 16, nProbe = 16)
    }

  /** Exact-re-ranked top-5 over the shared ADC short list. */
  private[queries] def rerankTop5(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "rerank_top5") {
      Similarity.rerankExact(t(s, dir, "embeddings"),
        col("vec_id") < AnnQ, ivfPqCands(s, dir), k = AnnK)
    }

  /** Residual-IVF-PQ index artifacts: the Lloyd-FITTED coarse cells
    * (what makes residuals small — a seed "centroid" is an arbitrary
    * vector and residual encoding against it LOSES recall, measured
    * 0.113→0.056 at sf0.01) plus the per-subspace Lloyd residual
    * codebook. Stored production artifacts, memoized per sf dir like
    * the other codebooks. */
  private[queries] def residArtifacts(s: SparkSession, dir: String)
      : (IndexedSeq[Array[Double]],
         IndexedSeq[IndexedSeq[Array[Double]]]) =
    Stage.memo(s, dir, "resid_artifacts") {
      val emb = t(s, dir, "embeddings")
      val cells = Similarity.lloydCoarseCells(emb, IvfNCells, CoarseIters)
      (cells, Similarity.lloydResidualCodebook(emb, cells, PqM, PqSubK,
        PqLloydIters))
    }

  /** Residual-IVF-PQ ADC short list (top-$RerankR per query) — ONE
    * build shared by the top-5 query (its rnk ≤ k prefix), the exact
    * re-rank, and the A/B gain rows. */
  private[queries] def residCands(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "ivfpq_res_cands") {
      val (cells, cb) = residArtifacts(s, dir)
      Similarity.ivfPqResidualTopK(t(s, dir, "embeddings"),
        col("vec_id") < AnnQ, k = RerankR, nProbe = IvfNProbe, cells, cb)
    }

  /** Standing residual serving index (vid, cell, residual codes) —
    * the [[residArtifacts]] twin of `annServeIndex`. */
  private[queries] def annServeResIndex(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "ann_serve_res_index") {
      val (cells, cb) = residArtifacts(s, dir)
      graft.streaming.StreamingAnnServe.indexOfResidual(
        t(s, dir, "embeddings"), cells, cb)
    }

  /** Incremental-index artifacts: coarse cells + residual codebook
    * fit ONLY on the base snapshot (`vec_id < IncrBase`) — the frozen
    * state an append-only index grows against (faiss add-without-
    * train). Later batches are encoded with these, never refit. */
  private[queries] def incrArtifacts(s: SparkSession, dir: String)
      : (IndexedSeq[Array[Double]],
         IndexedSeq[IndexedSeq[Array[Double]]]) =
    Stage.memo(s, dir, "incr_artifacts") {
      val base = t(s, dir, "embeddings")
        .filter(col("vec_id") < IncrBase)
      val cells = Similarity.lloydCoarseCells(base, IvfNCells,
        CoarseIters)
      (cells, Similarity.lloydResidualCodebook(base, cells, PqM, PqSubK,
        PqLloydIters))
    }

  /** The incrementally-grown standing index: the base batch encoded at
    * fit time UNION the delta batch append-encoded later against the
    * SAME frozen artifacts. Per-row encode means append ≡ rebuild
    * (locked in SimilaritySpec); at 100 TB the union is a partitioned
    * append to the stored index table — no refit, no re-encode of the
    * base. */
  private[queries] def annServeIncrIndex(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "ann_serve_incr_index") {
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = incrArtifacts(s, dir)
      graft.streaming.StreamingAnnServe.indexOfResidual(
          emb.filter(col("vec_id") < IncrBase), cells, cb)
        .unionByName(graft.streaming.StreamingAnnServe.indexOfResidual(
          emb.filter(col("vec_id") >= IncrBase), cells, cb))
    }

  /** Exact-re-ranked top-k over the residual ADC short list. */
  private[queries] def residRerankTop5(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "ivfpq_res_rerank_top5") {
      Similarity.rerankExact(t(s, dir, "embeddings"),
        col("vec_id") < AnnQ, residCands(s, dir), k = AnnK)
    }

  /** Shared product-quantization CTE chain (mirrors Similarity.pqTopK
    * at m=4 / subK=8 / queries vec_id < 32): per-dim explode →
    * subspace split → seed codebook → exact per-subspace squared
    * distances (per-term decimal sums) → argmin codes → ADC distances
    * → rank (`pqranked`). ONE definition so the pq-topk and pq-recall
    * oracles can never drift from each other. */
  private[queries] def exCte: String = """
      ex AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings)"""

  private[queries] def pqCtes: String = s"""$exCte,
      sub AS (
        SELECT vec_id, i // $PqSubDim AS m, i % $PqSubDim AS j, x FROM ex),
      cent AS (
        SELECT vec_id AS c, m, j, x AS y FROM sub
        WHERE vec_id < $PqSubK),
      d2 AS (
        SELECT s.vec_id, s.m, c.c,
               CAST(sum(CAST((s.x - c.y) * (s.x - c.y) AS DECIMAL(38,18)))
                 AS DOUBLE) AS d2
        FROM sub s JOIN cent c ON s.m = c.m AND s.j = c.j
        GROUP BY 1, 2, 3),
      codes AS (
        SELECT vec_id AS vid, m, c FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY round(d2, 6), c) AS rn FROM d2) WHERE rn = 1),
      qd2 AS (
        SELECT vec_id AS qid, m, c, d2 AS qd2 FROM d2
        WHERE vec_id < $AnnQ),
      adc AS (
        SELECT q.qid, k.vid,
               round(CAST(sum(CAST(q.qd2 AS DECIMAL(38,18))) AS DOUBLE),
                 6) AS adc
        FROM codes k JOIN qd2 q ON k.m = q.m AND k.c = q.c
        GROUP BY 1, 2),
      pqranked AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY adc, vid) AS rnk
        FROM adc WHERE qid <> vid)"""

  /** IVF-PQ CTE chain (through the ADC ranking `ranked2`) — the shared
    * core of [[ivfPqOracle]] and the exact-re-rank oracles, which
    * compose further CTEs on top of the ranked candidate list. */
  private[queries] def ivfPqCtes: String = s"""$pqCtes,
      cellc AS (
        SELECT vec_id AS cell, i, x AS y FROM ex
        WHERE vec_id < $IvfNCells),
      celld2 AS (
        SELECT e.vec_id, c.cell,
               CAST(sum(CAST((e.x - c.y) * (e.x - c.y)
                 AS DECIMAL(38,18))) AS DOUBLE) AS d2
        FROM ex e JOIN cellc c ON e.i = c.i GROUP BY 1, 2),
      cells AS (
        SELECT vec_id AS vid, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY round(d2, 6), cell) AS rn FROM celld2)
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS qid, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY round(d2, 6), cell) AS rn
          FROM celld2 WHERE vec_id < $AnnQ)
        WHERE rn <= $IvfNProbe),
      cand AS (
        SELECT p.qid, s.vid FROM probes p JOIN cells s
          ON p.cell = s.cell AND p.qid <> s.vid),
      adc2 AS (
        SELECT ca.qid, ca.vid,
               round(CAST(sum(CAST(q.qd2 AS DECIMAL(38,18))) AS DOUBLE),
                 6) AS adc
        FROM cand ca JOIN codes k ON k.vid = ca.vid
             JOIN qd2 q ON q.qid = ca.qid AND q.m = k.m AND q.c = k.c
        GROUP BY 1, 2),
      ranked2 AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY adc, vid) AS rnk FROM adc2)"""

  /** DuckDB oracle for the IVF-PQ ANN shape — shared verbatim by
    * q_e_ann_ivfpq (the batch index) and q_e_ann_serve (the streaming
    * serving column program run in batch mode): both must reproduce the
    * same bit-exact answer. */
  private[queries] def ivfPqOracle: String = s"""
      WITH $ivfPqCtes
      SELECT qid, vid, adc, rnk FROM ranked2 WHERE rnk <= $AnnK
      ORDER BY qid, rnk"""

  /** Exact-re-rank CTEs on top of [[ivfPqCtes]]: the ADC top-$RerankR
    * short list joins the stored full vectors, exact squared-L2
    * (per-term decimal sums — the d2full/exact5 ground-truth
    * convention) re-scores it, and `rranked` orders by (round-6 d2,
    * vid). Shared by q_e_ann_rerank and q_e_rerank_gain. */
  private[queries] def rerankCtes: String = s"""
      adcR AS (
        SELECT qid, vid, adc FROM ranked2 WHERE rnk <= $RerankR),
      rqfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex
        WHERE vec_id < $AnnQ),
      rr AS (
        SELECT a.qid, a.vid, a.adc,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM adcR a JOIN ex e ON e.vec_id = a.vid
             JOIN rqfull q ON q.qid = a.qid AND q.i = e.i
        GROUP BY 1, 2, 3),
      rranked AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY d2, vid) AS rnk FROM rr)"""

  /** Residual-IVF-PQ oracle CTE chain (on top of [[exCte]]'s `ex`),
    * mirroring `Similarity.ivfPqResidualTopK` under the FITTED
    * artifacts: one `LloydKmeans.oracleSqlFrom` chain fits the coarse
    * cells on the full vectors (`cq_`), `cq_kassign`/`cq_kd_fin` give
    * assignment + probe order, residuals r = x − centroid(cell(x))
    * split into subspaces, one Lloyd chain per subspace fits the
    * residual codebook on SHIFTED ids (pid = vec_id − nCells, corpus
    * vec_id ≥ nCells — the cell-fit excludes nothing, only the
    * codebook init convention shifts), and ADC tables are keyed
    * (qid, cell, m, c) because a query's residual depends on the
    * probed cell. Ends at `resranked`. */
  private[queries] def residIvfPqCtes: String = residChainCtes(None)

  /** The [[residIvfPqCtes]] chain with the FITS (coarse cells +
    * residual codebooks) restricted to the base snapshot
    * `vec_id < fitMax` while assignment/encode/serve still cover the
    * whole corpus — the add-without-train contract of
    * q_e_index_incr/q_e_index_drift. `fitMax = None` reproduces the
    * full-corpus fit text verbatim. */
  private[queries] def residChainCtes(fitMax: Option[Int]): String =
    residFitCtes(fitMax) + "," + residProbeTail(IvfNProbe, "")

  /** The probe-INDEPENDENT half of the residual chain: coarse fit +
    * assignment, residual frame, per-subspace codebook fits, corpus
    * encode (`rcodes`), and the query-side probe RANKING
    * (`rprobes_all`, rn-carrying, unfiltered) — shared by the standard
    * chain and the frontier sweep, which appends one
    * [[residProbeTail]] per nProbe rung. */
  private[queries] def residFitCtes(fitMax: Option[Int]): String = {
    val sd = PqSubDim
    val fitW = fitMax.map(b => s" WHERE vec_id < $b").getOrElse("")
    val cbFit = fitMax.map(b => s" AND vec_id < $b").getOrElse("")
    val chains = (0 until PqM).map { mi =>
      s"""
      r${mi}_pts AS MATERIALIZED (
        SELECT vec_id - $IvfNCells AS pid, j, r AS x FROM rsub
        WHERE m = $mi AND vec_id >= $IvfNCells$cbFit),""" +
        graft.ml.LloydKmeans.oracleSqlFrom(
          s"r${mi}_pts", PqSubK, PqLloydIters, s"r${mi}_")
    }.mkString(",")
    val union = (0 until PqM).map(mi =>
      s"SELECT $mi AS m, c, j, y FROM r${mi}_cent_$PqLloydIters")
      .mkString("\n        UNION ALL ")
    // assignment source: the fit points when fitting on everything,
    // a separate all-vector CTE when the fit is base-restricted
    val assign = fitMax match {
      case None =>
        graft.ml.LloydKmeans.finalAssignSql("cqpts", CoarseIters, "cq_")
      case Some(_) =>
        s""",
      cqall AS (
        SELECT vec_id AS pid, i AS j, x FROM ex)""" +
        graft.ml.LloydKmeans.finalAssignSql("cqall", CoarseIters, "cq_")
    }
    s"""
      cqpts AS MATERIALIZED (
        SELECT vec_id AS pid, i AS j, x FROM ex$fitW),""" +
    graft.ml.LloydKmeans.oracleSqlFrom(
      "cqpts", IvfNCells, CoarseIters, "cq_") +
    assign +
    s""",
      rprobes_all AS MATERIALIZED (
        SELECT pid AS qid, c AS cell,
               row_number() OVER (PARTITION BY pid
                 ORDER BY round(d2, 6), c) AS rn
        FROM cq_kd_fin WHERE pid < $AnnQ),
      rresid AS MATERIALIZED (
        SELECT e.vec_id, s.cluster AS cell, e.i, e.x - c.y AS r
        FROM ex e JOIN cq_kassign s ON s.pid = e.vec_id
             JOIN cq_cent_$CoarseIters c
               ON c.c = s.cluster AND c.j = e.i),
      rsub AS MATERIALIZED (
        SELECT vec_id, cell, i // $sd AS m, i % $sd AS j, r
        FROM rresid),$chains,
      rcent AS MATERIALIZED (
        $union),
      rd2 AS (
        SELECT s.vec_id, s.m, c.c,
               CAST(sum(CAST((s.r - c.y) * (s.r - c.y) AS DECIMAL(38,18)))
                 AS DOUBLE) AS d2
        FROM rsub s JOIN rcent c ON s.m = c.m AND s.j = c.j
        GROUP BY 1, 2, 3),
      rcodes AS MATERIALIZED (
        SELECT vec_id AS vid, m, c FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY round(d2, 6), c) AS rn FROM rd2) WHERE rn = 1)"""
  }

  /** One nProbe rung of the residual serving path, CTE names suffixed
    * `$sfx`: probe set, per-probed-cell query residual ADC tables,
    * probed candidates, ADC ranking. `sfx = ""` at the live IvfNProbe
    * reproduces the standard chain the non-frontier queries read. */
  private[queries] def residProbeTail(nProbe: Int, sfx: String): String = {
    val sd = PqSubDim
    s"""
      rprobes$sfx AS (
        SELECT qid, cell FROM rprobes_all WHERE rn <= $nProbe),
      rqres$sfx AS (
        SELECT e.vec_id AS qid, p.cell, e.i // $sd AS m, e.i % $sd AS j,
               e.x - c.y AS qr
        FROM ex e JOIN rprobes$sfx p ON p.qid = e.vec_id
             JOIN cq_cent_$CoarseIters c ON c.c = p.cell AND c.j = e.i),
      rqd2$sfx AS MATERIALIZED (
        SELECT q.qid, q.cell, q.m, c.c,
               CAST(sum(CAST((q.qr - c.y) * (q.qr - c.y)
                 AS DECIMAL(38,18))) AS DOUBLE) AS qd2
        FROM rqres$sfx q JOIN rcent c ON q.m = c.m AND q.j = c.j
        GROUP BY 1, 2, 3, 4),
      rescand$sfx AS (
        SELECT p.qid, s.pid AS vid, p.cell
        FROM rprobes$sfx p JOIN cq_kassign s
          ON s.cluster = p.cell AND p.qid <> s.pid),
      radc$sfx AS (
        SELECT ca.qid, ca.vid,
               round(CAST(sum(CAST(q.qd2 AS DECIMAL(38,18))) AS DOUBLE),
                 6) AS adc
        FROM rescand$sfx ca JOIN rcodes k ON k.vid = ca.vid
             JOIN rqd2$sfx q ON q.qid = ca.qid AND q.cell = ca.cell
               AND q.m = k.m AND q.c = k.c
        GROUP BY 1, 2),
      resranked$sfx AS MATERIALIZED (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY adc, vid) AS rnk FROM radc$sfx)"""
  }

  /** Exact-re-rank CTEs over the residual ADC short list (the
    * residual twin of [[rerankCtes]]): `resranked`'s top-$RerankR join
    * stored full vectors, exact per-term-decimal squared-L2 re-scores,
    * `resrranked` orders by (round-6 d2, vid). */
  private[queries] def residRerankCtes: String = s"""
      resadcR AS (
        SELECT qid, vid, adc FROM resranked WHERE rnk <= $RerankR),
      resqfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex
        WHERE vec_id < $AnnQ),
      resrr AS (
        SELECT a.qid, a.vid, a.adc,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM resadcR a JOIN ex e ON e.vec_id = a.vid
             JOIN resqfull q ON q.qid = a.qid AND q.i = e.i
        GROUP BY 1, 2, 3),
      resrranked AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY d2, vid) AS rnk FROM resrr)"""

  // ---- J-L random projection (text.RandomProjection) live views +
  // shared stage + oracle

  private[queries] def RpOutDim = graft.Settings.ann.rpOutDim
  private[queries] def RpPairCap = graft.Settings.ann.rpPairCap

  /** Shared projected-embedding stage: `(vec_id, embedding, yr)` with
    * yr the ROUND-6 projected vector — the rounding seam makes every
    * downstream float identical across engines (both sides then sum
    * the same doubles). */
  private[queries] def rpProjected(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "rp_projected") {
      val emb = t(s, dir, "embeddings")
      val dIn = graft.Settings.ann.embeddingDim
      emb.select(col("vec_id"), col("embedding"),
        transform(graft.text.RandomProjection.project(
          col("embedding").cast("array<double>"), dIn, RpOutDim),
          y => round(y, 6)).as("yr"))
    }

  /** DuckDB CTE chain mirroring RandomProjection.project at the live
    * knobs: md5-parity sign matrix, decimal-exact dot products,
    * round-6 projection seam. Ends at `rpj(vec_id, j, y)`. */
  private[queries] def rpCtes: String = {
    val dIn = graft.Settings.ann.embeddingDim
    val scale = 1.0 / math.sqrt(RpOutDim.toDouble)
    s"""
      rex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      rmat AS (
        SELECT j, i,
               CASE WHEN ${hsql("'rp_' || j || '_' || i")} % 2 = 0
                 THEN $scale ELSE -$scale END AS r
        FROM range($RpOutDim) t1(j) CROSS JOIN range($dIn) t2(i)),
      rpj AS (
        SELECT e.vec_id, m.j,
               round(CAST(sum(CAST(e.x * m.r AS DECIMAL(38,18)))
                 AS DOUBLE), 6) AS y
        FROM rex e JOIN rmat m ON e.i = m.i GROUP BY 1, 2)"""
  }
}
