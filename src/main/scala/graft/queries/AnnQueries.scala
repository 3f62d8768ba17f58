package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.text.{Dedup, Similarity, TextOps}
import TextQueries._
import AnnStages._

/** Similarity-search / embedding-space operators over `embeddings`
  * (SURVEY §2 E-family): brute-force cosine top-k, PCA, MRL/dimred,
  * NN-Descent graphs + beam-search serving, HNSW hierarchies (flat,
  * incremental, graph+PQ/DiskANN-style, OPQ levers), IVF/PQ indexes
  * with residual refinement and rerank frontiers, J-L random
  * projection. Pure move out of TextQueries (r15 split): entry blocks
  * verbatim, shared stages/CTE helpers still live in [[TextQueries]]
  * (imported above) so every stage name and oracle string is
  * byte-identical to the pre-split registry. */
object AnnQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Brute-force cosine top-5 for query vectors (vec_id < 8)
    Q("q_e_cosine_topk", Some("""
      WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ex GROUP BY 1),
      q AS (SELECT * FROM ex WHERE vec_id < 8),
      dots AS (
        SELECT q.vec_id AS qid, e.vec_id AS vid, sum(q.x * e.x) AS dot
        FROM q JOIN ex e ON q.i = e.i AND q.vec_id <> e.vec_id
        GROUP BY 1, 2),
      cosd AS (
        SELECT qid, vid, round(dot / (nq.nrm * nv.nrm), 6) AS cos_sim
        FROM dots JOIN norms nq ON qid = nq.vec_id
                  JOIN norms nv ON vid = nv.vec_id)
      SELECT qid, vid, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cos_sim DESC, vid) AS rnk FROM cosd)
      WHERE rnk <= 5 ORDER BY qid, rnk""")) { (s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings"), col("vec_id") < 8, 5)
        .select("qid", "vid", "cos_sim", "rnk")
        .orderBy("qid", "rnk")
    },


    // Power-iteration PCA FIT (PowerPca scaladoc): the data-DEPENDENT
    // dimension reduction next to the J-L random projection — the
    // TRAINED loadings themselves are hash-checked, every iterate
    // accumulated through exact DECIMAL(38,18) sums with the round-9
    // seam before re-entering the recursion (the QualityClf GD
    // discipline), so the whole deflated power iteration is
    // reproduced by the unrolled oracle.
    Q("q_e_pca_fit", Some(s"""
      WITH $pcaCtes
      SELECT component, i, loading FROM ppfit
      ORDER BY component, i""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val f = pcaFitted(s, dir)
      f.components.flatMap(c =>
          (0 until f.dims).map(i => (c.c, i, c.v(i))))
        .toDF("component", "i", "loading")
        .orderBy("component", "i")
    },


    // PCA variance report: per component the round-9 eigenvalue and
    // the explained-variance fraction — the dial that says how many
    // components an embedding-whitening or compression step actually
    // needs (the data-dependent answer the q_e_rp_* rows' oblivious
    // guarantee can't give). Honest fixture reading: the embeddings
    // are near-isotropic (each component ≈ 2.4% vs the 1/64 ≈ 1.6%
    // isotropic baseline), and at a FIXED iteration count on a flat
    // spectrum the components are top-variance directions up to
    // convergence, not strictly eigenvalue-ordered — power
    // iteration's known small-eigengap behavior; PowerPcaSpec proves
    // ordered recovery on planted anisotropic data, and this row is
    // exactly what tells an operator the corpus has no axis worth
    // whitening.
    Q("q_e_pca_var", Some(s"""
      WITH $pcaCtes
      SELECT component, eigenvalue, explained_frac FROM ppvar
      ORDER BY component""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val f = pcaFitted(s, dir)
      f.components.map(c =>
          (c.c, c.lambda, graft.text.Unigram.round9(
            c.lambda / f.totalVar)))
        .toDF("component", "eigenvalue", "explained_frac")
        .orderBy("component")
    },


    // PCA projection — the serving half: every vector's coordinate on
    // every fitted component, (x − m)·v_c through the same exact
    // decimal path as the fit (the oracle re-derives from its own
    // fitted loadings, so fit AND serve are checked together). The
    // stateless rowwise/streaming scorer is the map-only twin
    // (PowerPca.projectRowwise, parity spec-locked).
    Q("q_e_pca_project", Some(s"""
      WITH $pcaCtes
      SELECT vec_id, component, proj FROM pprj
      ORDER BY vec_id, component""")) { (s, dir) =>
      graft.ml.PowerPca.projectLong(t(s, dir, "embeddings"),
          pcaFitted(s, dir))
        .orderBy("vec_id", "component")
    },


    // Matryoshka-style dimension-truncation A/B (Kusupati et al.
    // 2022: serve embeddings from a nested PREFIX of the vector —
    // a d/64 fraction of the scan bytes and dot-product FLOPs):
    // per (prefix dim, query), the exact top-k under truncated
    // cosine vs the full-dim truth. The row prices dim budget
    // against recall before any index even enters; honest caveat —
    // the fixture embeddings are not MRL-TRAINED, so this measures
    // the intrinsic prefix robustness, which is exactly what the
    // operator reports on any real corpus too.
    Q("q_e_mrl_recall", Some {
      val mx = """
      mx AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      mxtn AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM mx
               GROUP BY 1),
      mxtt AS MATERIALIZED (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid, row_number() OVER (PARTITION BY d.qid
            ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC, d.vid)
            AS rnk
          FROM (SELECT q.vec_id AS qid, e.vec_id AS vid,
                       sum(q.x * e.x) AS dot
                FROM mx q JOIN mx e ON q.i = e.i
                  AND q.vec_id <> e.vec_id
                WHERE q.vec_id < 8 GROUP BY 1, 2) d
          JOIN mxtn na ON na.vec_id = d.qid
          JOIN mxtn nb ON nb.vec_id = d.vid)
        WHERE rnk <= """ + AnnK + ")"
      val perDim = MrlDims.map { d => s"""
      mxn$d AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM mx
                WHERE i < $d GROUP BY 1),
      mxt$d AS MATERIALIZED (
        SELECT qid, vid FROM (
          SELECT dd.qid, dd.vid, row_number() OVER (PARTITION BY dd.qid
            ORDER BY round(dd.dot / (na.nrm * nb.nrm), 6) DESC, dd.vid)
            AS rnk
          FROM (SELECT q.vec_id AS qid, e.vec_id AS vid,
                       sum(q.x * e.x) AS dot
                FROM mx q JOIN mx e ON q.i = e.i
                  AND q.vec_id <> e.vec_id
                WHERE q.vec_id < 8 AND q.i < $d AND e.i < $d
                GROUP BY 1, 2) dd
          JOIN mxn$d na ON na.vec_id = dd.qid
          JOIN mxn$d nb ON nb.vec_id = dd.vid)
        WHERE rnk <= $AnnK)"""
      }.mkString(",")
      val union = MrlDims.map { d => s"""
        SELECT $d AS dim, t.qid,
               CAST(count(s.vid) AS BIGINT) AS n_hits,
               CAST(count(*) AS BIGINT) AS n_true,
               round(CAST(count(s.vid) AS DOUBLE) / count(*), 9)
                 AS recall
        FROM mxtt t LEFT JOIN mxt$d s
          ON s.qid = t.qid AND s.vid = t.vid
        GROUP BY 2"""
      }.mkString("\n        UNION ALL ")
      s"""
      WITH $mx,$perDim
      $union
      ORDER BY dim, qid"""
    }) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val emb = t(s, dir, "embeddings")
      val served = tagArms("dim", MrlDims.map { d =>
        d -> Similarity.cosineTopK(emb.withColumn("embedding",
          slice(col("embedding"), 1, d)), col("vec_id") < 8, AnnK)
      })
      recallHits(cosTruth(s, dir), served, MrlDims.toDF("dim"))
        .select(col("dim"), col("qid"), col("n_hits"), col("n_true"),
          round(col("n_hits").cast("double") / col("n_true"), 9)
            .as("recall"))
        .orderBy("dim", "qid")
    },


    // Dimension-reduction CONSUMED by the ANN ladder — RP vs PCA vs
    // MRL prefix at ONE matched dimension (ann.dimred.dim), each
    // arm running the SAME IVF-flat index in its reduced space:
    // Lloyd coarse cells fitted on the reduced vectors (the
    // hash-checkable seed-slice fit), n_probe-cell probing, exact
    // reduced-space cosine inside probed cells. Per (arm, query):
    // recall@k against the FULL-dim exact truth + the probed-
    // candidate cost. The consume-what-you-measured discipline (the
    // calibration threshold's r12 pattern) applied to the dim-
    // reduction family: the RP/PCA/MRL recall rows each price the
    // reduction alone — this row prices the reduction UNDER the
    // index a production deployment would actually serve from.
    Q("q_e_dimred_ab", Some {
      val dIn = graft.Settings.ann.embeddingDim
      val scale = 1.0 / math.sqrt(DimredDim.toDouble)
      val pcaChain = graft.ml.PowerPca.oracleCtes(DimredDim,
        DimredPcaIters, dims = dIn)
      val srcs = s"""
      drex AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      drm AS MATERIALIZED (
        SELECT vec_id AS pid, i AS j, x FROM drex
        WHERE i < $DimredDim),
      drrm AS (
        SELECT j, i,
               CASE WHEN ${hsql("'rp_' || j || '_' || i")} % 2 = 0
                 THEN $scale ELSE -$scale END AS r
        FROM range($DimredDim) t1(j) CROSS JOIN range($dIn) t2(i)),
      drr AS MATERIALIZED (
        SELECT e.vec_id AS pid, m.j,
               round(CAST(sum(CAST(e.x * m.r AS DECIMAL(38,18)))
                 AS DOUBLE), 6) AS x
        FROM drex e JOIN drrm m ON e.i = m.i GROUP BY 1, 2),
      drp AS MATERIALIZED (
        SELECT vec_id AS pid, component AS j, proj AS x FROM pprj),
      drnf AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM drex
               GROUP BY 1),
      drtt AS MATERIALIZED (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid, row_number() OVER (PARTITION BY d.qid
            ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC, d.vid)
            AS rnk
          FROM (SELECT q.vec_id AS qid, e.vec_id AS vid,
                       sum(q.x * e.x) AS dot
                FROM drex q JOIN drex e ON q.i = e.i
                  AND q.vec_id <> e.vec_id
                WHERE q.vec_id < 8 GROUP BY 1, 2) d
          JOIN drnf na ON na.vec_id = d.qid
          JOIN drnf nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK)"""
      val arms = Seq(("mrl", "dm", "drm"), ("pca", "dp", "drp"),
        ("rp", "dr", "drr"))
      val armCtes = arms.map { case (_, pfx, src) =>
        dimredArmCtes(pfx, src).trim }.mkString(",\n      ")
      val union = arms.map { case (m, pfx, _) => s"""
        SELECT '$m' AS method, t.qid,
               CAST(count(s.vid) AS BIGINT) AS n_hits,
               CAST(count(*) AS BIGINT) AS n_true,
               round(CAST(count(s.vid) AS DOUBLE) / count(*), 9)
                 AS recall,
               any_value(c.n_cands) AS n_cands
        FROM drtt t
        LEFT JOIN ${pfx}tk s ON s.qid = t.qid AND s.vid = t.vid
        JOIN ${pfx}nc c ON c.qid = t.qid
        GROUP BY 2"""
      }.mkString("\n        UNION ALL ")
      s"""
      WITH $pcaChain,$srcs,
      $armCtes
      $union
      ORDER BY method, qid"""
    }) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val methods = Seq("mrl", "pca", "rp")
      // the three arms are independent stage builds (guide §2.6 —
      // overlap independent jobs): build them concurrently so one
      // arm's stragglers backfill with the next arm's tasks
      val served = tagArms("method", methods.zip(graft.ops.Pools.awaitAll(
        methods.map(m => () => dimredArm(s, dir, m)))), "n_cands")
      val nc = served.groupBy("method", "qid")
        .agg(first(col("n_cands")).as("n_cands"))
      recallHits(cosTruth(s, dir), served, methods.toDF("method"))
        .join(nc, Seq("method", "qid"))
        .select(col("method"), col("qid"), col("n_hits"), col("n_true"),
          round(col("n_hits").cast("double") / col("n_true"), 9)
            .as("recall"), col("n_cands"))
        .orderBy("method", "qid")
    },


    // NN-Descent kNN GRAPH (NnDescent scaladoc — Dong et al. 2011):
    // the graph-building ANN family member next to the IVF/PQ point-
    // query ladder — md5-seeded random graph, then fixed local-join
    // rounds ("a neighbor of my neighbor is a candidate"), each
    // bounded by N·(2k)² pivot-local pairs (no all-pairs step). The
    // oracle unrolls one round per rank, so the ITERATIVE graph
    // refinement itself is hash-checked end-to-end.
    Q("q_e_nnd_graph", Some(s"""
      WITH $nndCtes
      SELECT node, nbr, cos_sim, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY node
          ORDER BY cos_sim DESC, nbr) AS rnk
        FROM ndk$NndRounds)
      ORDER BY node, rnk""")) { (s, dir) =>
      nndGraph(s, dir)
        .select(col("node"), col("nbr"), col("cos_sim"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("node", "rnk")
    },


    // NN-Descent recall vs the brute-force truth (per node): how much
    // of the exact top-k neighborhood the local-join rounds recovered
    // — the graded quality row of the graph build (the exact truth is
    // fixture-scale only; it IS the quadratic baseline NN-Descent
    // exists to avoid).
    Q("q_e_nnd_recall", Some(s"""
      WITH $nndCtes,
      ${graft.text.NnDescent.oracleTruthCte(NndK).trim},
      ndg AS (SELECT node, nbr FROM ndk$NndRounds),
      ndh AS (
        SELECT t.node, CAST(count(g.nbr) AS BIGINT) AS n_hits,
               CAST(count(*) AS BIGINT) AS n_true
        FROM ndt t LEFT JOIN ndg g
          ON g.node = t.node AND g.nbr = t.nbr
        GROUP BY 1)
      SELECT node, n_hits, n_true,
             round(CAST(n_hits AS DOUBLE) / n_true, 9) AS recall
      FROM ndh ORDER BY node""")) { (s, dir) =>
      def edges(g: DataFrame) =
        g.select(col("node").as("qid"), col("nbr").as("vid"))
      recallHits(edges(nndTruth(s, dir)), edges(nndGraph(s, dir)))
        .select(col("qid").as("node"), col("n_hits"), col("n_true"),
          round(col("n_hits").cast("double") / col("n_true"), 9)
            .as("recall"))
        .orderBy("node")
    },


    // Graph-ANN SERVING: beam search over the built NN-Descent graph
    // (the search layer HNSW-style indexes descend from) — md5 entry
    // nodes per query, `hops` expansion rounds each scoring ≤
    // beam·(k+1) query-local candidates, never a pass over the
    // corpus. The oracle re-walks the same descent hop by hop.
    Q("q_e_nnd_serve", Some(s"""
      WITH $nndCtes,
      $nndServeCtes
      SELECT qid, vid, cos_sim, rnk FROM nsrv
      ORDER BY qid, rnk""")) { (s, dir) =>
      nndServed(s, dir)
        .select(col("qid"), col("vid"), col("cos_sim"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("qid", "rnk")
    },


    // Served recall vs cost: per query, how much of the exact top-k
    // the graph descent recovered and how many candidates it ever
    // scored (the brute-force denominator is the corpus size — the
    // row that prices graph serving against the IVF/PQ ladder's
    // frontier points).
    Q("q_e_nnd_serve_recall", Some(s"""
      WITH $nndCtes,
      $nndServeCtes,
      nstr AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
               sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 8
        GROUP BY 1, 2),
      nstt AS (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.vid) AS rnk
          FROM nstr d JOIN ndnrm na ON na.vec_id = d.qid
                      JOIN ndnrm nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK)
      SELECT t.qid,
             CAST(count(s.vid) AS BIGINT) AS n_hits,
             CAST(count(*) AS BIGINT) AS n_true,
             round(CAST(count(s.vid) AS DOUBLE) / count(*), 9)
               AS recall,
             any_value(a.n_scored) AS n_scored
      FROM nstt t
      LEFT JOIN nsrv s ON s.qid = t.qid AND s.vid = t.vid
      JOIN nsall a ON a.qid = t.qid
      GROUP BY 1 ORDER BY t.qid""")) { (s, dir) =>
      val served = nndServed(s, dir)
      val nsc = served.groupBy("qid")
        .agg(first(col("n_scored")).as("n_scored"))
      recallHits(cosTruth(s, dir), served)
        .join(nsc, Seq("qid"))
        .select(col("qid"), col("n_hits"), col("n_true"),
          round(col("n_hits").cast("double") / col("n_true"), 9)
            .as("recall"), col("n_scored"))
        .orderBy("qid")
    },


    // INCREMENTAL NN-Descent graph maintenance (NnDescent.incrInsert
    // — the graph index's q_e_index_incr analog): the new-doc batch
    // (vec_id >= incr_base) seeds its edges by beam search over the
    // FROZEN base graph (entries drawn from old nodes only), then
    // confined local-join rounds repair the affected neighborhoods —
    // work proportional to the batch's blast radius, never a rebuild.
    // The oracle re-walks the base build, the seed descent, and every
    // confined round; incremental ≡ rebuild recall is spec-locked in
    // NnDescentSpec.
    Q("q_e_nnd_incr", Some(s"""
      WITH $nndIncrCtes
      SELECT node, nbr, cos_sim, rnk FROM ingf
      ORDER BY node, rnk""")) { (s, dir) =>
      nndIncrGraph(s, dir)
        .select(col("node"), col("nbr"), col("cos_sim"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("node", "rnk")
    },


    // Incremental-graph DRIFT accounting — the q_e_index_drift analog
    // for the graph index: how far did the batch insert move the OLD
    // nodes' neighborhoods (edge-set overlap vs the frozen base
    // graph) and how big is the new population. The dial an index
    // owner reads to decide incremental-vs-rebuild: high old-node
    // churn means the batch is reshaping the graph and a rebuild is
    // due.
    Q("q_e_nnd_drift", Some(s"""
      WITH $nndIncrCtes,
      dfb AS (SELECT node, nbr FROM inbk$NndRounds),
      dff AS (SELECT node, nbr FROM ingf WHERE node < $IncrBase),
      dfo AS (
        SELECT b.node,
               CAST(count(*) AS BIGINT) AS n_base,
               CAST(count(f.nbr) AS BIGINT) AS n_kept
        FROM dfb b LEFT JOIN dff f
          ON f.node = b.node AND f.nbr = b.nbr
        GROUP BY 1)
      SELECT CAST((SELECT count(DISTINCT node) FROM dfb) AS BIGINT)
               AS n_old,
             CAST((SELECT count(*) FROM embeddings
                   WHERE vec_id >= $IncrBase) AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN n_kept < n_base THEN 1 ELSE 0 END)
               AS BIGINT) AS n_old_changed,
             round(CAST(sum(CASE WHEN n_kept < n_base THEN 1 ELSE 0
               END) AS DOUBLE) / count(*), 9) AS changed_frac,
             round(CAST(sum(CAST(n_kept AS DOUBLE) / n_base)
               AS DOUBLE) / count(*), 9) AS avg_edge_overlap
      FROM dfo""")) { (s, dir) =>
      val base = nndBaseGraph(s, dir).select("node", "nbr")
      val fin = nndIncrGraph(s, dir)
        .filter(col("node") < IncrBase).select("node", "nbr")
        .withColumn("kept", lit(1L))
      val nNew = t(s, dir, "embeddings")
        .filter(col("vec_id") >= IncrBase)
        .agg(count(lit(1)).as("n_new"))
      val dfo = base.join(fin, Seq("node", "nbr"), "left")
        .groupBy("node")
        .agg(count(lit(1)).as("n_base"),
          sum(coalesce(col("kept"), lit(0L))).as("n_kept"))
      dfo.agg(
          countDistinct("node").as("n_old"),
          sum(when(col("n_kept") < col("n_base"), 1L).otherwise(0L))
            .as("n_old_changed"),
          round(sum(when(col("n_kept") < col("n_base"), 1.0)
            .otherwise(0.0)) / count(lit(1)), 9).as("changed_frac"),
          round(sum(col("n_kept").cast("double") / col("n_base"))
            / count(lit(1)), 9).as("avg_edge_overlap"))
        .crossJoin(broadcast(nNew))
        .select(col("n_old"), col("n_new"), col("n_old_changed"),
          col("changed_frac"), col("avg_edge_overlap"))
    },


    // HNSW-style HIERARCHICAL serving (NnDescent.serveHier — Malkov &
    // Yashunin 2016, run over NN-Descent layer graphs): nested
    // md5-sampled layers each carry their own bucket-init NND graph;
    // a query coarse-scans the (N/ratio^levels)-node top layer, beam-
    // descends layer to layer, and finishes on the base graph — the
    // O(log N) entry the flat serve's md5-random entries lack. The
    // oracle re-walks every layer build AND every descent hop.
    Q("q_e_hnsw_serve", Some(s"""
      WITH $nndCtes,
      $hnswLayerCtes,
      $hnswServeChainCtes
      SELECT qid, vid, cos_sim, rnk FROM hsrv
      ORDER BY qid, rnk""")) { (s, dir) =>
      hnswServed(s, dir)
        .select(col("qid"), col("vid"), col("cos_sim"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("qid", "rnk")
    },


    // Hierarchical served recall vs cost — the q_e_nnd_serve_recall
    // twin for the layered index: per query, recall against the exact
    // top-k plus the count of DISTINCT candidates ever scored across
    // ALL layers (coarse scan included — honest accounting; the A/B
    // against the flat serve is q_e_hnsw_ab).
    Q("q_e_hnsw_serve_recall", Some(s"""
      WITH $nndCtes,
      $hnswLayerCtes,
      $hnswServeChainCtes,
      hstr AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
               sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 8
        GROUP BY 1, 2),
      hstt AS (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.vid) AS rnk
          FROM hstr d JOIN ndnrm na ON na.vec_id = d.qid
                      JOIN ndnrm nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK)
      SELECT t.qid,
             CAST(count(s.vid) AS BIGINT) AS n_hits,
             CAST(count(*) AS BIGINT) AS n_true,
             round(CAST(count(s.vid) AS DOUBLE) / count(*), 9)
               AS recall,
             any_value(a.n_scored) AS n_scored
      FROM hstt t
      LEFT JOIN hsrv s ON s.qid = t.qid AND s.vid = t.vid
      JOIN hsall a ON a.qid = t.qid
      GROUP BY 1 ORDER BY t.qid""")) { (s, dir) =>
      val served = hnswServed(s, dir)
      val nsc = served.groupBy("qid")
        .agg(first(col("n_scored")).as("n_scored"))
      recallHits(cosTruth(s, dir), served)
        .join(nsc, Seq("qid"))
        .select(col("qid"), col("n_hits"), col("n_true"),
          round(col("n_hits").cast("double") / col("n_true"), 9)
            .as("recall"), col("n_scored"))
        .orderBy("qid")
    },


    // Flat vs hierarchical serving A/B — the frontier row the
    // hierarchy exists for: per arm, average recall@k against the
    // exact truth and the average/total DISTINCT candidates scored,
    // same k, same corpus, same shared artifacts. Measured at the
    // committed knee: at the sf0.01 gate scale the hierarchy
    // DOMINATES — recall 0.875 @ ~183 scored vs flat 0.775 @ 228
    // (better recall at 20% fewer candidates), because descent
    // entries land near the query; on the sf0.001 draw (closer to
    // i.i.d. — the non-navigable case) it reads 0.65 @ 181 vs 0.75
    // @ 216: concentrated entries there lose more to reduced
    // exploration diversity than they gain in proximity (12 knob
    // combos measured before pinning). The structural claim is vs N
    // — coarse entry cost is a knob (N/ratio^levels) where flat
    // hops must grow.
    Q("q_e_hnsw_ab", Some(s"""
      WITH $nndCtes,
      $nndServeCtes,
      $hnswLayerCtes,
      $hnswServeChainCtes,
      abtr AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
               sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 8
        GROUP BY 1, 2),
      abtt AS (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.vid) AS rnk
          FROM abtr d JOIN ndnrm na ON na.vec_id = d.qid
                      JOIN ndnrm nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK),
      abarm AS (
        SELECT 'flat' AS arm, t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*) AS recall,
               any_value(a.n_scored) AS n_scored
        FROM abtt t
        LEFT JOIN nsrv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN nsall a ON a.qid = t.qid
        GROUP BY 2
        UNION ALL
        SELECT 'hier', t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*),
               any_value(a.n_scored)
        FROM abtt t
        LEFT JOIN hsrv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN hsall a ON a.qid = t.qid
        GROUP BY 2)
      SELECT arm, CAST(count(*) AS BIGINT) AS n_queries,
             round(avg(recall), 9) AS avg_recall,
             round(avg(CAST(n_scored AS DOUBLE)), 9) AS avg_scored,
             CAST(sum(n_scored) AS BIGINT) AS total_scored
      FROM abarm GROUP BY 1 ORDER BY arm""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val served = tagArms("arm", Seq("flat" -> nndServed(s, dir),
        "hier" -> hnswServed(s, dir)), "n_scored")
      val nsc = served.groupBy("arm", "qid")
        .agg(first(col("n_scored")).as("n_scored"))
      recallHits(cosTruth(s, dir), served, Seq("flat", "hier").toDF("arm"))
        .join(nsc, Seq("arm", "qid"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("n_hits").cast("double") / col("n_true")), 9)
            .as("avg_recall"),
          round(avg(col("n_scored").cast("double")), 9)
            .as("avg_scored"),
          sum("n_scored").cast("long").as("total_scored"))
        .orderBy("arm")
    },


    // Hierarchical-serving FRONTIER — the measured (up_beam, up_hops)
    // table the hnsw_up_* defaults are promoted from (the
    // q_e_ann_frontier discipline applied to the graph index): per
    // rung, average recall@k against the exact truth and the
    // average/total distinct candidates scored, with the flat serve
    // as the baseline arm. All rungs share the layer graphs; the
    // default rung shares the standing hnsw_served stage.
    Q("q_e_hnsw_frontier", Some {
      val rungChains = HnswFrontierRungs.map { case (ub, uh) =>
        graft.text.NnDescent.oracleHierServeCtes(NndRounds, AnnK,
          ub, uh, HnswBeam, HnswHops, HnswRatio, HnswLevels,
          HnswUpRounds, pfx = s"hf${ub}x$uh").trim
      }.mkString(",\n      ")
      val armRows = (s"""
        SELECT 'flat' AS variant, t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*) AS recall,
               any_value(a.n_scored) AS n_scored
        FROM hftt t
        LEFT JOIN nsrv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN nsall a ON a.qid = t.qid
        GROUP BY 2""" +: HnswFrontierRungs.map { case (ub, uh) =>
        val p = s"hf${ub}x$uh"
        s"""
        SELECT 'ub${ub}_uh$uh', t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*),
               any_value(a.n_scored)
        FROM hftt t
        LEFT JOIN ${p}rv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN ${p}all a ON a.qid = t.qid
        GROUP BY 2"""
      }).mkString("\n        UNION ALL ")
      s"""
      WITH $nndCtes,
      $nndServeCtes,
      $hnswLayerCtes,
      $rungChains,
      hftr AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
               sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 8
        GROUP BY 1, 2),
      hftt AS (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.vid) AS rnk
          FROM hftr d JOIN ndnrm na ON na.vec_id = d.qid
                      JOIN ndnrm nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK)
      SELECT variant, CAST(count(*) AS BIGINT) AS n_queries,
             round(avg(recall), 9) AS avg_recall,
             round(avg(CAST(n_scored AS DOUBLE)), 9) AS avg_scored,
             CAST(sum(n_scored) AS BIGINT) AS total_scored
      FROM ($armRows)
      GROUP BY 1 ORDER BY variant"""
    }) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val variants = ("flat", () => nndServed(s, dir)) +:
        HnswFrontierRungs.map { case (ub, uh) =>
          (s"ub${ub}_uh$uh", () => hnswServedAt(s, dir, ub, uh)) }
      // build the independent rung serves concurrently (guide §2.6)
      val served = tagArms("variant", variants.map(_._1).zip(
        graft.ops.Pools.awaitAll(variants.map(_._2))), "n_scored")
      val nsc = served.groupBy("variant", "qid")
        .agg(first(col("n_scored")).as("n_scored"))
      recallHits(cosTruth(s, dir), served,
          variants.map(_._1).toDF("variant"))
        .join(nsc, Seq("variant", "qid"))
        .groupBy("variant")
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("n_hits").cast("double") / col("n_true")), 9)
            .as("avg_recall"),
          round(avg(col("n_scored").cast("double")), 9)
            .as("avg_scored"),
          sum("n_scored").cast("long").as("total_scored"))
        .orderBy("variant")
    },


    // DiskANN-style GRAPH + PQ serving (NnDescent.serveHierPq —
    // Subramanya et al. 2019: graph traversal over COMPRESSED
    // vectors): the hierarchical descent with every hop ADC-scored
    // against the m-byte PQ codes (Similarity.pqParts seed codebook —
    // the chain the pq-topk rows already hash-check), then ONE exact
    // cosine re-rank of the final beam. At 100 TB the traversal
    // touches only the code table + k-bounded edge lists; full-dim
    // floats are read for n_exact ≤ beam candidates per query instead
    // of every scored candidate — the memory bill the DiskANN design
    // pays for. The oracle re-walks the PQ encode, every ADC-scored
    // hop and the exact re-rank.
    Q("q_e_hnsw_pq_serve", Some(s"""
      WITH $nndCtes,
      $hnswLayerCtes,
      ${hnswPqServeChainCtes.trim}
      SELECT qid, vid, cos_sim, rnk, n_scored, n_exact FROM gprv
      ORDER BY qid, rnk""")) { (s, dir) =>
      hnswPqServed(s, dir)
        .select(col("qid"), col("vid"), col("cos_sim"),
          col("rnk").cast("long").as("rnk"), col("n_scored"),
          col("n_exact"))
        .orderBy("qid", "rnk")
    },


    // Float-vs-PQ serving A/B at the SAME descent knobs: recall
    // against the exact top-k, PQ-scored candidate counts, and the
    // full-dimension float touches each arm pays (the float arm reads
    // floats for EVERY scored candidate; the PQ arm only for the
    // final beam) — the row that prices the DiskANN trade: how much
    // recall the compressed traversal gives up for a ~beam-sized
    // float budget.
    Q("q_e_hnsw_pq_ab", Some(s"""
      WITH $nndCtes,
      $hnswLayerCtes,
      $hnswServeChainCtes,
      ${hnswPqServeChainCtes.trim},
      pqtr AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
               sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 8
        GROUP BY 1, 2),
      pqtt AS (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.vid) AS rnk
          FROM pqtr d JOIN ndnrm na ON na.vec_id = d.qid
                      JOIN ndnrm nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK),
      pqarm AS (
        SELECT 'hier_float' AS arm, t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*) AS recall,
               any_value(a.n_scored) AS n_scored,
               any_value(a.n_scored) AS n_exact
        FROM pqtt t
        LEFT JOIN hsrv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN hsall a ON a.qid = t.qid
        GROUP BY 2
        UNION ALL
        SELECT 'hier_pq', t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*),
               any_value(a.n_scored),
               any_value(x.n_exact)
        FROM pqtt t
        LEFT JOIN gprv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN gpall a ON a.qid = t.qid
        JOIN gpnx x ON x.qid = t.qid
        GROUP BY 2)
      SELECT arm, CAST(count(*) AS BIGINT) AS n_queries,
             round(avg(recall), 9) AS avg_recall,
             round(avg(CAST(n_scored AS DOUBLE)), 9) AS avg_scored,
             CAST(sum(n_scored) AS BIGINT) AS total_scored,
             round(avg(CAST(n_exact AS DOUBLE)), 9) AS avg_exact,
             CAST(sum(n_exact) AS BIGINT) AS total_exact
      FROM pqarm GROUP BY 1 ORDER BY arm""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      // the float arm reads full floats for every scored candidate
      val served = tagArms("arm", Seq(
        "hier_float" ->
          hnswServed(s, dir).withColumn("n_exact", col("n_scored")),
        "hier_pq" -> hnswPqServed(s, dir)), "n_scored", "n_exact")
      val nsc = served.groupBy("arm", "qid")
        .agg(first(col("n_scored")).as("n_scored"),
          first(col("n_exact")).as("n_exact"))
      recallHits(cosTruth(s, dir), served,
          Seq("hier_float", "hier_pq").toDF("arm"))
        .join(nsc, Seq("arm", "qid"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("n_hits").cast("double") / col("n_true")), 9)
            .as("avg_recall"),
          round(avg(col("n_scored").cast("double")), 9)
            .as("avg_scored"),
          sum("n_scored").cast("long").as("total_scored"),
          round(avg(col("n_exact").cast("double")), 9)
            .as("avg_exact"),
          sum("n_exact").cast("long").as("total_exact"))
        .orderBy("arm")
    },


    // The rerank-budget FRONTIER of the graph+PQ serve — the
    // ann-frontier discipline applied to the DiskANN trade: ONE ADC
    // traversal (the pool does not affect it), one exact re-rank per
    // rerank_r rung, each rung priced by recall vs the exact top-k
    // and by n_exact (full-dim float touches — the budget being
    // bought). The table the shared ann.rerank_r default is promoted
    // from on the compressed-graph side.
    Q("q_e_hnsw_pq_frontier", Some {
      val core = graft.text.NnDescent.oracleHierServePqCore(
        NndRounds, HnswUpBeam, HnswUpHops, HnswBeam, HnswHops,
        HnswRatio, HnswLevels, HnswUpRounds, PqM, PqSubK, PqSubDim,
        lloydIters = PqLloydIters)
      val tails = HnswPqRerankRungs.map(r => graft.text.NnDescent
        .oracleHierServePqTail(AnnK, r, "gp", s"r$r").trim)
        .mkString(",\n      ")
      val armRows = HnswPqRerankRungs.map { r =>
        s"""
        SELECT $r AS rerank_r, t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*) AS recall,
               any_value(a.n_scored) AS n_scored,
               any_value(x.n_exact) AS n_exact
        FROM pftt t
        LEFT JOIN gpr${r}rv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN gpall a ON a.qid = t.qid
        JOIN gpr${r}nx x ON x.qid = t.qid
        GROUP BY 2"""
      }.mkString("\n        UNION ALL ")
      s"""
      WITH $nndCtes,
      $hnswLayerCtes,
      ${core.trim},
      $tails,
      pftr AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
               sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 8
        GROUP BY 1, 2),
      pftt AS (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.vid) AS rnk
          FROM pftr d JOIN ndnrm na ON na.vec_id = d.qid
                      JOIN ndnrm nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK)
      SELECT rerank_r, CAST(count(*) AS BIGINT) AS n_queries,
             round(avg(recall), 9) AS avg_recall,
             round(avg(CAST(n_scored AS DOUBLE)), 9) AS avg_scored,
             round(avg(CAST(n_exact AS DOUBLE)), 9) AS avg_exact,
             CAST(sum(n_exact) AS BIGINT) AS total_exact
      FROM ($armRows)
      GROUP BY 1 ORDER BY rerank_r"""
    }) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val served = hnswPqFrontierServed(s, dir)
      val costs = served.groupBy("rerank_r", "qid")
        .agg(first(col("n_scored")).as("n_scored"),
          first(col("n_exact")).as("n_exact"))
      recallHits(cosTruth(s, dir), served,
          HnswPqRerankRungs.toDF("rerank_r"))
        .join(costs, Seq("rerank_r", "qid"))
        .groupBy("rerank_r")
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("n_hits").cast("double") / col("n_true")), 9)
            .as("avg_recall"),
          round(avg(col("n_scored").cast("double")), 9)
            .as("avg_scored"),
          round(avg(col("n_exact").cast("double")), 9)
            .as("avg_exact"),
          sum("n_exact").cast("long").as("total_exact"))
        .orderBy("rerank_r")
    },


    // OPQ levers for the graph+PQ serve, priced at matched descent
    // knobs: the 12-bit default arm vs (a) the SRHT-rotated codes
    // (Srht — the Ge et al. 2013 OPQ rotation in its deterministic
    // Hadamard form: spread coordinate energy uniformly across the
    // subspace split before quantizing; codes and ADC tables live in
    // the rotated space, the graph and the exact re-rank stay in the
    // original — orthogonality preserves the cosine ranking) and (b)
    // a wider-m rung (2·pq.m subspaces = 2× bits/vector — the
    // bits-buy-recall lever the frontier showed 12 bits starving).
    // The oracle re-walks all three chains: rotation, per-subspace
    // Lloyd fits, ADC traversal, exact re-rank.
    Q("q_e_hnsw_pq_opq_ab", Some {
      val d = graft.Settings.ann.embeddingDim
      val rotCtes = graft.text.Srht.oracleCtes(d, "ndex", "oq",
        graft.text.TextOps.hsqlMod)
      def core(pfx: String, m: Int, subDim: Int, src: String) =
        graft.text.NnDescent.oracleHierServePqCore(NndRounds,
          HnswUpBeam, HnswUpHops, HnswBeam, HnswHops, HnswRatio,
          HnswLevels, HnswUpRounds, m, PqSubK, subDim,
          lloydIters = PqLloydIters, pfx = pfx, srcCte = src).trim
      def tail(pfx: String) = graft.text.NnDescent
        .oracleHierServePqTail(AnnK, RerankR, pfx, "").trim
      val armRows = Seq("pq_base" -> "gp", "pq_opq_rot" -> "gr",
        "pq_m_wide" -> "gw").map { case (arm, pfx) =>
        s"""
        SELECT '$arm' AS arm, t.qid,
               CAST(count(s.vid) AS DOUBLE) / count(*) AS recall,
               any_value(a.n_scored) AS n_scored,
               any_value(x.n_exact) AS n_exact
        FROM obtt t
        LEFT JOIN ${pfx}rv s ON s.qid = t.qid AND s.vid = t.vid
        JOIN ${pfx}all a ON a.qid = t.qid
        JOIN ${pfx}nx x ON x.qid = t.qid
        GROUP BY 2"""
      }.mkString("\n        UNION ALL ")
      s"""
      WITH $nndCtes,
      $hnswLayerCtes,
      ${hnswPqServeChainCtes.trim},
      $rotCtes,
      ${core("gr", PqM, PqSubDim, "oqrotex")},
      ${tail("gr")},
      ${core("gw", 2 * PqM, PqSubDim / 2, "ndex")},
      ${tail("gw")},
      obtr AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
               sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 8
        GROUP BY 1, 2),
      obtt AS (
        SELECT qid, vid FROM (
          SELECT d.qid, d.vid,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.vid) AS rnk
          FROM obtr d JOIN ndnrm na ON na.vec_id = d.qid
                      JOIN ndnrm nb ON nb.vec_id = d.vid)
        WHERE rnk <= $AnnK)
      SELECT arm, CAST(count(*) AS BIGINT) AS n_queries,
             round(avg(recall), 9) AS avg_recall,
             round(avg(CAST(n_scored AS DOUBLE)), 9) AS avg_scored,
             round(avg(CAST(n_exact AS DOUBLE)), 9) AS avg_exact,
             CAST(sum(n_exact) AS BIGINT) AS total_exact
      FROM ($armRows)
      GROUP BY 1 ORDER BY arm"""
    }) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val arms = Seq("pq_base", "pq_opq_rot", "pq_m_wide")
      // run the three arm serves concurrently (guide §2.6)
      val served = tagArms("arm", arms.zip(graft.ops.Pools.awaitAll(Seq(
        () => hnswPqServed(s, dir), () => hnswPqRotServed(s, dir),
        () => hnswPqWideServed(s, dir)))), "n_scored", "n_exact")
      val nsc = served.groupBy("arm", "qid")
        .agg(first(col("n_scored")).as("n_scored"),
          first(col("n_exact")).as("n_exact"))
      recallHits(cosTruth(s, dir), served, arms.toDF("arm"))
        .join(nsc, Seq("arm", "qid"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("n_hits").cast("double") / col("n_true")), 9)
            .as("avg_recall"),
          round(avg(col("n_scored").cast("double")), 9)
            .as("avg_scored"),
          round(avg(col("n_exact").cast("double")), 9)
            .as("avg_exact"),
          sum("n_exact").cast("long").as("total_exact"))
        .orderBy("arm")
    },


    // INCREMENTAL HNSW hierarchy maintenance (NnDescent
    // .incrInsertLayer — the layered index's add-without-retrain,
    // closing the r13 gap where only the BASE graph had it): each
    // level's new members (layerPred ∧ vec_id >= incr_base — layer
    // assignment is the same md5 rule as at build time, so new
    // top-layer members become coarse-scan entries automatically)
    // seed their edges by beam search over the FROZEN old layer
    // graph, entering through bucket REPRESENTATIVES of the old
    // members (sparse layer ids — md5-mod entries don't apply), then
    // confined repair rounds bounded by the batch's blast radius.
    // The oracle re-walks every old-layer build, every seed descent
    // and every confined round, per level. Incremental ≡ rebuild
    // hierarchical-serve recall is spec-locked in NnDescentSpec.
    Q("q_e_hnsw_incr", Some(s"""
      WITH ${graft.text.NnDescent.oracleVecCtes.trim},
      $hnswIncrLayerCtes
      SELECT layer, node, nbr, cos_sim, rnk FROM (${(1 to HnswLevels)
        .map(l => s"SELECT $l AS layer, * FROM il${l}gf")
        .mkString("\n        UNION ALL ")})
      ORDER BY layer, node, rnk""")) { (s, dir) =>
      hnswIncrLayers(s, dir).zipWithIndex
        .map { case (g, i) => g.select(lit(i + 1).as("layer"),
          col("node"), col("nbr"), col("cos_sim"),
          col("rnk").cast("long").as("rnk")) }
        .reduce(_ unionByName _)
        .orderBy("layer", "node", "rnk")
    },


    // Serving over the MAINTAINED hierarchy — the row that proves
    // the add-without-retrain index actually SERVES: the same
    // hierarchical descent as q_e_hnsw_serve, but over the
    // incrementally-repaired base graph (ingf) and layer graphs
    // (il*gf), with the coarse scan drawn from ALL top-level members
    // (old AND new — layer assignment is the md5 layerPred rule, so
    // a new node that samples into the top layer becomes an entry;
    // this oracle row checks that claim end-to-end, the spec only
    // bounds its recall). n_scored rides along as the served-cost
    // column.
    Q("q_e_hnsw_incr_serve", Some {
      val m = math.pow(HnswRatio.toDouble, HnswLevels.toDouble).toLong
      s"""
      WITH ${nndIncrCtes.trim},
      $hnswIncrLayerCtes,
      ihnd AS (
        SELECT vec_id FROM embeddings
        WHERE ${graft.text.TextOps.hsqlRaw(
          "'hnsw:' || vec_id::VARCHAR")} % $m = 0),
      ${graft.text.NnDescent.oracleHierServeCtesFrom(AnnK,
        HnswUpBeam, HnswUpHops, HnswBeam, HnswHops, HnswLevels,
        coarseCte = "ihnd", layerCte = l => s"il${l}gf",
        baseCte = "ingf", pfx = "ih").trim}
      SELECT qid, vid, cos_sim, rnk, n_scored FROM ihrv
      ORDER BY qid, rnk"""
    }) { (s, dir) =>
      hnswIncrServed(s, dir)
        .select(col("qid"), col("vid"), col("cos_sim"),
          col("rnk").cast("long").as("rnk"), col("n_scored"))
        .orderBy("qid", "rnk")
    },


    // Layered drift accounting — the q_e_nnd_drift analog PER LEVEL:
    // how far did the batch move the old layer members' neighborhoods
    // (edge overlap vs the frozen layer graph), how many new members
    // each level absorbed. The rebuild-due dial for the hierarchy: a
    // level whose old-member churn spikes is reshaping and its layer
    // graph should be rebuilt, while untouched levels keep serving.
    Q("q_e_hnsw_incr_drift", Some(s"""
      WITH ${graft.text.NnDescent.oracleVecCtes.trim},
      $hnswIncrLayerCtes,
      ${(1 to HnswLevels).map(l => s"""
      hd${l}b AS (SELECT node, nbr FROM il${l}ok$HnswUpRounds),
      hd${l}f AS (SELECT node, nbr FROM il${l}gf
                  WHERE node < $IncrBase),
      hd${l}o AS (
        SELECT b.node,
               CAST(count(*) AS BIGINT) AS n_base,
               CAST(count(f.nbr) AS BIGINT) AS n_kept
        FROM hd${l}b b LEFT JOIN hd${l}f f
          ON f.node = b.node AND f.nbr = b.nbr
        GROUP BY 1),
      hd${l}r AS (
        SELECT $l AS layer,
               CAST((SELECT count(DISTINCT node) FROM hd${l}b)
                 AS BIGINT) AS n_old,
               CAST((SELECT count(*) FROM il${l}q) AS BIGINT)
                 AS n_new,
               CAST(sum(CASE WHEN n_kept < n_base THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_old_changed,
               round(CAST(sum(CASE WHEN n_kept < n_base THEN 1
                 ELSE 0 END) AS DOUBLE) / count(*), 9)
                 AS changed_frac,
               round(CAST(sum(CAST(n_kept AS DOUBLE) / n_base)
                 AS DOUBLE) / count(*), 9) AS avg_edge_overlap
        FROM hd${l}o)""").mkString(",")}
      SELECT * FROM (${(1 to HnswLevels)
        .map(l => s"SELECT * FROM hd${l}r")
        .mkString("\n        UNION ALL ")})
      ORDER BY layer""")) { (s, dir) =>
      val olds = hnswOldLayers(s, dir)
      val fins = hnswIncrLayers(s, dir)
      (1 to HnswLevels).map { l =>
        val base = olds(l - 1).select("node", "nbr")
        val fin = fins(l - 1).filter(col("node") < IncrBase)
          .select("node", "nbr").withColumn("kept", lit(1L))
        val nNew = t(s, dir, "embeddings")
          .filter(col("vec_id") >= IncrBase
            && graft.text.NnDescent.layerPred(col("vec_id"), l,
              HnswRatio))
          .agg(count(lit(1)).as("n_new"))
        base.join(fin, Seq("node", "nbr"), "left")
          .groupBy("node")
          .agg(count(lit(1)).as("n_base"),
            sum(coalesce(col("kept"), lit(0L))).as("n_kept"))
          .agg(countDistinct("node").as("n_old"),
            sum(when(col("n_kept") < col("n_base"), 1L)
              .otherwise(0L)).as("n_old_changed"),
            round(sum(when(col("n_kept") < col("n_base"), 1.0)
              .otherwise(0.0)) / count(lit(1)), 9).as("changed_frac"),
            round(sum(col("n_kept").cast("double") / col("n_base"))
              / count(lit(1)), 9).as("avg_edge_overlap"))
          .crossJoin(broadcast(nNew))
          .select(lit(l).as("layer"), col("n_old"), col("n_new"),
            col("n_old_changed"), col("changed_frac"),
            col("avg_edge_overlap"))
      }.reduce(_ unionByName _).orderBy("layer")
    },


    // Per-label centroid geometry (posexplode → per-dim means → norms)
    Q("q_e_centroids", Some("""
      WITH ex AS (
        SELECT label, vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      cent AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY 1, 2),
      norms AS (SELECT label, vec_id, sqrt(sum(x*x)) AS nrm
                FROM ex GROUP BY 1, 2)
      SELECT c.label, n.n_vecs,
             round(sqrt(sum(c.m * c.m)), 6) AS centroid_norm,
             any_value(n.mean_norm) AS mean_norm
      FROM cent c JOIN (
        SELECT label, count(*) AS n_vecs, round(avg(nrm), 6) AS mean_norm
        FROM norms GROUP BY 1) n ON c.label = n.label
      GROUP BY 1, 2 ORDER BY 1""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          Similarity.asDouble(col("embedding")).as("v"))
      val ex = e.select(col("label"), col("vec_id"),
        posexplode(col("v")).as(Seq("i", "x")))
      val cent = ex.groupBy("label", "i").agg(avg("x").as("m"))
      val norms = e.select(col("label"), col("vec_id"),
        Similarity.norm(col("v")).as("nrm"))
      val perLabel = norms.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), round(avg("nrm"), 6).as("mean_norm"))
      cent.groupBy("label")
        .agg(round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm"))
        .join(perLabel, Seq("label"))
        .select("label", "n_vecs", "centroid_norm", "mean_norm")
        .orderBy("label")
    },


    // Symmetric int8 embedding quantization audit: per-vector scale
    // (127/max|x|), portable round-half-up (floor(x+0.5)) quantize →
    // dequantize, reconstruction RMSE + max abs error — the storage-
    // compression check a 100-TB embedding pipeline runs before
    // switching dtypes. Pure per-vector aggregation, no shuffle beyond
    // the vec_id group.
    Q("q_e_quantize", Some("""
      WITH ex AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      mx AS (SELECT vec_id, max(abs(x)) AS maxabs, count(*) AS n_dims
             FROM ex GROUP BY 1),
      qd AS (
        SELECT e.vec_id, mx.n_dims, 127.0 / mx.maxabs AS scale,
               e.x,
               greatest(-127.0, least(127.0,
                 floor(e.x * (127.0 / mx.maxabs) + 0.5))) AS q
        FROM ex e JOIN mx ON e.vec_id = mx.vec_id
        WHERE mx.maxabs > 0)
      SELECT vec_id, CAST(any_value(n_dims) AS BIGINT) AS n_dims,
             round(any_value(scale), 9) AS scale,
             round(sqrt(avg(pow(x - q / scale, 2))), 9) AS rmse,
             round(max(abs(x - q / scale)), 9) AS max_abs_err
      FROM qd GROUP BY vec_id ORDER BY vec_id""")) { (s, dir) =>
      val ex = t(s, dir, "embeddings").select(col("vec_id"),
        explode(Similarity.asDouble(col("embedding"))).as("x"))
      val mx = ex.groupBy("vec_id").agg(max(abs(col("x"))).as("maxabs"),
        count(lit(1)).as("n_dims"))
      val qd = ex.join(mx, "vec_id").filter(col("maxabs") > 0)
        .withColumn("scale", lit(127.0) / col("maxabs"))
        .withColumn("q", greatest(lit(-127.0),
          least(lit(127.0), floor(col("x") * col("scale") + 0.5))))
      qd.groupBy("vec_id").agg(
          first("n_dims").as("n_dims"),
          round(first("scale"), 9).as("scale"),
          round(sqrt(avg(pow(col("x") - col("q") / col("scale"), 2))), 9)
            .as("rmse"),
          round(max(abs(col("x") - col("q") / col("scale"))), 9)
            .as("max_abs_err"))
        .orderBy("vec_id")
    },


    // LSH-bucketed ANN (sign hyperplanes, bucket equi-join, top-5/bucket)
    Q("q_e_ann_lsh", Some(s"""
      WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      proj AS (
        SELECT vec_id, j, sum(x * (CASE WHEN
          ${hsql("'hp_' || j || '_' || i")} % 2 = 0
          THEN 1.0 ELSE -1.0 END)) AS p
        FROM ex, range(8) rj(j) GROUP BY 1, 2),
      buckets AS (
        SELECT vec_id, CAST(sum(CASE WHEN p > 0
          THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY 1),
      norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ex GROUP BY 1),
      q AS (SELECT vec_id AS qid, bucket FROM buckets WHERE vec_id < 32),
      cand AS (
        SELECT q.qid, b.vec_id AS vid FROM q JOIN buckets b
          ON q.bucket = b.bucket AND q.qid <> b.vec_id),
      dots AS (
        SELECT c.qid, c.vid, sum(qe.x * ve.x) AS dot
        FROM cand c JOIN ex qe ON qe.vec_id = c.qid
                    JOIN ex ve ON ve.vec_id = c.vid AND qe.i = ve.i
        GROUP BY 1, 2),
      cosd AS (
        SELECT qid, vid, round(dot / (nq.nrm * nv.nrm), 6) AS cos_sim
        FROM dots JOIN norms nq ON qid = nq.vec_id
                  JOIN norms nv ON vid = nv.vec_id)
      SELECT qid, vid, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cos_sim DESC, vid) AS rnk FROM cosd)
      WHERE rnk <= 5 ORDER BY qid, rnk""")) { (s, dir) =>
      Similarity.annLsh(t(s, dir, "embeddings"), col("vec_id") < 32, 5)
        .select("qid", "vid", "cos_sim", "rnk")
        .orderBy("qid", "rnk")
    },


    // IVF-Flat ANN: seeded KMeans coarse quantizer, nProbe nearest cells
    // per query, exact cosine inside probed cells. Run at nProbe = nCells
    // the IVF contract makes it exactly brute force, so the brute-force
    // SQL IS its oracle — the full KMeans/assign/probe machinery is
    // driver-verified (probe-limited recall is locked by SimilaritySpec).
    Q("q_e_ann_ivf", Some(s"""
      WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ex GROUP BY 1),
      q AS (SELECT * FROM ex WHERE vec_id < $AnnQ),
      dots AS (
        SELECT q.vec_id AS qid, e.vec_id AS vid, sum(q.x * e.x) AS dot
        FROM q JOIN ex e ON q.i = e.i AND q.vec_id <> e.vec_id
        GROUP BY 1, 2),
      cosd AS (
        SELECT qid, vid, round(dot / (nq.nrm * nv.nrm), 6) AS cos_sim
        FROM dots JOIN norms nq ON qid = nq.vec_id
                  JOIN norms nv ON vid = nv.vec_id)
      SELECT qid, vid, cos_sim, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cos_sim DESC, vid) AS rnk FROM cosd)
      WHERE rnk <= $AnnK ORDER BY qid, rnk""")) { (s, dir) =>
      ivfTop5(s, dir)
        .select("qid", "vid", "cos_sim", "rnk")
        .orderBy("qid", "rnk")
    },


    // Product-quantization ANN (Similarity.pqTopK): 4 subspaces × 16
    // dims, 8 deterministic seed centroids per subspace, encode =
    // per-subspace argmin, query = ADC table-lookup sum. Every distance
    // sums per-term through DECIMAL → rounded values are aggregation-
    // order-free on both engines. 64 f32 dims compress to 4 codes/vec.
    Q("q_e_pq_topk", Some(s"""
      WITH $pqCtes
      SELECT qid, vid, adc, rnk FROM pqranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      pqTop5(s, dir)
        .select("qid", "vid", "adc", "rnk")
        .orderBy("qid", "rnk")
    },


    // IVF-PQ (Similarity.ivfPqTopK): the composed production index —
    // 8 coarse cells route each query to its 2 nearest cells; only the
    // PQ codes of vectors in probed cells are ADC-scored. Non-residual
    // encoding + seed centroids keep the whole path SQL-expressible;
    // the nProbe=nCells ≡ pqTopK contract is locked in SimilaritySpec.
    Q("q_e_ann_ivfpq", Some(ivfPqOracle)) { (s, dir) =>
      // reads the shared ADC shortlist (k = RerankR ⊇ AnnK; identical
      // scoring + rank order, k only truncates) — the stored-artifact
      // shape every other ivfpq consumer already uses, instead of
      // re-running the whole encode+ADC pipeline per query
      ivfPqCands(s, dir).filter(col("rnk") <= AnnK)
        .select("qid", "vid", "adc", "rnk")
        .orderBy("qid", "rnk")
    },


    // The streaming ANN SERVING column program (StreamingAnnServe:
    // per-row probe ordering + ADC table lookups against the standing
    // (vid, cell, codes) index), run in batch mode against the SAME
    // DuckDB oracle as q_e_ann_ivfpq — proving the serving path's
    // per-row formulation is bit-identical to the batch index's
    // explode/groupBy formulation, not just fixture-close. The
    // streaming execution of the identical program is locked in
    // StreamingSpec.
    Q("q_e_ann_serve", Some(ivfPqOracle)) { (s, dir) =>
      import graft.streaming.StreamingAnnServe
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = serveArtifacts(s, dir)
      val cand = StreamingAnnServe.scoreCandidates(
        emb.filter(col("vec_id") < AnnQ), annServeIndex(s, dir),
        cells, cb, nProbe = IvfNProbe)
      val w = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
      cand.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= AnnK)
        .select("qid", "vid", "adc", "rnk")
        .orderBy("qid", "rnk")
    },


    // Exact re-rank refinement (Similarity.rerankExact) — the stage a
    // production IVF-PQ server runs after ADC: the top-16 ADC
    // candidates per query join their STORED full vectors and exact
    // squared-L2 (the same per-term-decimal d2 as the ground truth)
    // picks the final top-5. The full-vector cost is paid only on
    // queries×16 rows, never the corpus. Oracle composes the IVF-PQ
    // chain with the exact-distance re-score.
    Q("q_e_ann_rerank", Some(s"""
      WITH $ivfPqCtes, $rerankCtes
      SELECT qid, vid, adc, d2, rnk FROM rranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      rerankTop5(s, dir)
        .select("qid", "vid", "adc", "d2", "rnk")
        .orderBy("qid", "rnk")
    },


    // The A/B row the re-rank stage exists for: recall@5 vs the exact
    // ground truth of (a) the raw ADC top-5 and (b) the re-ranked
    // top-5 from the same candidate list — "re-rank buys back
    // quantization recall" as an oracle-checked fact. Both rankings
    // read the ONE shared ADC short-list stage.
    Q("q_e_rerank_gain", Some(s"""
      WITH $ivfPqCtes, $rerankCtes,
      gqfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex WHERE vec_id < $AnnQ),
      gd2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM ex e JOIN gqfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      gexact5 AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM gd2full) WHERE rn <= $AnnK),
      adc5 AS (SELECT qid, vid FROM ranked2 WHERE rnk <= $AnnK),
      rer5 AS (SELECT qid, vid FROM rranked WHERE rnk <= $AnnK)
      SELECT * FROM (
        SELECT 'ivfpq_adc' AS variant,
               count(DISTINCT e.qid) AS n_queries,
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
                 AS recall_at_5
        FROM gexact5 e LEFT JOIN adc5 p
          ON e.qid = p.qid AND e.vid = p.vid
        UNION ALL
        SELECT 'ivfpq_rerank', count(DISTINCT e.qid),
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
        FROM gexact5 e LEFT JOIN rer5 p
          ON e.qid = p.qid AND e.vid = p.vid)
      ORDER BY variant""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val variants = Seq(
        "ivfpq_adc" -> ivfPqCands(s, dir).filter(col("rnk") <= AnnK),
        "ivfpq_rerank" -> rerankTop5(s, dir))
      recallHits(exactTop5(s, dir), tagArms("variant", variants),
          variants.map(_._1).toDF("variant"))
        .groupBy("variant")
        .agg(countDistinct(col("qid")).as("n_queries"),
          round(sum("n_hits").cast("double") / sum("n_true"), 6)
            .as("recall_at_5"))
        .orderBy("variant")
    },


    // The SERVING-path re-rank (StreamingAnnServe.scoreCandidates →
    // Similarity.rerankServe): the per-row serving formulation of the
    // candidate scoring feeds the same ADC-short-list + stored-vector
    // exact re-score, run in batch mode against the IDENTICAL oracle
    // as q_e_ann_rerank — proving the served refinement is
    // bit-identical to the batch operator, exactly as q_e_ann_serve
    // does for the unrefined ADC answer. The streamed execution (query
    // stream → stream-static candidate join → per-micro-batch rerank
    // via foreachBatch) is locked in StreamingSpec.
    Q("q_e_ann_serve_rerank", Some(s"""
      WITH $ivfPqCtes, $rerankCtes
      SELECT qid, vid, adc, d2, rnk FROM rranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      import graft.streaming.StreamingAnnServe
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = serveArtifacts(s, dir)
      val cands = StreamingAnnServe.scoreCandidates(
        emb.filter(col("vec_id") < AnnQ), annServeIndex(s, dir),
        cells, cb, nProbe = IvfNProbe)
      Similarity.rerankServe(cands, emb.filter(col("vec_id") < AnnQ),
          emb, rerankR = RerankR, k = AnnK)
        .select("qid", "vid", "adc", "d2", "rnk")
        .orderBy("qid", "rnk")
    },


    // Residual IVF-PQ (Similarity.ivfPqResidualTopK — faiss's
    // by_residual=true, the production default): Lloyd-FITTED coarse
    // cells (LloydKmeans on the full vectors), PQ codes over
    // r = x − centroid(cell(x)) against per-subspace Lloyd residual
    // codebooks, ADC tables keyed per probed cell. The oracle
    // reproduces the ENTIRE path — coarse fit, residual codebook fits,
    // encode, cell-keyed ADC — via composed LloydKmeans CTE chains.
    Q("q_e_ann_ivfpq_res", Some(s"""
      WITH $exCte, $residIvfPqCtes
      SELECT qid, vid, adc, rnk FROM resranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      residCands(s, dir).filter(col("rnk") <= AnnK)
        .select("qid", "vid", "adc", "rnk")
        .orderBy("qid", "rnk")
    },


    // Residual IVF-PQ + exact re-rank — the full production serving
    // stack: residual ADC short-lists top-R, stored full vectors
    // re-score exactly, top-k emits. Same R and k as the non-residual
    // re-rank query, so the two are directly comparable.
    Q("q_e_ann_ivfpq_res_rerank", Some(s"""
      WITH $exCte, $residIvfPqCtes, $residRerankCtes
      SELECT qid, vid, adc, d2, rnk FROM resrranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      residRerankTop5(s, dir)
        .select("qid", "vid", "adc", "d2", "rnk")
        .orderBy("qid", "rnk")
    },


    // The residual SERVING path (StreamingAnnServe.indexOfResidual →
    // scoreCandidatesResidual): per-row residual encode against the
    // standing (vid, cell, codes) index and per-probed-cell query ADC
    // tables, run in batch mode against the IDENTICAL oracle as
    // q_e_ann_ivfpq_res — proving the served residual formulation is
    // bit-identical to the batch operator. Streamed execution locked
    // in StreamingSpec.
    Q("q_e_ann_serve_res", Some(s"""
      WITH $exCte, $residIvfPqCtes
      SELECT qid, vid, adc, rnk FROM resranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      import graft.streaming.StreamingAnnServe
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = residArtifacts(s, dir)
      val cand = StreamingAnnServe.scoreCandidatesResidual(
        emb.filter(col("vec_id") < AnnQ), annServeResIndex(s, dir),
        cells, cb, nProbe = IvfNProbe)
      val w = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
      cand.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= AnnK)
        .select("qid", "vid", "adc", "rnk")
        .orderBy("qid", "rnk")
    },


    // ... and with the exact re-rank refinement composed in (the full
    // residual serving stack, the engine's best-recall configuration:
    // 0.363 at sf0.01 vs 0.231 for the r8 non-residual serve+rerank),
    // against the identical oracle as q_e_ann_ivfpq_res_rerank.
    Q("q_e_ann_serve_res_rerank", Some(s"""
      WITH $exCte, $residIvfPqCtes, $residRerankCtes
      SELECT qid, vid, adc, d2, rnk FROM resrranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      import graft.streaming.StreamingAnnServe
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = residArtifacts(s, dir)
      val cands = StreamingAnnServe.scoreCandidatesResidual(
        emb.filter(col("vec_id") < AnnQ), annServeResIndex(s, dir),
        cells, cb, nProbe = IvfNProbe)
      Similarity.rerankServe(cands, emb.filter(col("vec_id") < AnnQ),
          emb, rerankR = RerankR, k = AnnK)
        .select("qid", "vid", "adc", "d2", "rnk")
        .orderBy("qid", "rnk")
    },


    // The A/B ladder residual encoding exists for — recall@5 vs exact
    // ground truth of (1) the seed-codebook non-residual index (r8's
    // production path), (2) fitted coarse + fitted ABSOLUTE codebook
    // (the control that isolates the residual effect from the fitting
    // effect), (3) fitted residual ADC, (4) residual ADC + exact
    // re-rank — all at equal (nProbe, R, k). Rows 2→3 is the residual
    // gain as an oracle-checked fact; measured at sf0.01:
    // 0.113 → 0.156 → 0.188 → 0.363.
    Q("q_e_ivfpq_res_gain", Some(s"""
      WITH $ivfPqCtes, $lloydPqCtes, $residIvfPqCtes, $residRerankCtes,
      fadc AS (
        SELECT ca.qid, ca.vid,
               round(CAST(sum(CAST(q.qd2 AS DECIMAL(38,18))) AS DOUBLE),
                 6) AS adc
        FROM rescand ca JOIN lcodes k ON k.vid = ca.vid
             JOIN lqd2 q ON q.qid = ca.qid AND q.m = k.m AND q.c = k.c
        GROUP BY 1, 2),
      franked AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY adc, vid) AS rnk FROM fadc),
      ggqfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex WHERE vec_id < $AnnQ),
      ggd2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM ex e JOIN ggqfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      ggexact AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM ggd2full) WHERE rn <= $AnnK),
      v1 AS (SELECT qid, vid FROM ranked2 WHERE rnk <= $AnnK),
      v2 AS (SELECT qid, vid FROM franked WHERE rnk <= $AnnK),
      v3 AS (SELECT qid, vid FROM resranked WHERE rnk <= $AnnK),
      v4 AS (SELECT qid, vid FROM resrranked WHERE rnk <= $AnnK)
      SELECT * FROM (
        SELECT '1_seed_nonres_adc' AS variant,
               count(DISTINCT e.qid) AS n_queries,
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
                 AS recall_at_5
        FROM ggexact e LEFT JOIN v1 p
          ON e.qid = p.qid AND e.vid = p.vid
        UNION ALL
        SELECT '2_fitted_nonres_adc', count(DISTINCT e.qid),
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
        FROM ggexact e LEFT JOIN v2 p
          ON e.qid = p.qid AND e.vid = p.vid
        UNION ALL
        SELECT '3_fitted_res_adc', count(DISTINCT e.qid),
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
        FROM ggexact e LEFT JOIN v3 p
          ON e.qid = p.qid AND e.vid = p.vid
        UNION ALL
        SELECT '4_fitted_res_rerank', count(DISTINCT e.qid),
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
        FROM ggexact e LEFT JOIN v4 p
          ON e.qid = p.qid AND e.vid = p.vid)
      ORDER BY variant""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val emb = t(s, dir, "embeddings")
      val (cells, _) = residArtifacts(s, dir)
      val variants = Seq(
        "1_seed_nonres_adc" -> ivfPqCands(s, dir).filter(col("rnk") <= AnnK),
        "2_fitted_nonres_adc" -> Similarity.ivfPqFittedTopK(emb,
          col("vec_id") < AnnQ, AnnK, IvfNProbe, cells, lloydCb(s, dir)),
        "3_fitted_res_adc" -> residCands(s, dir).filter(col("rnk") <= AnnK),
        "4_fitted_res_rerank" -> residRerankTop5(s, dir))
      recallHits(exactTop5(s, dir), tagArms("variant", variants),
          variants.map(_._1).toDF("variant"))
        .groupBy("variant")
        .agg(countDistinct(col("qid")).as("n_queries"),
          round(sum("n_hits").cast("double") / sum("n_true"), 6)
            .as("recall_at_5"))
        .orderBy("variant")
    },


    // The recall-vs-cost FRONTIER the serving defaults are chosen
    // from: for each (nProbe, rerank R) rung, the served residual
    // stack's recall@5 against the exact ground truth and the number
    // of candidates it had to scan (the cost axis: ADC rows paid ≈
    // corpus·nProbe/nCells per query, plus R full-vector re-scores).
    // Engine rows run the SERVING program (scoreCandidatesResidual →
    // rerankServe) per rung; the oracle appends one probe tail per
    // nProbe to the shared residual fit chain and composes the rerank
    // per rung — every rung is the same bit-exact path the standing
    // q_e_ann_serve_res_rerank query serves at the promoted defaults.
    Q("q_e_ann_frontier", Some {
      val rerankBlocks = FrontierRungs.map { case (np, rr) =>
        val lbl = s"np${np}_r$rr"
        s"""
      fr_$lbl AS (
        SELECT a.qid, a.vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM (SELECT qid, vid FROM resranked_p$np WHERE rnk <= $rr) a
             JOIN ex e ON e.vec_id = a.vid
             JOIN fqfull q ON q.qid = a.qid AND q.i = e.i
        GROUP BY 1, 2),
      ft_$lbl AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rnk FROM fr_$lbl) WHERE rnk <= $AnnK)"""
      }.mkString(",")
      val rows = FrontierRungs.map { case (np, rr) =>
        val lbl = s"np${np}_r$rr"
        s"""
        SELECT '$lbl' AS variant,
               count(DISTINCT e.qid) AS n_queries,
               (SELECT count(*) FROM rescand_p$np) AS total_scanned,
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
                 AS recall_at_5
        FROM fexact e LEFT JOIN ft_$lbl p
          ON e.qid = p.qid AND e.vid = p.vid"""
      }.mkString("\n        UNION ALL")
      val tails = FrontierRungs.map(_._1).distinct
        .map(np => residProbeTail(np, s"_p$np")).mkString(",")
      s"""
      WITH $exCte, ${residFitCtes(None)},$tails,
      fqfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex WHERE vec_id < $AnnQ),
      fd2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM ex e JOIN fqfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      fexact AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM fd2full) WHERE rn <= $AnnK),
      $rerankBlocks
      SELECT * FROM ($rows)
      ORDER BY variant"""
    }) { (s, dir) =>
      import graft.streaming.StreamingAnnServe
      val spark = s
      import spark.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < AnnQ)
      val (cells, cb) = residArtifacts(s, dir)
      val rungs = FrontierRungs.map { case (np, rr) =>
        (s"np${np}_r$rr", np, rr) }.toDF("variant", "n_probe", "rerank_r")
      // one scoring pass at the widest nProbe: a rung's candidates are
      // the rows whose cell ranks among its first n_probe probes
      val cand = StreamingAnnServe.probedCandidatesResidual(queries,
          annServeResIndex(s, dir), cells, cb,
          nProbe = FrontierRungs.map(_._1).max)
        .join(broadcast(rungs), col("probe") < col("n_probe"))
      val scanned = cand.groupBy("variant")
        .agg(count(lit(1)).as("total_scanned"))
      val served = Similarity.rerankServeBy(cand, queries, emb,
        Seq("variant"), col("rerank_r"), k = AnnK)
      recallHits(exactTop5(s, dir), served, rungs.select("variant"))
        .groupBy("variant")
        .agg(countDistinct(col("qid")).as("n_queries"),
          round(sum("n_hits").cast("double") / sum("n_true"), 6)
            .as("recall_at_5"))
        .join(scanned, Seq("variant"), "left")
        .select(col("variant"), col("n_queries"),
          coalesce(col("total_scanned"), lit(0L)).as("total_scanned"),
          col("recall_at_5"))
        .orderBy("variant")
    },


    // Incremental index growth (faiss add-without-train): the coarse
    // cells + residual codebooks were fit on the BASE snapshot
    // (vec_id < IncrBase); the delta batch arrived later and was
    // append-encoded against those frozen artifacts into the standing
    // index (annServeIncrIndex = index(base) ∪ index(delta)); queries
    // serve from the union. The oracle fits only on the base
    // (residChainCtes(Some(IncrBase))) and encodes/serves the whole
    // corpus — proving the engine's append path introduces no refit
    // and no re-encode. At 100 TB this is the only viable index
    // lifecycle: per-batch encode is map-only against broadcast
    // artifacts, and the union is a partitioned append to the stored
    // index table.
    Q("q_e_index_incr", Some(s"""
      WITH $exCte, ${residChainCtes(Some(IncrBase))}
      SELECT qid, vid, adc, rnk FROM resranked WHERE rnk <= $AnnK
      ORDER BY qid, rnk""")) { (s, dir) =>
      import graft.streaming.StreamingAnnServe
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = incrArtifacts(s, dir)
      val cand = StreamingAnnServe.scoreCandidatesResidual(
        emb.filter(col("vec_id") < AnnQ), annServeIncrIndex(s, dir),
        cells, cb, nProbe = IvfNProbe)
      val w = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
      cand.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= AnnK)
        .select("qid", "vid", "adc", "rnk")
        .orderBy("qid", "rnk")
    },


    // The quality number the incremental lifecycle is accountable to:
    // recall@5 of the base-fit union index's ADC serve against the
    // exact squared-L2 ground truth — what serving from artifacts fit
    // on 80% of the corpus costs vs the full-fit residual path's
    // hash-checked 0.188 (q_e_ivfpq_res_gain row 3). One oracle row,
    // same ground-truth conventions as the gain ladder.
    Q("q_e_index_recall", Some(s"""
      WITH $exCte, ${residChainCtes(Some(IncrBase))},
      gqfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex WHERE vec_id < $AnnQ),
      gd2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM ex e JOIN gqfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      gexact AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM gd2full) WHERE rn <= $AnnK),
      i5 AS (SELECT qid, vid FROM resranked WHERE rnk <= $AnnK)
      SELECT count(DISTINCT e.qid) AS n_queries,
             round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
               AS recall_at_5
      FROM gexact e LEFT JOIN i5 p
        ON e.qid = p.qid AND e.vid = p.vid""")) { (s, dir) =>
      import graft.streaming.StreamingAnnServe
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = incrArtifacts(s, dir)
      val cand = StreamingAnnServe.scoreCandidatesResidual(
        emb.filter(col("vec_id") < AnnQ), annServeIncrIndex(s, dir),
        cells, cb, nProbe = IvfNProbe)
      val w = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
      val i5 = cand.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= AnnK)
      recallHits(exactTop5(s, dir), i5)
        .agg(countDistinct(col("qid")).as("n_queries"),
          round(sum("n_hits").cast("double") / sum("n_true"), 6)
            .as("recall_at_5"))
    },


    // The refit dial for that add-without-train lifecycle: per batch
    // (base = fit snapshot, delta = appended-unfit), the average
    // squared distance to the assigned coarse cell and the average PQ
    // reconstruction error (Similarity.residualEncodeStats). A delta
    // batch drifting from the fit distribution shows both rising —
    // the operational "time to retrain" signal. On the iid fixture the
    // two batches score close, which is the honest null reading.
    Q("q_e_index_drift", Some(s"""
      WITH $exCte, ${residChainCtes(Some(IncrBase))},
      cdrift AS (
        SELECT pid, round(d2, 6) AS cell_d2 FROM (
          SELECT *, row_number() OVER (PARTITION BY pid
            ORDER BY round(d2, 6), c) AS rn FROM cq_kd_fin)
        WHERE rn = 1),
      edrift AS (
        SELECT vec_id, round(CAST(sum(CAST(d2 AS DECIMAL(38,18)))
          AS DOUBLE), 6) AS enc_err FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY round(d2, 6), c) AS rn FROM rd2) WHERE rn = 1
        GROUP BY 1)
      SELECT CASE WHEN e.vec_id < $IncrBase THEN '1_base'
               ELSE '2_delta' END AS batch,
             count(*) AS n_vecs,
             round(CAST(sum(CAST(c.cell_d2 AS DECIMAL(38,18)))
               AS DOUBLE) / count(*), 6) AS avg_cell_d2,
             round(CAST(sum(CAST(e.enc_err AS DECIMAL(38,18)))
               AS DOUBLE) / count(*), 6) AS avg_enc_err
      FROM edrift e JOIN cdrift c ON c.pid = e.vec_id
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val (cells, cb) = incrArtifacts(s, dir)
      Similarity.residualEncodeStats(emb, cells, cb)
        .withColumn("batch", when(col("vec_id") < IncrBase, "1_base")
          .otherwise("2_delta"))
        .groupBy("batch")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("cell_d2").cast("decimal(38,18)")).cast("double")
            / count(lit(1)), 6).as("avg_cell_d2"),
          round(sum(col("enc_err").cast("decimal(38,18)")).cast("double")
            / count(lit(1)), 6).as("avg_enc_err"))
        .orderBy("batch")
    },


    // PQ recall observability (the quality dial a production PQ
    // deployment watches before trusting the compressed index):
    // recall@5 of the ADC ranking against the EXACT squared-L2 top-5 —
    // same metric family as ADC, so the number isolates quantization
    // loss, not metric mismatch. Exact distances use the same per-term
    // decimal sums as the PQ path.
    Q("q_e_pq_recall", Some(s"""
      WITH $pqCtes,
      qfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex WHERE vec_id < $AnnQ),
      d2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM ex e JOIN qfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      exact5 AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM d2full) WHERE rn <= $AnnK),
      pq5 AS (SELECT qid, vid FROM pqranked WHERE rnk <= $AnnK)
      SELECT e.qid,
             CAST(count(p.vid) AS BIGINT) AS n_hits,
             round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
               AS recall_at_5
      FROM exact5 e LEFT JOIN pq5 p ON e.qid = p.qid AND e.vid = p.vid
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      recallHits(exactTop5(s, dir), pqTop5(s, dir))
        .select(col("qid"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_true"), 6)
            .as("recall_at_5"))
        .orderBy("qid")
    },


    // Codebook-quality A/B (VERDICT r6 #4), promoted from rows-only to
    // a FULL hash check: mean recall@5 of the seed-slice codebook vs a
    // DETERMINISTIC per-subspace-Lloyd-fitted codebook, both against
    // the same exact squared-L2 top-5 ground truth. The oracle
    // reproduces the entire fitted path — four unrolled Lloyd chains
    // (one per subspace), fitted-codebook encode, ADC ranking, recall
    // aggregation — bit-for-bit, so "an iteratively fitted codebook
    // beats the unfitted one" is now an oracle-checked fact, not just
    // a spec invariant. The MLlib-KMeans codebook (engine-private
    // k-means|| init) keeps its own driver row below
    // (q_e_pq_recall_mllib) + the SimilaritySpec invariant.
    Q("q_e_pq_recall_cmp", Some(s"""
      WITH $pqCtes, $lloydPqCtes,
      qfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM ex WHERE vec_id < $AnnQ),
      d2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM ex e JOIN qfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      exact5 AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM d2full) WHERE rn <= $AnnK),
      seed5 AS (SELECT qid, vid FROM pqranked WHERE rnk <= $AnnK),
      lloyd5 AS (SELECT qid, vid FROM lranked WHERE rnk <= $AnnK)
      SELECT * FROM (
        SELECT 'seed_slice' AS codebook,
               count(DISTINCT e.qid) AS n_queries,
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
                 AS recall_at_5
        FROM exact5 e LEFT JOIN seed5 p
          ON e.qid = p.qid AND e.vid = p.vid
        UNION ALL
        SELECT 'lloyd_fit', count(DISTINCT e.qid),
               round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
        FROM exact5 e LEFT JOIN lloyd5 p
          ON e.qid = p.qid AND e.vid = p.vid)
      ORDER BY codebook""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val codebooks = Seq("seed_slice" -> pqTop5(s, dir),
        "lloyd_fit" -> lloydTop5(s, dir))
      recallHits(exactTop5(s, dir), tagArms("codebook", codebooks),
          codebooks.map(_._1).toDF("codebook"))
        .groupBy("codebook")
        .agg(countDistinct(col("qid")).as("n_queries"),
          round(sum("n_hits").cast("double") / sum("n_true"), 6)
            .as("recall_at_5"))
        .orderBy("codebook")
    },


    // The MLlib-KMeans codebook's recall row (the production-library
    // fit whose k-means|| init + float summation order are
    // engine-private — same caveat as q_kmeans_clusters, so rows-only
    // by nature). Its "must not trail the seed codebook" invariant is
    // spec-locked; its DETERMINISTIC twin above is fully hash-checked.
    Q("q_e_pq_recall_mllib", None) { (s, dir) =>
      recallHits(exactTop5(s, dir), kmTop5(s, dir))
        .agg(lit("mllib_kmeans").as("codebook"),
          countDistinct(col("qid")).as("n_queries"),
          round(sum("n_hits").cast("double") / sum("n_true"), 6)
            .as("recall_at_5"))
    },


    // Corpus-vs-corpus ANN pairs (the near-dup shape: no broadcastable
    // query side — banded bucket equi-join with a hot-bucket cap;
    // 2 OR-amplification bands driver-verify the banded path)
    Q("q_e_ann_pairs", Some(s"""
      WITH $annPairCtes,
      cosd AS (
        SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM dots JOIN norms na ON id_a = na.vec_id
                  JOIN norms nb ON id_b = nb.vec_id)
      SELECT id_a, id_b, cos_sim FROM cosd
      WHERE cos_sim >= 0.0 ORDER BY id_a, id_b""")) { (s, dir) =>
      annPairs(s, dir).filter(col("cos_sim") >= 0.0)
        .orderBy("id_a", "id_b")
    },


    // Dedup-threshold calibration histogram: candidate-pair cosine
    // similarities in 0.05 bins with a top-down cumulative count — the
    // curve you read to pick the semantic-dedup τ for a removal budget
    // ("τ = 0.40 drops N pairs"). The window runs over ~40 bin rows
    // (already aggregated), not the pair set.
    Q("q_e_sim_hist", Some(s"""
      WITH $annPairCtes,
      cosd AS (
        SELECT round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM dots JOIN norms na ON id_a = na.vec_id
                  JOIN norms nb ON id_b = nb.vec_id),
      hist AS (
        SELECT CAST(floor(cos_sim / 0.05) AS BIGINT) AS bin,
               count(*) AS n
        FROM cosd GROUP BY 1)
      SELECT bin, round(CAST(bin AS DOUBLE) * 0.05, 2) AS bin_lo, n,
             CAST(sum(n) OVER (ORDER BY bin DESC) AS BIGINT)
               AS n_at_or_above
      FROM hist ORDER BY bin""")) { (s, dir) =>
      annPairs(s, dir)
        .select(floor(col("cos_sim") / 0.05).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        // suffix sum WITHOUT the single-task unpartitioned window
        // (Wins.boundedRanks cumSum over the ≤40-bin histogram —
        // exact long sums, bit-identical)
        .transform(df => graft.ops.Wins.boundedRanks(df,
          Seq((col("bin"), false)),
          cumSum = Some((col("n"), "__cum"))))
        .select(col("bin"), round(col("bin") * 0.05, 2).as("bin_lo"),
          col("n"), col("__cum").cast("long").as("n_at_or_above"))
        .orderBy("bin")
    },


    // SemDeDup-style semantic dedup: ANN near-dup pairs above a cosine
    // threshold → connected components → one canonical keeper per
    // embedding cluster. Same banded bucket equi-join as q_e_ann_pairs
    // (nothing all-pairs) + the same min-label/pointer-jump components
    // as q_d_components — composition, not new machinery. τ resolves
    // through `dedup.semantic.min_cos` (0.35 — scaled to the synthetic
    // random embeddings; production spaces override to ≈ 0.95).
    Q("q_e_semantic_dedup", Some(s"""
      WITH RECURSIVE $annPairCtes,
      sem AS (
        SELECT id_a AS d1, id_b AS d2
        FROM dots JOIN norms na ON id_a = na.vec_id
                  JOIN norms nb ON id_b = nb.vec_id
        WHERE round(dot / (na.nrm * nb.nrm), 6) >= $SemMinCos),
      edges AS (
        SELECT d1 AS a, d2 AS b FROM sem UNION SELECT d2, d1 FROM sem),
      reach (a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (
        SELECT v.vec_id,
               least(v.vec_id, coalesce(min(r.b), v.vec_id)) AS comp_id
        FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
        GROUP BY v.vec_id)
      SELECT vec_id, comp_id,
             count(*) OVER (PARTITION BY comp_id) AS cluster_size,
             vec_id = comp_id AS is_canonical
      FROM comp ORDER BY vec_id""")) { (s, dir) =>
      semComps(s, dir).orderBy("vec_id")
    },


    // Hot-bucket-guard observability: per-band occupancy + the fraction
    // of docs the maxBucket cap would drop (the silent-recall-loss alarm)
    Q("q_e_ann_stats", Some(s"""
      WITH $annBucketCtes
      SELECT CAST(band_idx AS BIGINT) AS band_idx,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(bn) AS BIGINT) AS n_docs,
             CAST(max(bn) AS BIGINT) AS max_bucket,
             CAST(sum(CASE WHEN bn > 24 THEN bn ELSE 0 END) AS BIGINT)
               AS dropped_docs,
             round(CAST(sum(CASE WHEN bn > 24 THEN bn ELSE 0 END) AS DOUBLE)
               / sum(bn), 9) AS dropped_frac
      FROM bsz GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      Similarity.annBucketStats(t(s, dir, "embeddings"),
          maxBucket = 24, bits = 8, nBands = 2)
        .withColumn("band_idx", col("band_idx").cast("long"))
        .select("band_idx", "n_buckets", "n_docs", "max_bucket",
          "dropped_docs", "dropped_frac")
        .orderBy("band_idx")
    },


    // Contrastive training-pair mining (the SimCSE/E5-style
    // hard-negative step): for every vector with BOTH a near-dup mate
    // (candidate cosine ≥ the semantic-dedup τ — the positive) and a
    // below-τ candidate (the HARD negative: the closest non-duplicate,
    // exactly the pair a contrastive loss learns the most from), emit
    // (anchor, positive, hard negative, margin). Mined entirely from
    // the shared bucketed ANN candidate stage — candidate generation
    // cost is already paid, selection is two per-anchor argmax windows
    // over candidate lists (bounded by the bucket cap, never corpus
    // fanout).
    Q("q_e_contrastive", Some(s"""
      WITH $annPairCtes,
      ctc AS (
        SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cs
        FROM dots JOIN norms na ON id_a = na.vec_id
                  JOIN norms nb ON id_b = nb.vec_id),
      ctsym AS (
        SELECT id_a AS a, id_b AS b, cs FROM ctc
        UNION ALL
        SELECT id_b, id_a, cs FROM ctc),
      ctpos AS (
        SELECT a, b AS pos_id, cs AS pos_cos FROM (
          SELECT *, row_number() OVER (PARTITION BY a
            ORDER BY cs DESC, b) AS rn
          FROM ctsym WHERE cs >= $SemMinCos) WHERE rn = 1),
      ctneg AS (
        SELECT a, b AS neg_id, cs AS neg_cos FROM (
          SELECT *, row_number() OVER (PARTITION BY a
            ORDER BY cs DESC, b) AS rn
          FROM ctsym WHERE cs < $SemMinCos) WHERE rn = 1)
      SELECT a AS anchor_id, pos_id, pos_cos, neg_id, neg_cos,
             round(pos_cos - neg_cos, 6) AS margin
      FROM ctpos JOIN ctneg USING (a) ORDER BY anchor_id""")) {
      (s, dir) =>
      val sym = annPairs(s, dir).select(col("id_a").as("a"),
          col("id_b").as("b"), col("cos_sim").as("cs"))
        .unionByName(annPairs(s, dir).select(col("id_b").as("a"),
          col("id_a").as("b"), col("cos_sim").as("cs")))
      val w = Window.partitionBy("a").orderBy(col("cs").desc, col("b"))
      val pos = sym.filter(col("cs") >= SemMinCos)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("a"), col("b").as("pos_id"), col("cs").as("pos_cos"))
      val neg = sym.filter(col("cs") < SemMinCos)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("a"), col("b").as("neg_id"), col("cs").as("neg_cos"))
      pos.join(neg, "a")
        .select(col("a").as("anchor_id"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
        .orderBy("anchor_id")
    },


    // Johnson–Lindenstrauss random projection (Achlioptas ±1 variant,
    // text.RandomProjection): per-vector norm preservation report —
    // the pre-ANN dimensionality reduction, with the sign matrix
    // DERIVED from md5 parity so the whole operator (matrix included)
    // is hash-checked. The matrix rides the plan as dOut literal
    // coefficient arrays feeding the codegen'd dot product: map-only,
    // no shuffle, no model state. Projections round-6 at the seam so
    // downstream sums see identical doubles on both engines.
    Q("q_e_rp_norms", Some(s"""
      WITH $rpCtes,
      rno AS (SELECT vec_id, sum(x * x) AS o2 FROM rex GROUP BY 1),
      rnp AS (SELECT vec_id, sum(y * y) AS p2 FROM rpj GROUP BY 1)
      SELECT r.vec_id, $RpOutDim AS d_out,
             round(o2, 6) AS orig_sq, round(p2, 6) AS proj_sq,
             round(p2 / o2, 6) AS norm_ratio
      FROM rno r JOIN rnp USING (vec_id) ORDER BY vec_id""")) {
      (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val proj = rpProjected(s, dir)
      proj.select(col("vec_id"), lit(RpOutDim).as("d_out"),
          round(graft.functions.VecOps.dot(v, v), 6).as("orig_sq"),
          round(graft.functions.VecOps.dot(col("yr"), col("yr")), 6)
            .as("proj_sq"),
          round(graft.functions.VecOps.dot(col("yr"), col("yr"))
            / graft.functions.VecOps.dot(v, v), 6).as("norm_ratio"))
        .orderBy("vec_id")
    },


    // J-L distortion, measured: pairwise squared-distance ratio
    // projected/original over the capped pair sample — the
    // concentration the lemma promises (mean ≈ 1, spread O(√(1/d)))
    // as an observability row, the ANN-recall-ladder pattern applied
    // to the projection. Pair generation is the capped broadcast
    // cross the HDBSCAN family uses; everything downstream is one
    // aggregate.
    Q("q_e_rp_distortion", Some(s"""
      WITH $rpCtes,
      rod AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               sum((a.x - b.x) * (a.x - b.x)) AS d2
        FROM rex a JOIN rex b ON a.i = b.i AND a.vec_id < b.vec_id
        WHERE a.vec_id < $RpPairCap AND b.vec_id < $RpPairCap
        GROUP BY 1, 2),
      rpd AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               sum((a.y - b.y) * (a.y - b.y)) AS d2
        FROM rpj a JOIN rpj b ON a.j = b.j AND a.vec_id < b.vec_id
        WHERE a.vec_id < $RpPairCap AND b.vec_id < $RpPairCap
        GROUP BY 1, 2),
      rr AS (
        SELECT round(p.d2 / o.d2, 6) AS ratio
        FROM rod o JOIN rpd p ON o.ia = p.ia AND o.ib = p.ib
        WHERE o.d2 > 0)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             round(CAST(sum(CAST(ratio AS DECIMAL(38,9))) AS DOUBLE)
               / count(*), 6) AS mean_ratio,
             round(min(ratio), 6) AS min_ratio,
             round(max(ratio), 6) AS max_ratio,
             round(CAST(sum(CASE WHEN ratio BETWEEN 0.5 AND 2.0
               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9)
               AS frac_within_2x
      FROM rr""")) { (s, dir) =>
      val base = rpProjected(s, dir).filter(col("vec_id") < RpPairCap)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"), col("yr"))
      val pairs = base.select(col("vec_id").as("ia"), col("v").as("va"),
          col("yr").as("pa"))
        .join(broadcast(base.select(col("vec_id").as("ib"),
          col("v").as("vb"), col("yr").as("pb"))),
          col("ia") < col("ib"))
        // zero guard (both engines: the oracle's rr has o.d2 > 0):
        // two identical embeddings inside the pair cap give original
        // d2 = 0 → NaN/Inf ratio in Spark and an Infinity→DECIMAL
        // cast failure in DuckDB; a zero-distance pair carries no
        // distortion information, so drop it on both sides
        .filter(graft.functions.VecOps.sqDist(col("va"), col("vb")) > 0)
      val ratio = round(
        graft.functions.VecOps.sqDist(col("pa"), col("pb"))
          / graft.functions.VecOps.sqDist(col("va"), col("vb")), 6)
      pairs.select(ratio.as("ratio"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("ratio").cast("decimal(38,9)")).cast("double")
            / count(lit(1)), 6).as("mean_ratio"),
          round(min("ratio"), 6).as("min_ratio"),
          round(max("ratio"), 6).as("max_ratio"),
          round(sum(when(col("ratio").between(0.5, 2.0), 1.0)
            .otherwise(0.0)) / count(lit(1)), 9).as("frac_within_2x"))
    },


    // RP as pre-ANN, measured: top-5 by squared L2 in the PROJECTED
    // 16-dim space vs the exact full-dim truth — the recall ladder
    // pattern applied to the projection (what a 4× cheaper distance
    // costs in recall). The projected search is the same broadcast-
    // query shape as the exact stage at a quarter of the per-pair
    // arithmetic; at production scale RP composes in FRONT of
    // IVF/PQ — this row prices the first stage alone.
    Q("q_e_rp_recall", Some(s"""
      WITH $rpCtes,
      rq AS (SELECT vec_id AS qid, j, y AS qy FROM rpj
             WHERE vec_id < $AnnQ),
      rpd2 AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.y - q.qy) * (e.y - q.qy)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM rpj e JOIN rq q ON e.j = q.j AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      rp5 AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM rpd2) WHERE rn <= $AnnK),
      qfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM rex WHERE vec_id < $AnnQ),
      d2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM rex e JOIN qfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      exact5 AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM d2full) WHERE rn <= $AnnK)
      SELECT e.qid,
             CAST(count(p.vid) AS BIGINT) AS n_hits,
             round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
               AS recall_at_5
      FROM exact5 e LEFT JOIN rp5 p ON e.qid = p.qid AND e.vid = p.vid
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val base = rpProjected(s, dir).select(col("vec_id"), col("yr"))
      val q = base.filter(col("vec_id") < AnnQ)
        .select(col("vec_id").as("qid"), col("yr").as("qy"))
      val d2 = base.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          graft.functions.VecOps.sqDist18r6(col("yr"), col("qy")).as("d2"))
      val rp5 = d2.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("d2"), col("vid"))))
        .filter(col("rn") <= AnnK)
      recallHits(exactTop5(s, dir), rp5)
        .select(col("qid"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_true"), 6)
            .as("recall_at_5"))
        .orderBy("qid")
    },


    // RP + exact re-rank, measured: shortlist the rerank_r nearest in
    // the PROJECTED space (cheap: dOut-dim distances), exact-re-rank
    // the shortlist in full dimension, report recall@5 — the
    // composition q_e_rp_recall's raw number argues for (0.131 raw →
    // the re-rank owns the recall budget, the same division of labor
    // the residual-ADC ladder established). Shortlist cost is the
    // projected scan; the exact pass touches only queries × R full
    // vectors.
    Q("q_e_rp_rerank", Some(s"""
      WITH $rpCtes,
      rq AS (SELECT vec_id AS qid, j, y AS qy FROM rpj
             WHERE vec_id < $AnnQ),
      rpd2 AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.y - q.qy) * (e.y - q.qy)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM rpj e JOIN rq q ON e.j = q.j AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      rsh AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM rpd2) WHERE rn <= $RerankR),
      qfull AS (
        SELECT vec_id AS qid, i, x AS qx FROM rex WHERE vec_id < $AnnQ),
      d2full AS (
        SELECT q.qid, e.vec_id AS vid,
               round(CAST(sum(CAST((e.x - q.qx) * (e.x - q.qx)
                 AS DECIMAL(38,18))) AS DOUBLE), 6) AS d2
        FROM rex e JOIN qfull q ON e.i = q.i AND e.vec_id <> q.qid
        GROUP BY 1, 2),
      rrx AS (
        SELECT s.qid, s.vid, d.d2 FROM rsh s
        JOIN d2full d ON d.qid = s.qid AND d.vid = s.vid),
      rr5 AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM rrx) WHERE rn <= $AnnK),
      exact5 AS (
        SELECT qid, vid FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY d2, vid) AS rn FROM d2full) WHERE rn <= $AnnK)
      SELECT e.qid,
             CAST(count(p.vid) AS BIGINT) AS n_hits,
             round(CAST(count(p.vid) AS DOUBLE) / count(*), 6)
               AS recall_at_5
      FROM exact5 e LEFT JOIN rr5 p ON e.qid = p.qid AND e.vid = p.vid
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val base = rpProjected(s, dir).select(col("vec_id"), col("yr"))
      val q = base.filter(col("vec_id") < AnnQ)
        .select(col("vec_id").as("qid"), col("yr").as("qy"))
      val d2rp = base.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          graft.functions.VecOps.sqDist18r6(col("yr"), col("qy")).as("d2"))
      val short = d2rp.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("d2"), col("vid"))))
        .filter(col("rn") <= RerankR).select("qid", "vid")
      val exact = short
        .join(emb.select(col("vec_id").as("vid"), col("v").as("cv")),
          "vid")
        .join(broadcast(emb.filter(col("vec_id") < AnnQ)
          .select(col("vec_id").as("qid"), col("v").as("qv"))), "qid")
        .select(col("qid"), col("vid"),
          graft.functions.VecOps.sqDist18r6(col("cv"), col("qv")).as("d2"))
      val rr5 = exact.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("d2"), col("vid"))))
        .filter(col("rn") <= AnnK)
      recallHits(exactTop5(s, dir), rr5)
        .select(col("qid"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_true"), 6)
            .as("recall_at_5"))
        .orderBy("qid")
    }
  )
}
