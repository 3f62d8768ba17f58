package graft.text

import graft.ops.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** NN-Descent approximate kNN-GRAPH construction (Dong, Moses & Li,
  * WWW 2011, "Efficient K-Nearest Neighbor Graph Construction for
  * Generic Similarity Measures") — the graph-building member of the
  * ANN family: where the IVF/PQ ladder serves point queries against an
  * index, NN-Descent builds the ALL-nodes neighborhood graph that
  * semantic-dedup clustering and graph-ANN serving start from.
  *
  * Algorithm (the paper's local join, deterministic variant):
  *  - INIT: each node samples `k` pseudo-random neighbors via the
  *    engine's portable md5 hash — h(node:j) mod N, self-hits dropped
  *    (so a node may start with < k edges; the oracle mirrors the
  *    same rule).
  *  - ROUND: the GENERAL neighborhood B(p) = out-neighbors ∪
  *    reverse-neighbors of the current graph; every pair (u, v) of
  *    distinct members of some B(p) becomes a candidate ("a neighbor
  *    of my neighbor is my neighbor candidate" — the local join),
  *    plus the general edges themselves. Candidates are scored by
  *    cosine and each node keeps the top-k of old ∪ new by
  *    (cos_sim desc, nbr asc).
  *  - Fixed `rounds` rounds (the unrolled-oracle contract — no
  *    early-exit on the paper's update-counter).
  *
  * Determinism pins: cosine is ROUNDED to 6 decimals before any
  * ranking (the cosineTopK convention — the dot is the engine's
  * sequential VecDot fold vs the oracle's sum(), and round-6 absorbs
  * the reassociation noise), ties break on neighbor id, and the
  * md5-derived init is bit-portable.
  *
  * Scale shape: state is the N·k edge list; each round's candidate
  * set is bounded by N·(2k)² pivot-local pairs (bucket-blocked
  * fanout — NO all-pairs step anywhere), scored in one equi-join
  * wave against the vector table, then one top-k window keyed by
  * node. The paper's empirical convergence is O(log N)-ish rounds —
  * at 100 TB the round count is the knob, and each round is
  * two self-joins of a k-bounded edge list plus one scoring join.
  * The exact-recall metric is confined to the fixture (it IS the
  * brute-force baseline NN-Descent exists to avoid). */
object NnDescent {

  /** Deterministic pseudo-random init edges: for j ∈ 1..k,
    * nbr = md5(node:j) mod n, self-hits dropped, duplicates
    * collapsed. */
  def initEdges(emb: DataFrame, k: Int, n: Long): DataFrame =
    emb.select(col("vec_id").as("node"))
      .select(col("node"),
        explode(array((1 to k).map(lit(_)): _*)).as("j"))
      .withColumn("nbr",
        TextOps.md5Hash64(concat_ws(":", col("node"), col("j"))) % n)
      .filter(col("nbr") =!= col("node"))
      .select("node", "nbr").distinct()

  /** Score an edge list by 6-decimal-rounded cosine against the
    * (vec_id, v, nrm) vector frame. */
  private def score(edges: DataFrame, vecs: DataFrame): DataFrame =
    edges
      .join(vecs.select(col("vec_id").as("node"), col("v").as("va"),
        col("nrm").as("na")), Seq("node"))
      .join(vecs.select(col("vec_id").as("nbr"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("nbr"))
      .select(col("node"), col("nbr"),
        round(Similarity.cosinePre(col("va"), col("vb"), col("na"),
          col("nb")), 6).as("cos_sim"))

  /** Top-k window over a ≤ N·(2k)²-row scored frame, coalesced to a
    * handful of partitions: every round runs several actions over
    * these SMALL frames (the corpus never enters the loop), so
    * fixture-scale task-launch overhead dominates at the default
    * shuffle width — the Bpe.learn argument, behind the same
    * `tuning.small_frame_parts` knob (the edge list is k-bounded).
    * At real scale the window's own hash exchange re-widens the
    * plan. */
  private def topK(edges: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("node")
      .orderBy(col("cos_sim").desc, col("nbr"))
    edges.distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .coalesce(graft.Settings.tuning.smallFrameParts)
  }

  /** PRECONDITION check shared by [[build]] and [[serve]]: the
    * md5-derived init/entry rule `h mod n` assumes `vec_id` is DENSE
    * in [0, n) — on a sparse id space derived neighbors would
    * reference nonexistent nodes and be silently dropped by the
    * scoring join (some nodes would start with far fewer than k
    * edges). Fail loudly instead: one cheap min/max agg. */
  /** Per-frame memo of the (count, dense-id invariant) pair:
    * [[serveFrame]] runs once per micro-batch in streaming against
    * the SAME frozen corpus frame, and n + density are properties of
    * that frame — without the memo each batch paid two full corpus
    * passes just to re-check a frozen invariant. Weak-keyed so a
    * dropped frame releases its entry. */
  private val frameN = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Long]())

  /** Per-frame memo of the materialized (vec_id, v, nrm) vector frame
    * — the [[frameN]] rationale applied to [[vecsOf]]: the streaming
    * serves call [[serveFrame]]/[[serveHierFrame]]/[[serveHierPqFrame]]
    * once per micro-batch against the SAME frozen corpus frame, and
    * without the memo every batch re-materialized the corpus
    * checkpoint. Weak-keyed so a dropped frame releases its entry. */
  private val frameVecs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, DataFrame]())

  private def vecsMemo(emb: DataFrame): DataFrame = {
    val cached = frameVecs.get(emb)
    if (cached != null) cached
    else {
      val v = vecsOf(emb)
      frameVecs.put(emb, v)
      v
    }
  }

  private def denseCount(emb: DataFrame): Long = {
    val cached = frameN.get(emb)
    if (cached != null) cached.longValue()
    else {
      val n = emb.count()
      requireDenseIds(emb, n)
      frameN.put(emb, n)
      n
    }
  }

  private def requireDenseIds(emb: DataFrame, n: Long): Unit = {
    val r = emb.agg(min(col("vec_id").cast("long")),
      max(col("vec_id").cast("long"))).head()
    require(n == 0 || (r.getLong(0) == 0L && r.getLong(1) == n - 1),
      s"NnDescent requires vec_id dense in [0, $n): found " +
        s"[${r.getLong(0)}, ${r.getLong(1)}] — md5 init/entry " +
        "neighbors (h mod n) would silently miss")
  }

  /** Materialize `df` and rebuild it from its RDD with a clean
    * lineage: aliased SELF-joins (the bucket-pairing init, the
    * coarse-scan cross join) leave plan constraints that reference
    * remapped attribute ids, and Spark's Union.rewriteConstraints
    * throws `key not found: node#N` when such a frame later unions
    * with the per-round candidate sets. localCheckpoint alone copies
    * those constraints into the LogicalRDD; re-wrapping the RDD drops
    * them (no recompute — the checkpoint's partitions are reused). */
  private def scrubbed(df: DataFrame): DataFrame = {
    val c = df.graftCheckpoint()
    c.sparkSession.createDataFrame(c.rdd, c.schema)
  }

  /** (vec_id, v, nrm) vector frame of a corpus slice. */
  private[text] def vecsOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .graftCheckpoint()

  /** One NND local-join ROUND over the current (node, nbr, cos_sim)
    * edge list: general neighborhood B = edges ∪ reverse edges,
    * pivot-local candidate pairs, score, top-k of old ∪ new. The
    * candidate RULE exists exactly once — [[build]], the subset-layer
    * builds and [[incrInsert]] all run THIS body. When `touched` is
    * given (the incremental repair path) the round is CONFINED:
    * pivots are the touched set plus nodes adjacent to it, candidate
    * pairs come only from pivot-local joins (work bounded by the
    * batch's blast radius, not N), and the returned candidate set is
    * the next round's touched frontier. touched = None is the full
    * round (every node a pivot, candidate set not needed). The
    * confined path scrubs its self-joined frames (see [[scrubbed]] —
    * their constraints otherwise break the later unions). */
  private def refineRoundImpl(knn: DataFrame, vecs: DataFrame, k: Int,
      touched: Option[DataFrame]): (DataFrame, DataFrame) = {
    val b = knn.select("node", "nbr")
      .unionByName(knn.select(col("nbr").as("node"),
        col("node").as("nbr")))
      .distinct()
    val bp = touched match {
      case Some(t) =>
        val pivots = b.join(t, b("nbr") === t("t"))
          .select("node")
          .unionByName(t.select(col("t").as("node")))
          .distinct().graftCheckpoint()
        scrubbed(b.join(pivots, Seq("node"), "left_semi"))
      case None => b
    }
    val pairs = bp.as("x").join(bp.as("y"),
        col("x.node") === col("y.node")
          && col("x.nbr") =!= col("y.nbr"))
      .select(col("x.nbr").as("node"), col("y.nbr").as("nbr"))
    val cands0 = pairs.unionByName(bp).distinct()
    val cands = if (touched.isDefined) scrubbed(cands0) else cands0
    val next = topK(knn.unionByName(score(cands, vecs)), k)
      .select("node", "nbr", "cos_sim").graftCheckpoint()
    (next, cands)
  }

  private def refineRound(knn: DataFrame, vecs: DataFrame, k: Int)
      : DataFrame = refineRoundImpl(knn, vecs, k, None)._1

  /** Build the approximate kNN graph: returns (node, nbr, cos_sim,
    * rnk) with rnk 1..≤k per node. One localCheckpoint per round
    * keeps the plan O(1) across rounds (the iterative-lineage
    * discipline). PRECONDITION: `vec_id` dense in [0, n) — checked
    * (see [[requireDenseIds]]); use [[buildSubset]] for an arbitrary
    * id slice. */
  def build(emb: DataFrame, k: Int, rounds: Int): DataFrame = {
    val n = denseCount(emb)
    val vecs = vecsOf(emb)
    var knn = topK(score(initEdges(emb, k, n), vecs), k)
      .select("node", "nbr", "cos_sim").graftCheckpoint()
    for (_ <- 1 to rounds) knn = refineRound(knn, vecs, k)
    topK(knn, k)
  }

  /** Deterministic bucket-pairing init for an ARBITRARY id slice (no
    * dense-id assumption — the subset-layer counterpart of
    * [[initEdges]]): TWO independent blockings (salts `<salt>a` /
    * `<salt>b`), each dropping every node into bucket
    * md5(salt:node) mod nBuckets with nBuckets = max(1, ⌊n/(k+1)⌋)
    * (expected occupancy k+1); every ordered in-bucket pair is an
    * init edge. One blocking alone leaves a node ISOLATED when its
    * bucket holds no other member (P ≈ e^−(k+1) ≈ 1.7·10⁻⁵ at
    * k = 10) — and a degree-0 node never enters the general
    * neighborhood, so the refine rounds could never attach it; two
    * independent blockings square that probability (~3·10⁻¹⁰) while
    * the top-k trim keeps the per-node state at k either way. Map +
    * one groupBy per blocking — no rank densification, so it scales
    * on any slice. */
  def bucketInitEdges(emb: DataFrame, k: Int, n: Long,
      salt: String): DataFrame = {
    val nBuckets = math.max(1L, n / (k + 1))
    def blocking(s: String): DataFrame = {
      val b = emb.select(col("vec_id").as("node"))
        .withColumn("bkt",
          TextOps.md5Hash64(concat_ws(":", lit(s), col("node")))
            % nBuckets)
      b.as("x").join(b.as("y"),
          col("x.bkt") === col("y.bkt")
            && col("x.node") =!= col("y.node"))
        .select(col("x.node").as("node"), col("y.node").as("nbr"))
    }
    blocking(salt + "a").unionByName(blocking(salt + "b")).distinct()
  }

  /** [[build]] over an arbitrary corpus SLICE (sparse ids allowed —
    * the HNSW-style layer builder): [[bucketInitEdges]] init, then
    * the same local-join rounds. `salt` keys the bucket hash so
    * different layers draw independent blockings. */
  def buildSubset(emb: DataFrame, k: Int, rounds: Int,
      salt: String): DataFrame = {
    val n = emb.count()
    val vecs = vecsOf(emb)
    var knn = topK(score(scrubbed(bucketInitEdges(emb, k, n, salt)),
        vecs), k)
      .select("node", "nbr", "cos_sim").graftCheckpoint()
    for (_ <- 1 to rounds) knn = refineRound(knn, vecs, k)
    topK(knn, k)
  }

  /** Graph-ANN SERVING over a built graph — beam search (the search
    * layer graph indexes like HNSW descend from, run here on the flat
    * NN-Descent graph): md5-seeded entry nodes per query, then `hops`
    * expansion rounds — candidates = beam ∪ out-neighbors of the beam,
    * scored by cosine against the query, top-`beam` kept (monotone:
    * the beam is retained in its own candidate set, so quality never
    * regresses). Returns the final top-k per query plus `n_scored`,
    * the count of DISTINCT candidates ever scored — the served cost
    * (vs N for brute force: the whole point of graph serving).
    *
    * Scale shape: per hop each query scores ≤ beam·(k+1) candidates —
    * query-local joins against the k-bounded edge list, never a pass
    * over the corpus. */
  def serve(emb: DataFrame, graph: DataFrame, queryPred: Column,
      k: Int, beam: Int, hops: Int, fuse: Int = 2): DataFrame =
    serveFrame(emb, graph, emb.filter(queryPred), k, beam, hops, fuse)

  /** [[serve]] with an EXPLICIT (vec_id, embedding) query frame — the
    * serving seam a stream plugs into ([[graft.streaming
    * .StreamingAnnServe.serveGraphStream]] hands each micro-batch's
    * queries here): every per-query chain (entries, hops, top-k,
    * n_scored) is query-local, so serving queries in any batching
    * yields identical per-query rows. */
  def serveFrame(emb: DataFrame, graph: DataFrame, queries: DataFrame,
      k: Int, beam: Int, hops: Int, fuse: Int = 2): DataFrame = {
    val n = denseCount(emb)
    serveImpl(emb, graph, queries, k, beam, hops, entryMod = n,
      salt = "sv", vecsIn = Some(vecsMemo(emb)), fuse = fuse)
  }

  // --- shared serve plumbing: ONE definition each for the flat,
  // hierarchical and incremental-seed beam searches ---

  /** (qid, qv, qnrm) query frame of a vector frame's slice. */
  private def queriesOf(vecs: DataFrame, queryPred: Column): DataFrame =
    vecs.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")).graftCheckpoint()

  /** Query-side scoring: broadcast the (bounded) query frame, join
    * candidates to the vector table, 6-decimal cosine. */
  private def scoreQ(cands: DataFrame, q: DataFrame,
      vecs: DataFrame): DataFrame = cands
    .join(broadcast(q), Seq("qid"))
    .join(vecs.select(col("vec_id").as("node"), col("v").as("nv"),
      col("nrm").as("nn")), Seq("node"))
    .select(col("qid"), col("node"),
      round(Similarity.cosinePre(col("qv"), col("nv"), col("qnrm"),
        col("nn")), 6).as("cos_sim"))

  /** Per-query top-b beam trim (cos_sim desc, node asc). */
  private def topB(scored: DataFrame, b: Int): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("node"))
    scored.distinct()
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= b)
      .select("qid", "node", "cos_sim")
  }

  /** Per-query ADC-ascending top-b trim (adc asc, node asc) — the
    * distance-ordered twin of [[topB]], shared by the PQ traversal
    * and its re-rank tails. */
  private def topBAdcAsc(scored: DataFrame, b: Int): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("adc"), col("node"))
    scored.distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= b)
      .select("qid", "node", "adc")
  }

  /** One hop's candidate set: beam ∪ out-neighbors of the beam,
    * self-hits dropped (monotone — the beam is retained in its own
    * candidate set, so quality never regresses). */
  private def hopCands(state: DataFrame, edges: DataFrame): DataFrame =
    state.select("qid", "node")
      .join(edges, Seq("node"))
      .select(col("qid"), col("nbr").as("node"))
      .unionByName(state.select("qid", "node"))
      .filter(col("node") =!= col("qid"))
      .distinct()

  /** The shared beam-expansion hop loop of the flat / hierarchical /
    * incremental-seed serves: runs `specs` (edges, beamWidth) hops
    * from `state0`, checkpointing every `fuse`-th state — hop i+1's
    * candidates derive from hop i's LAZY beam inside the same job
    * (guide §2.4/§5: the per-hop states are purely sequential, so
    * materializing every one of them bought nothing but an eager job
    * per hop; the default 2 halves the serve's eager-job count). The
    * (state, cands) FRAME SEQUENCE does not depend on `fuse` — every
    * hop's topB window has a total (cos_sim desc, node asc) order
    * over round-6 sims, so fuse = 2 is bit-identical to checkpointing
    * every hop at fuse = 1 (NnDescentSpec locks it). The intermediate
    * lazy state appears twice in the next hop's plan (union + join
    * side) — bounded at fuse=2, and its window exchange is physically
    * reused. `onCands` observes each hop's candidate set (the
    * lazily-accumulated serve cost set). */
  private def beamHops(state0: DataFrame, specs: Seq[(DataFrame, Int)],
      score: (DataFrame, Int) => DataFrame,
      onCands: DataFrame => Unit = _ => (), fuse: Int = 2): DataFrame = {
    import graft.ops.Ckpt._
    require(fuse >= 1, s"fuse $fuse must be >= 1")
    var state = state0
    var pending = 0
    for (((edges, b), i) <- specs.zipWithIndex) {
      val cands = hopCands(state, edges)
      onCands(cands)
      val s = score(cands, b)
      pending += 1
      state =
        if (pending >= fuse || i == specs.length - 1) {
          pending = 0
          s.graftCheckpoint()
        } else s
    }
    state
  }

  /** Final serve assembly: top-k of the beam state, re-ranked, joined
    * to the distinct scored-candidate count (the served-cost column).
    * Returns (qid, vid, cos_sim, rnk, n_scored). */
  private def finishServe(state: DataFrame, scoredSet: DataFrame,
      k: Int): DataFrame = {
    val nScored = scoredSet.groupBy("qid")
      .agg(count(lit(1)).as("n_scored"))
    topB(state, k)
      .withColumn("rnk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("node"))))
      .join(nScored, Seq("qid"))
      .select(col("qid"), col("node").as("vid"), col("cos_sim"),
        col("rnk"), col("n_scored"))
  }

  /** [[serve]] internals with the entry rule parameterized: entry
    * nodes are md5(salt:qid:j) mod `entryMod` — the flat serve draws
    * from the whole corpus (salt "sv", mod n); the incremental seeder
    * draws from the FROZEN index slice (salt "iv", mod base) so a new
    * node never enters through another graph-less new node. `queries`
    * is a (vec_id, embedding) frame (corpus slice or external). */
  private def serveImpl(emb: DataFrame, graph: DataFrame,
      queries: DataFrame, k: Int, beam: Int, hops: Int, entryMod: Long,
      salt: String, vecsIn: Option[DataFrame], fuse: Int = 2)
      : DataFrame = {
    val vecs = vecsIn.getOrElse(vecsOf(emb))
    val q = vecsOf(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")).graftCheckpoint()
    val entries = q.select(col("qid"))
      .select(col("qid"),
        explode(array((1 to beam).map(lit(_)): _*)).as("j"))
      .withColumn("node",
        TextOps.md5Hash64(concat_ws(":", lit(salt), col("qid"),
          col("j"))) % entryMod)
      .filter(col("node") =!= col("qid"))
      .select("qid", "node").distinct()
    val edges = graph.select(col("node"), col("nbr"))
      .graftCheckpoint()
    val state0 = topB(scoreQ(entries, q, vecs), beam).graftCheckpoint()
    // the cost set is only READ once, after the loop: accumulate it
    // lazily (distinct(distinct(A) ∪ B) ≡ distinct(A ∪ B)) instead of
    // paying a distinct exchange + an eager materialization per hop —
    // each hop's cands hang at most one lazy hop off a CHECKPOINTED
    // state, so the deferred union stays shallow
    var scoredSet = entries
    val state = beamHops(state0, Seq.fill(hops)((edges, beam)),
      (cands, b) => topB(scoreQ(cands, q, vecs), b),
      cands => scoredSet = scoredSet.unionByName(cands), fuse)
    finishServe(state, scoredSet.distinct(), k)
  }

  // ------------------------------------------------------------------
  // Incremental graph maintenance — the kNN-graph analog of the IVF
  // index's add-without-retrain (q_e_index_incr): a new-doc batch is
  // seeded by beam search over the FROZEN base graph, then local-join
  // rounds confined to the affected neighborhoods repair edges —
  // work proportional to the batch's blast radius, never a rebuild.
  // ------------------------------------------------------------------

  /** Insert the `vec_id >= base` batch into a base graph built on the
    * dense `vec_id < base` slice:
    *  1. SEED — each new node beam-searches the base graph (entries
    *     md5("iv:" + qid + ":" + j) mod base — old nodes only) and its
    *     final top-k become its out-edges.
    *  2. REPAIR — `incrRounds` local-join rounds CONFINED to the
    *     affected neighborhoods: round r's pivots are the touched set
    *     (new nodes, then every node that received candidates last
    *     round) plus nodes adjacent to it; candidate pairs come only
    *     from pivot-local joins, so per-round work is bounded by the
    *     batch's blast radius, not N. Old nodes outside the radius
    *     keep their edges verbatim; new↔new edges form through shared
    *     old neighbors exactly as in a full build.
    * Returns (node, nbr, cos_sim, rnk) over ALL nodes. */
  def incrInsert(emb: DataFrame, baseGraph: DataFrame, base: Long,
      k: Int, beam: Int, hops: Int, incrRounds: Int): DataFrame = {
    val vecs = vecsMemo(emb)
    val seeds = serveImpl(emb, baseGraph,
        emb.filter(col("vec_id") >= base), k, beam, hops,
        entryMod = base, salt = "iv", vecsIn = Some(vecs))
      .select(col("qid").as("node"), col("vid").as("nbr"),
        col("cos_sim"))
    var knn = baseGraph.select("node", "nbr", "cos_sim")
      .unionByName(seeds)
      .graftCheckpoint()
    var touched = emb.filter(col("vec_id") >= base)
      .select(col("vec_id").as("t")).graftCheckpoint()
    for (_ <- 1 to incrRounds) {
      val (next, cands) = refineRoundImpl(knn, vecs, k, Some(touched))
      knn = next
      touched = cands.select(col("node").as("t")).distinct()
        .graftCheckpoint()
    }
    topK(knn, k)
  }

  /** Insert the `vec_id >= base` batch into ONE frozen LAYER graph —
    * the hierarchical index's add-without-retrain ([[incrInsert]]'s
    * analog for a [[buildSubset]] graph on an arbitrary id slice).
    * Layer membership is decided by [[layerPred]] exactly as at build
    * time, so a new node that samples into the top layer becomes a
    * coarse-scan entry candidate automatically ([[serveHier]] derives
    * entries from the predicate, not from a stored list). The only
    * piece [[incrInsert]] can't reuse is the ENTRY rule: old layer
    * members are SPARSE ids, so md5-mod entries don't apply — instead
    * old members hash into max(1, nOld/(k+1)) buckets (salt
    * `${salt}r`) and each bucket's min-id member is its
    * REPRESENTATIVE; a new node's j-th entry is the representative of
    * bucket md5(`${salt}e`:qid:j) mod nBuckets. A hashed-to bucket
    * may be empty (P ≈ e^−(k+1) per draw — the [[bucketInitEdges]]
    * occupancy argument) and then contributes no entry; both engines
    * drop it identically. One groupBy builds the representative
    * table — no rank densification, no single-partition window, so
    * the rule survives a corpus-sized layer 1. Seeds = the batch's
    * beam-search top-k over the frozen layer graph; then the same
    * confined repair rounds as the base insert ([[refineRoundImpl]]
    * with the touched frontier — the candidate rule exists once). */
  def incrInsertLayer(layerEmb: DataFrame, oldLayerGraph: DataFrame,
      base: Long, k: Int, beam: Int, hops: Int, incrRounds: Int,
      salt: String): DataFrame = {
    val vecs = vecsOf(layerEmb)
    val old = layerEmb.filter(col("vec_id") < base)
    val nOld = old.count()
    require(nOld >= 1,
      s"incrInsertLayer: the frozen layer has no members below " +
        s"base=$base — inserting into an empty layer is a rebuild")
    val nBuckets = math.max(1L, nOld / (k + 1))
    val reps = old.select(col("vec_id").as("node"))
      .withColumn("bkt",
        TextOps.md5Hash64(concat_ws(":", lit(salt + "r"),
          col("node"))) % nBuckets)
      .groupBy("bkt").agg(min("node").as("node"))
    val q = queriesOf(vecs, col("vec_id") >= base)
    val entries = scrubbed(q.select(col("qid"))
      .select(col("qid"),
        explode(array((1 to beam).map(lit(_)): _*)).as("j"))
      .withColumn("bkt",
        TextOps.md5Hash64(concat_ws(":", lit(salt + "e"), col("qid"),
          col("j"))) % nBuckets)
      .join(reps, Seq("bkt"))
      .select("qid", "node").distinct())
    val edges = oldLayerGraph.select(col("node"), col("nbr"))
      .graftCheckpoint()
    val state = beamHops(
      topB(scoreQ(entries, q, vecs), beam).graftCheckpoint(),
      Seq.fill(hops)((edges, beam)),
      (cands, b) => topB(scoreQ(cands, q, vecs), b))
    val seeds = topB(state, k)
      .select(col("qid").as("node"), col("node").as("nbr"),
        col("cos_sim"))
    var knn = oldLayerGraph.select("node", "nbr", "cos_sim")
      .unionByName(seeds).graftCheckpoint()
    var touched = layerEmb.filter(col("vec_id") >= base)
      .select(col("vec_id").as("t")).graftCheckpoint()
    for (_ <- 1 to incrRounds) {
      val (next, cands) = refineRoundImpl(knn, vecs, k, Some(touched))
      knn = next
      touched = cands.select(col("node").as("t")).distinct()
        .graftCheckpoint()
    }
    topK(knn, k)
  }

  /** [[incrInsertLayer]] across the whole hierarchy: layer l's slice
    * is [[layerPred]](l), its frozen graph `oldLayerGraphs(l - 1)`
    * (built on the `vec_id < base` members), salts `hnswi$l` — the
    * incremental twin of [[buildLayers]]. */
  def incrInsertLayers(emb: DataFrame, oldLayerGraphs: Seq[DataFrame],
      base: Long, ratio: Int, k: Int, beam: Int, hops: Int,
      incrRounds: Int): Seq[DataFrame] =
    oldLayerGraphs.zipWithIndex.map { case (g, i) =>
      val l = i + 1
      incrInsertLayer(
        emb.filter(layerPred(col("vec_id"), l, ratio)), g, base, k,
        beam, hops, incrRounds, salt = s"hnswi$l")
    }

  // ------------------------------------------------------------------
  // HNSW-style hierarchical serving (Malkov & Yashunin 2016, the
  // layered search graph): the flat beam search's md5-random entries
  // make hops grow with N; 2-3 coarse LAYERS — nested md5-sampled
  // node subsets, each with its own NN-Descent graph — give the
  // greedy layer-to-layer descent that makes entry cost O(log N).
  // ------------------------------------------------------------------

  /** Membership predicate of layer `l` (l ≥ 1): md5("hnsw:" + node)
    * mod ratio^l == 0 — an expected N/ratio^l node sample, NESTED by
    * construction (ratio^l divides ratio^(l+1), so layer l+1 ⊆ layer
    * l ⊆ base), which is what lets a beam descend: every upper-layer
    * node exists in every layer below it. */
  def layerPred(idCol: Column, l: Int, ratio: Int): Column = {
    val m = math.pow(ratio.toDouble, l.toDouble).toLong
    TextOps.md5Hash64(concat_ws(":", lit("hnsw"), idCol)) % m === 0
  }

  /** Build the layer graphs for levels 1..levels (base layer 0 is the
    * standing [[build]] graph): each layer's node subset gets its own
    * [[buildSubset]] NND graph (bucket-pairing init — subset ids are
    * sparse), salted per level so blockings are independent. */
  def buildLayers(emb: DataFrame, k: Int, upRounds: Int, ratio: Int,
      levels: Int): Seq[DataFrame] =
    (1 to levels).map { l =>
      buildSubset(emb.filter(layerPred(col("vec_id"), l, ratio)),
        k, upRounds, salt = s"hnswb$l")
    }

  /** Hierarchical beam-search serving: enter at the TOP layer by
    * scoring its ENTIRE node set per query (the coarse scan — N /
    * ratio^levels nodes; `levels` is chosen so this is the IVF-style
    * bounded entry cost, and at corpus scale more levels keep it
    * constant), then per layer l = levels..1 run `upHops` beam-
    * expansion rounds of width `upBeam` over that layer's graph, hand
    * the surviving beam down as the next layer's entries, and finish
    * with `hops` rounds of width `beam` over the BASE graph. Returns
    * the final top-k per query plus `n_scored` — the count of
    * DISTINCT candidates ever scored ACROSS ALL layers including the
    * coarse scan (directly comparable to [[serve]]'s n_scored: the
    * A/B is fewer scored candidates at equal recall, because entries
    * arrive near the query instead of md5-random). */
  def serveHier(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], queryPred: Column, k: Int,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int,
      fuse: Int = 2): DataFrame =
    serveHierFrame(emb, baseGraph, layerGraphs, emb.filter(queryPred),
      k, upBeam, upHops, beam, hops, ratio, fuse)

  /** [[serveHier]] with an EXPLICIT (vec_id, embedding) query frame —
    * the streaming seam ([[serveFrame]]'s hierarchical twin; per-query
    * chains are query-local, so any batching of queries yields
    * identical per-query rows). */
  def serveHierFrame(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], queries: DataFrame, k: Int,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int,
      fuse: Int = 2): DataFrame = {
    val levels = layerGraphs.length
    val vecs = vecsMemo(emb)
    val q = vecsOf(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")).graftCheckpoint()
    // coarse scan: every top-layer node is an entry candidate
    // (scrubbed — see [[scrubbed]]: the cross join's constraints
    // otherwise break the later unions with the hop candidate sets).
    val top = emb.filter(layerPred(col("vec_id"), levels, ratio))
      .select(col("vec_id").as("node"))
    val entries = scrubbed(
      q.select("qid").crossJoin(broadcast(top))
        .filter(col("node") =!= col("qid")))
    val state0 = topB(scoreQ(entries, q, vecs), upBeam)
      .graftCheckpoint()
    // lazily-accumulated cost set (the serveImpl rule: one distinct
    // at the end instead of a distinct exchange + materialization per
    // hop — each hop's cands hang at most one lazy hop off a
    // checkpointed state)
    var scoredSet = entries
    // descend: layer `levels` down to 1, expanding in each layer's
    // graph, then finish over the base graph; the beam survives into
    // the layer below because layers are nested. The whole descent is
    // ONE flat hop list, so fused checkpoint rounds span layer
    // boundaries too (a hop only needs the previous state and its own
    // edge frame).
    val specs =
      (levels to 1 by -1).flatMap { l =>
        val edges = layerGraphs(l - 1).select("node", "nbr")
          .graftCheckpoint()
        Seq.fill(upHops)((edges, upBeam))
      } ++ {
        val edges = baseGraph.select("node", "nbr").graftCheckpoint()
        Seq.fill(hops)((edges, beam))
      }
    val state = beamHops(state0, specs,
      (cands, b) => topB(scoreQ(cands, q, vecs), b),
      cands => scoredSet = scoredSet.unionByName(cands), fuse)
    finishServe(state, scoredSet.distinct(), k)
  }

  /** DiskANN-style graph + PQ serving (Subramanya et al. 2019,
    * "DiskANN: Fast Accurate Billion-point Nearest Neighbor Search on
    * a Single Node" — graph traversal over COMPRESSED vectors, exact
    * re-rank of the final candidates): the [[serveHier]] descent with
    * every hop scored by ADC over the corpus's PQ codes
    * ([[Similarity.pqParts]] — m bytes per vector) instead of
    * full-dimension floats, then ONE exact cosine re-rank of the
    * final beam. At 100 TB this is the memory bill: the traversal
    * touches only the m-byte code table (+ the k-bounded edge lists),
    * and full-dim vectors are read for ≤ `beam` candidates per query
    * instead of every scored candidate. Beam hops rank by (round-6
    * ADC asc, node asc) — ADC is a distance; the final output ranks
    * by exact (cos_sim desc, vid asc). The re-rank pool is the
    * ADC-best `rerankR` of ALL VISITED candidates (DiskANN's
    * search-list re-rank — under an aggressive code budget the true
    * neighbors are usually VISITED but mis-ranked by ADC, so
    * re-ranking only the final beam throws recall away; the pool
    * bound is the `ann.rerank_r` convention). Returns (qid, vid,
    * cos_sim, rnk, n_scored, n_exact): n_scored = DISTINCT PQ-scored
    * candidates across the coarse scan and all hops (comparable to
    * [[serveHier]]'s n_scored), n_exact = pool rows that touched
    * full floats (≤ rerankR) — the A/B's price column. */
  def serveHierPq(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], queryPred: Column, k: Int,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int,
      m: Int, subK: Int, rerankR: Int,
      codebook: Option[IndexedSeq[IndexedSeq[Array[Double]]]] = None)
      : DataFrame = {
    // a FITTED codebook (Lloyd per subspace) guides the traversal far
    // better than the seed slices — DiskANN works because the
    // compressed distances are good enough to steer the beam; None
    // falls back to the seed-slice codebook (the pqTopK convention)
    val (codes0, qd20) = codebook match {
      case Some(cb) => Similarity.pqPartsCodebook(emb, queryPred, cb)
      case None => Similarity.pqParts(emb, queryPred, m, subK)
    }
    serveHierPqImpl(emb, baseGraph, layerGraphs, codes0, qd20, k,
      upBeam, upHops, beam, hops, ratio, rerankR, Left(queryPred))
  }

  /** [[serveHierPq]] with a SEPARATE code-space frame: PQ codes and
    * query distance tables quantize `codeEmb` (e.g. an OPQ-rotated
    * copy of the corpus — same vec_ids, transformed coordinates)
    * while the graph, the entry layers and the exact re-rank stay on
    * `emb`'s ORIGINAL vectors. This is the OPQ serving split: rotate
    * only what gets quantized; an orthogonal rotation preserves the
    * cosine ranking the re-rank reports. */
  def serveHierPqCoded(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], codeEmb: DataFrame,
      queryPred: Column, k: Int, upBeam: Int, upHops: Int, beam: Int,
      hops: Int, ratio: Int, rerankR: Int,
      codebook: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val (codes0, qd20) =
      Similarity.pqPartsCodebook(codeEmb, queryPred, codebook)
    serveHierPqImpl(emb, baseGraph, layerGraphs, codes0, qd20, k,
      upBeam, upHops, beam, hops, ratio, rerankR, Left(queryPred))
  }

  /** [[serveHierPq]] with an EXPLICIT (vec_id, embedding) query frame
    * — the streaming seam (the [[serveFrame]] convention). A codebook
    * is REQUIRED here: corpus codes and query distance tables must
    * quantize against the same centroids, and an external query frame
    * cannot donate the seed slices the implicit codebook derives
    * from. Per-query tables are row-local aggregations, so serving a
    * corpus member through this path equals the predicate path
    * bit-for-bit (StreamingSpec locks it). */
  def serveHierPqFrame(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], queries: DataFrame, k: Int,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int,
      rerankR: Int,
      codebook: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val codes0 = Similarity
      .pqPartsCodebook(emb, lit(false), codebook)._1
    val qd20 = Similarity
      .pqPartsCodebook(queries, lit(true), codebook)._2
    // exact re-rank scores against the QUERY frame's vectors — for
    // corpus members identical to the predicate path's slice
    serveHierPqImpl(emb, baseGraph, layerGraphs, codes0, qd20, k,
      upBeam, upHops, beam, hops, ratio, rerankR,
      Right(queries))
  }

  private def serveHierPqImpl(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], codes0: DataFrame, qd20: DataFrame,
      k: Int, upBeam: Int, upHops: Int, beam: Int, hops: Int,
      ratio: Int, rerankR: Int,
      queryPredOrFrame: Either[Column, DataFrame]): DataFrame = {
    val (visited, scoredSet) = pqTraverse(emb, baseGraph, layerGraphs,
      codes0, qd20, upBeam, upHops, beam, hops, ratio)
    pqRerankTail(emb, visited, scoredSet, k, rerankR,
      queryPredOrFrame)
  }

  /** The ADC-guided traversal HALF of [[serveHierPq]] — coarse scan +
    * layer descent + base hops, all over PQ codes. Returns (visited,
    * scoredSet): the distinct ADC-scored candidates with their
    * distances, and the distinct (qid, node) cost set. The re-rank
    * budget does NOT touch the traversal, so the rerank_r frontier
    * runs this ONCE and prices every rung from the same visited
    * set. */
  private def pqTraverse(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], codes0: DataFrame, qd20: DataFrame,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int)
      : (DataFrame, DataFrame) = {
    val levels = layerGraphs.length
    val codes = codes0.withColumnRenamed("vid", "node")
      .graftCheckpoint()
    val qd2 = qd20.graftCheckpoint()
    def scoreQPq(cands: DataFrame): DataFrame = cands
      .join(codes, Seq("node"))
      .join(qd2, Seq("qid", "m", "c"))
      .groupBy("qid", "node")
      .agg(round(sum(col("qd2").cast("decimal(38,18)"))
        .cast("double"), 6).as("adc"))
    // coarse scan over the top layer, ADC-scored (the [[serveHier]]
    // entry rule — scrubbed for the same Union-constraints reason)
    val top = emb.filter(layerPred(col("vec_id"), levels, ratio))
      .select(col("vec_id").as("node"))
    val qids = qd2.select("qid").distinct().graftCheckpoint()
    val entries = scrubbed(
      qids.crossJoin(broadcast(top))
        .filter(col("node") =!= col("qid")))
    val scored0 = scoreQPq(entries).graftCheckpoint()
    var state = topBAdcAsc(scored0, upBeam)
    // lazily-accumulated visited/cost sets (the serveImpl rule —
    // distinct(distinct(A) ∪ B) ≡ distinct(A ∪ B)): the loop used to
    // pay TWO distinct exchanges + two eager materializations per
    // hop for frames only read after the traversal; per-hop scored
    // frames stay checkpointed (they memoize the ADC scoring join for
    // BOTH consumers — the next beam and the visited set), while the
    // beam itself stays LAZY: topBAdcAsc over a checkpointed scored
    // frame is one window whose (round-6 adc, node) order is total,
    // so dropping its per-hop checkpoint removes one eager job per
    // hop without moving a value. The final sets ARE checkpointed —
    // the frontier prices every rerank rung from the same visited
    // frame
    var scoredSet = entries
    var visited: DataFrame = scored0
    def expand(edges: DataFrame, b: Int, nHops: Int): Unit = {
      for (_ <- 1 to nHops) {
        val cands = hopCands(state, edges)
        val scored = scoreQPq(cands).graftCheckpoint()
        state = topBAdcAsc(scored, b)
        scoredSet = scoredSet.unionByName(cands)
        visited = visited.unionByName(scored)
      }
    }
    for (l <- levels to 1 by -1)
      expand(layerGraphs(l - 1).select("node", "nbr")
        .graftCheckpoint(), upBeam, upHops)
    expand(baseGraph.select("node", "nbr").graftCheckpoint(),
      beam, hops)
    (visited.distinct().graftCheckpoint(),
      scoredSet.distinct().graftCheckpoint())
  }

  /** Exact re-rank TAIL of [[serveHierPq]]: pool = ADC-best `rerankR`
    * of the visited set, cosine re-rank, top-k + cost columns. */
  private def pqRerankTail(emb: DataFrame, visited: DataFrame,
      scoredSet: DataFrame, k: Int, rerankR: Int,
      queryPredOrFrame: Either[Column, DataFrame]): DataFrame = {
    // exact re-rank of the ADC-best rerankR VISITED candidates —
    // only the pool touches full-dim floats
    val pool = topBAdcAsc(visited, rerankR).graftCheckpoint()
    val vecs = vecsMemo(emb)
    val q = queryPredOrFrame match {
      case Left(pred) => queriesOf(vecs, pred)
      case Right(qf) => vecsOf(qf)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qnrm")).graftCheckpoint()
    }
    val exact = scoreQ(pool.select("qid", "node"), q, vecs)
    val nScored = scoredSet.groupBy("qid")
      .agg(count(lit(1)).as("n_scored"))
    val nExact = pool.groupBy("qid")
      .agg(count(lit(1)).as("n_exact"))
    topB(exact, k)
      .withColumn("rnk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("node"))))
      .join(nScored, Seq("qid"))
      .join(nExact, Seq("qid"))
      .select(col("qid"), col("node").as("vid"), col("cos_sim"),
        col("rnk"), col("n_scored"), col("n_exact"))
  }

  /** The rerank-budget FRONTIER of the graph+PQ serve: ONE traversal,
    * one exact-re-rank tail per `rungs` entry — the measured table
    * the `ann.rerank_r` default is promoted from, applied to the
    * DiskANN trade (recall bought per full-dim float touched).
    * Returns the per-rung serve rows tagged `rerank_r`. */
  def serveHierPqFrontier(emb: DataFrame, baseGraph: DataFrame,
      layerGraphs: Seq[DataFrame], queryPred: Column, k: Int,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int,
      m: Int, subK: Int, rungs: Seq[Int],
      codebook: Option[IndexedSeq[IndexedSeq[Array[Double]]]] = None)
      : DataFrame = {
    val (codes0, qd20) = codebook match {
      case Some(cb) => Similarity.pqPartsCodebook(emb, queryPred, cb)
      case None => Similarity.pqParts(emb, queryPred, m, subK)
    }
    val (visited, scoredSet) = pqTraverse(emb, baseGraph, layerGraphs,
      codes0, qd20, upBeam, upHops, beam, hops, ratio)
    rungs.map { r =>
      pqRerankTail(emb, visited, scoredSet, k, r, Left(queryPred))
        .select(lit(r).as("rerank_r"), col("qid"), col("vid"),
          col("cos_sim"), col("rnk"), col("n_scored"),
          col("n_exact"))
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------------------
  // DuckDB oracle: exploded vectors + norms, md5 init, one unrolled
  // local-join round per rank.
  // ------------------------------------------------------------------

  private def hsql(e: String) = TextOps.hsqlRaw(e)

  /** Query-side scoring block `$out(qid, node, cos_sim)` over the
    * shared `ndex`/`ndnrm` CTEs — the oracle twin of [[scoreQ]], ONE
    * definition for the flat, hierarchical and incremental-seed serve
    * chains. */
  private def scoreBlockQ(src: String, out: String): String = s"""
      ${out}_d AS (
        SELECT c.qid, c.node, sum(qa.x * eb.x) AS dot
        FROM $src c JOIN ndex qa ON qa.vec_id = c.qid
                    JOIN ndex eb ON eb.vec_id = c.node
                      AND eb.i = qa.i
        GROUP BY 1, 2),
      $out AS MATERIALIZED (
        SELECT d.qid, d.node,
               round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM ${out}_d d JOIN ndnrm na ON na.vec_id = d.qid
                        JOIN ndnrm nb ON nb.vec_id = d.node)"""

  /** Per-query top-b trim block `$out(qid, node, cos_sim)` — the
    * oracle twin of [[topB]]. */
  private def topBBlock(src: String, out: String, b: Int): String = s"""
      $out AS MATERIALIZED (
        SELECT qid, node, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY cos_sim DESC, node) AS rnk
          FROM (SELECT DISTINCT qid, node, cos_sim FROM $src))
        WHERE rnk <= $b)"""

  /** One edge-set scoring block `$out(node, nbr, cos_sim)` over the
    * shared `ndex`/`ndnrm` CTEs. */
  private def scoreBlock(src: String, out: String): String = s"""
      ${out}_d AS (
        SELECT c.node, c.nbr, sum(ea.x * eb.x) AS dot
        FROM $src c JOIN ndex ea ON ea.vec_id = c.node
                    JOIN ndex eb ON eb.vec_id = c.nbr
                      AND eb.i = ea.i
        GROUP BY 1, 2),
      $out AS MATERIALIZED (
        SELECT d.node, d.nbr,
               round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM ${out}_d d JOIN ndnrm na ON na.vec_id = d.node
                        JOIN ndnrm nb ON nb.vec_id = d.nbr)"""

  /** The full chain over `embeddings`: shared `ndex`/`ndnrm`
    * (exploded dims + norms), `nde0` (md5 init edges), `ndk0` (init
    * top-k), per-round `ndb$r` (general neighbors), `ndc$r`
    * (local-join candidates), `nds$r` (scored), `ndk$r` (new top-k).
    * Ends at `ndk$rounds(node, nbr, cos_sim)`. */
  /** Score-init-then-refine chain under prefix `pfx`: `${pfx}s0`
    * (scored init), `${pfx}k0` (init top-k), per-round `${pfx}b$r` /
    * `${pfx}c$r` / `${pfx}s$r` / `${pfx}k$r`, ending at
    * `${pfx}k$rounds`. Requires `ndex`/`ndnrm` in the same WITH and
    * an init edge CTE `initCte(node, nbr)`. The standing graph oracle
    * is this chain at pfx = "nd"; the HNSW layer and incremental
    * chains reuse it under their own prefixes. */
  private def chainCtes(pfx: String, initCte: String, k: Int,
      rounds: Int): Seq[String] = {
    val pieces = Seq.newBuilder[String]
    pieces += scoreBlock(initCte, s"${pfx}s0")
    pieces += s"""
      ${pfx}k0 AS MATERIALIZED (
        SELECT node, nbr, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY node
            ORDER BY cos_sim DESC, nbr) AS rnk
          FROM ${pfx}s0) WHERE rnk <= $k)"""
    for (r <- 1 to rounds) {
      val prev = s"${pfx}k${r - 1}"
      pieces += s"""
      ${pfx}b$r AS MATERIALIZED (
        SELECT DISTINCT node, nbr FROM (
          SELECT node, nbr FROM $prev
          UNION ALL
          SELECT nbr AS node, node AS nbr FROM $prev))"""
      pieces += s"""
      ${pfx}c$r AS MATERIALIZED (
        SELECT DISTINCT node, nbr FROM (
          SELECT x.nbr AS node, y.nbr AS nbr
          FROM ${pfx}b$r x JOIN ${pfx}b$r y
            ON x.node = y.node AND x.nbr <> y.nbr
          UNION ALL
          SELECT node, nbr FROM ${pfx}b$r))"""
      pieces += scoreBlock(s"${pfx}c$r", s"${pfx}s$r")
      pieces += s"""
      ${pfx}k$r AS MATERIALIZED (
        SELECT node, nbr, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY node
            ORDER BY cos_sim DESC, nbr) AS rnk
          FROM (SELECT DISTINCT node, nbr, cos_sim FROM (
            SELECT node, nbr, cos_sim FROM $prev
            UNION ALL
            SELECT node, nbr, cos_sim FROM ${pfx}s$r)))
        WHERE rnk <= $k)"""
    }
    pieces.result()
  }

  /** Shared exploded-vector + norm CTEs (`ndex`/`ndnrm`) every graph
    * chain scores against — ONE definition; chains that can appear in
    * the same WITH must include it exactly once. */
  def oracleVecCtes: String = s"""
      ndex AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      ndnrm AS MATERIALIZED (
        SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ndex GROUP BY 1)"""

  /** `incrRounds` CONFINED repair rounds under prefix `pfx`: inputs
    * `${pfx}g0(node, nbr, cos_sim)` (the seeded graph) and
    * `${pfx}t0(t)` (the initial touched set); per round the reverse
    * neighborhood `${pfx}rb$r`, pivots `${pfx}pv$r` (touched ∪
    * adjacent-to-touched), pivot-local edges `${pfx}bp$r`, candidates
    * `${pfx}c$r`, scores `${pfx}s$r`, merged top-k `${pfx}g$r`, next
    * touched `${pfx}t$r` — [[refineRoundImpl]]'s confined path
    * verbatim, shared by the base-graph and layer-graph insert
    * chains. Ends at `${pfx}g$incrRounds`. */
  private def confinedRoundsCtes(pfx: String, k: Int,
      incrRounds: Int): Seq[String] = {
    val pieces = Seq.newBuilder[String]
    for (r <- 1 to incrRounds) {
      val prev = s"${pfx}g${r - 1}"
      pieces += s"""
      ${pfx}rb$r AS MATERIALIZED (
        SELECT DISTINCT node, nbr FROM (
          SELECT node, nbr FROM $prev
          UNION ALL
          SELECT nbr AS node, node AS nbr FROM $prev)),
      ${pfx}pv$r AS MATERIALIZED (
        SELECT DISTINCT node FROM (
          SELECT b.node FROM ${pfx}rb$r b JOIN ${pfx}t${r - 1} t
            ON b.nbr = t.t
          UNION ALL
          SELECT t AS node FROM ${pfx}t${r - 1})),
      ${pfx}bp$r AS MATERIALIZED (
        SELECT b.node, b.nbr FROM ${pfx}rb$r b
        JOIN ${pfx}pv$r p ON p.node = b.node),
      ${pfx}c$r AS MATERIALIZED (
        SELECT DISTINCT node, nbr FROM (
          SELECT x.nbr AS node, y.nbr AS nbr
          FROM ${pfx}bp$r x JOIN ${pfx}bp$r y
            ON x.node = y.node AND x.nbr <> y.nbr
          UNION ALL
          SELECT node, nbr FROM ${pfx}bp$r))"""
      pieces += scoreBlock(s"${pfx}c$r", s"${pfx}s$r")
      pieces += s"""
      ${pfx}g$r AS MATERIALIZED (
        SELECT node, nbr, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY node
            ORDER BY cos_sim DESC, nbr) AS rnk
          FROM (SELECT DISTINCT node, nbr, cos_sim FROM (
            SELECT node, nbr, cos_sim FROM $prev
            UNION ALL
            SELECT node, nbr, cos_sim FROM ${pfx}s$r)))
        WHERE rnk <= $k),
      ${pfx}t$r AS (SELECT DISTINCT node AS t FROM ${pfx}c$r)"""
    }
    pieces.result()
  }

  def oracleCtes(k: Int, rounds: Int): String = {
    val pieces = Seq.newBuilder[String]
    pieces += oracleVecCtes
    pieces += s"""
      ndnn AS (SELECT count(*) AS n FROM embeddings),
      nde0 AS (
        SELECT DISTINCT node, nbr FROM (
          SELECT e.vec_id AS node,
                 ${hsql("e.vec_id::VARCHAR || ':' || r.j::VARCHAR")}
                   % nn.n AS nbr
          FROM embeddings e, range(1, $k + 1) r(j), ndnn nn)
        WHERE nbr <> node)"""
    pieces ++= chainCtes("nd", "nde0", k, rounds)
    pieces.result().mkString(",")
  }

  /** Incremental-insert chain, self-contained over `embeddings`
    * (shares the `ndex`/`ndnrm` names with [[oracleCtes]] — one chain
    * per query): base build on the `vec_id < base` slice (`inb*`,
    * ending `inbk$baseRounds`), the new-batch seed beam search over
    * the frozen base graph (`is*`, entries md5("iv:qid:j") mod base),
    * the seeded union `ing0`, `incrRounds` CONFINED repair rounds
    * (`in*$r` — pivots = touched ∪ adjacent-to-touched, pairs from
    * pivot-local joins only), ending at `ingf(node, nbr, cos_sim,
    * rnk)` — the engine's incrInsert verbatim. */
  def oracleIncrCtes(k: Int, baseRounds: Int, beam: Int, hops: Int,
      incrRounds: Int, base: Long): String = {
    val pieces = Seq.newBuilder[String]
    pieces += oracleVecCtes
    pieces += s"""
      inbnn AS (SELECT count(*) AS n FROM embeddings
                WHERE vec_id < $base),
      inbe0 AS (
        SELECT DISTINCT node, nbr FROM (
          SELECT e.vec_id AS node,
                 ${hsql("e.vec_id::VARCHAR || ':' || r.j::VARCHAR")}
                   % nn.n AS nbr
          FROM embeddings e, range(1, $k + 1) r(j), inbnn nn
          WHERE e.vec_id < $base)
        WHERE nbr <> node)"""
    pieces ++= chainCtes("inb", "inbe0", k, baseRounds)
    // seed beam search for the new batch over the frozen base graph
    pieces += s"""
      isq AS (SELECT vec_id AS qid FROM embeddings
              WHERE vec_id >= $base),
      ise0 AS (
        SELECT DISTINCT qid, node FROM (
          SELECT q.qid,
                 ${hsql("'iv:' || q.qid::VARCHAR || ':' || r.j::VARCHAR")}
                   % $base AS node
          FROM isq q, range(1, $beam + 1) r(j))
        WHERE node <> qid)"""
    pieces += scoreBlockQ("ise0", "iss0")
    pieces += topBBlock("iss0", "isb0", beam)
    for (h <- 1 to hops) {
      pieces += s"""
      isc$h AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT s.qid, g.nbr AS node
          FROM isb${h - 1} s JOIN inbk$baseRounds g ON g.node = s.node
          UNION ALL
          SELECT qid, node FROM isb${h - 1})
        WHERE node <> qid)"""
      pieces += scoreBlockQ(s"isc$h", s"iss$h")
      pieces += topBBlock(s"iss$h", s"isb$h", beam)
    }
    pieces += topBBlock(s"isb$hops", "iseed", k)
    pieces += s"""
      ing0 AS MATERIALIZED (
        SELECT node, nbr, cos_sim FROM inbk$baseRounds
        UNION ALL
        SELECT qid AS node, node AS nbr, cos_sim FROM iseed),
      int0 AS (SELECT vec_id AS t FROM embeddings
               WHERE vec_id >= $base)"""
    pieces ++= confinedRoundsCtes("in", k, incrRounds)
    pieces += s"""
      ingf AS MATERIALIZED (
        SELECT node, nbr, cos_sim,
               CAST(row_number() OVER (PARTITION BY node
                 ORDER BY cos_sim DESC, nbr) AS BIGINT) AS rnk
        FROM ing$incrRounds)"""
    pieces.result().mkString(",")
  }

  /** One [[buildSubset]] graph chain (requires `ndex`/`ndnrm`) under
    * an explicit prefix/salt/member filter: node set `${pfx}nd` (md5
    * mod ratio^l — [[layerPred]]'s twin, optionally AND
    * `memberFilter`), the TWO bucket-pairing blockings `${pfx}e0`
    * ([[bucketInitEdges]]' twin: nBuckets = max(1, n ÷ (k+1)), salts
    * `${salt}a`/`${salt}b`), then the standard refine chain ending at
    * `${pfx}k$upRounds`. The standing layer graphs are this at
    * pfx = `hl$l` / salt = `hnswb$l`; the incremental chain's FROZEN
    * old-slice layer graphs reuse it with a `vec_id < base` filter. */
  def oracleLayerCtesAt(l: Int, ratio: Int, k: Int, upRounds: Int,
      pfx: String, salt: String, memberFilter: String = ""): String = {
    val m = math.pow(ratio.toDouble, l.toDouble).toLong
    val and = if (memberFilter.isEmpty) "" else s" AND $memberFilter"
    val pieces = Seq.newBuilder[String]
    def blockSel(tag: String): String = s"""
          SELECT x.node, y.node AS nbr FROM (
            SELECT vec_id AS node,
                   ${hsql(s"'$salt$tag:' || vec_id::VARCHAR")}
                     % (SELECT greatest(1, n // ${k + 1})
                        FROM ${pfx}nn) AS bkt
            FROM ${pfx}nd) x
          JOIN (
            SELECT vec_id AS node,
                   ${hsql(s"'$salt$tag:' || vec_id::VARCHAR")}
                     % (SELECT greatest(1, n // ${k + 1})
                        FROM ${pfx}nn) AS bkt
            FROM ${pfx}nd) y
            ON x.bkt = y.bkt AND x.node <> y.node"""
    pieces += s"""
      ${pfx}nd AS MATERIALIZED (
        SELECT vec_id FROM embeddings
        WHERE ${hsql("'hnsw:' || vec_id::VARCHAR")} % $m = 0$and),
      ${pfx}nn AS (SELECT count(*) AS n FROM ${pfx}nd),
      ${pfx}e0 AS (
        SELECT DISTINCT node, nbr FROM (${blockSel("a")}
          UNION ALL ${blockSel("b")}))"""
    pieces ++= chainCtes(pfx, s"${pfx}e0", k, upRounds)
    pieces.result().mkString(",")
  }

  /** One HNSW layer's standing graph chain — [[oracleLayerCtesAt]] at
    * the build-time prefix/salt, ending at `hl${l}k$upRounds`. */
  def oracleLayerCtes(l: Int, ratio: Int, k: Int, upRounds: Int)
      : String =
    oracleLayerCtesAt(l, ratio, k, upRounds, s"hl$l", s"hnswb$l")

  /** Incremental LAYER-insert chain for level `l` (requires
    * `ndex`/`ndnrm`) — [[incrInsertLayer]]'s oracle twin, all under
    * prefix `il$l`: the frozen OLD layer graph ([[oracleLayerCtesAt]]
    * on the `vec_id < base` members, salt `hnswo$l`, ending
    * `il${l}ok$upRounds`), the bucket-REPRESENTATIVE table
    * `il${l}rp` (old members hashed into max(1, nOld ÷ (k+1)) buckets
    * by salt `hnswi${l}r`, min id per bucket), the new-batch entries
    * `il${l}e0` (bucket md5(`hnswi${l}e`:qid:j) mod nBuckets joined
    * to the representatives), `hops` beam blocks over the frozen
    * layer graph, the seed top-k, the seeded union `il${l}g0`, then
    * `incrRounds` confined repair rounds ([[confinedRoundsCtes]]),
    * ending at `il${l}gf(node, nbr, cos_sim, rnk)`. */
  def oracleIncrLayerCtes(l: Int, ratio: Int, k: Int, upRounds: Int,
      beam: Int, hops: Int, incrRounds: Int, base: Long): String = {
    val pfx = s"il$l"
    val opfx = s"${pfx}o"
    val pieces = Seq.newBuilder[String]
    pieces += oracleLayerCtesAt(l, ratio, k, upRounds, opfx,
      s"hnswo$l", memberFilter = s"vec_id < $base")
    pieces += s"""
      ${pfx}nb AS (SELECT greatest(1, n // ${k + 1}) AS nb
                   FROM ${opfx}nn),
      ${pfx}rp AS MATERIALIZED (
        SELECT ${hsql(s"'hnswi${l}r:' || vec_id::VARCHAR")}
                 % (SELECT nb FROM ${pfx}nb) AS bkt,
               min(vec_id) AS node
        FROM ${opfx}nd GROUP BY 1),
      ${pfx}q AS (
        SELECT vec_id AS qid FROM embeddings
        WHERE ${hsql("'hnsw:' || vec_id::VARCHAR")}
                % ${math.pow(ratio.toDouble, l.toDouble).toLong} = 0
          AND vec_id >= $base),
      ${pfx}e0 AS MATERIALIZED (
        SELECT DISTINCT e.qid, r.node FROM (
          SELECT q.qid,
                 ${hsql(s"'hnswi${l}e:' || q.qid::VARCHAR || ':' || j.j::VARCHAR")}
                   % (SELECT nb FROM ${pfx}nb) AS bkt
          FROM ${pfx}q q, range(1, $beam + 1) j(j)) e
        JOIN ${pfx}rp r ON r.bkt = e.bkt)"""
    pieces += scoreBlockQ(s"${pfx}e0", s"${pfx}xs0")
    pieces += topBBlock(s"${pfx}xs0", s"${pfx}xb0", beam)
    for (h <- 1 to hops) {
      pieces += s"""
      ${pfx}xc$h AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT s.qid, g.nbr AS node
          FROM ${pfx}xb${h - 1} s JOIN ${opfx}k$upRounds g
            ON g.node = s.node
          UNION ALL
          SELECT qid, node FROM ${pfx}xb${h - 1})
        WHERE node <> qid)"""
      pieces += scoreBlockQ(s"${pfx}xc$h", s"${pfx}xs$h")
      pieces += topBBlock(s"${pfx}xs$h", s"${pfx}xb$h", beam)
    }
    pieces += topBBlock(s"${pfx}xb$hops", s"${pfx}sd", k)
    pieces += s"""
      ${pfx}g0 AS MATERIALIZED (
        SELECT node, nbr, cos_sim FROM ${opfx}k$upRounds
        UNION ALL
        SELECT qid AS node, node AS nbr, cos_sim FROM ${pfx}sd),
      ${pfx}t0 AS (SELECT qid AS t FROM ${pfx}q)"""
    pieces ++= confinedRoundsCtes(pfx, k, incrRounds)
    pieces += s"""
      ${pfx}gf AS MATERIALIZED (
        SELECT node, nbr, cos_sim,
               CAST(row_number() OVER (PARTITION BY node
                 ORDER BY cos_sim DESC, nbr) AS BIGINT) AS rnk
        FROM ${pfx}g$incrRounds)"""
    pieces.result().mkString(",")
  }

  /** Hierarchical serving chain (requires `ndex`/`ndnrm`, the base
    * `ndk$baseRounds`, and `oracleLayerCtes` chains for l =
    * 1..levels in the same WITH): query set `hsq`, the top-layer
    * COARSE SCAN `hse0` (every layer-`levels` node), then one
    * candidate/score/beam block per hop — `upHops` hops of width
    * `upBeam` per layer from `levels` down to 1, then `hops` hops of
    * width `beam` over the base graph — the engine's serveHier
    * verbatim. Ends at `hsall(qid, n_scored)` and `hsrv(qid, vid,
    * cos_sim, rnk, n_scored)`. */
  def oracleHierServeCtes(baseRounds: Int, k: Int, upBeam: Int,
      upHops: Int, beam: Int, hops: Int, ratio: Int, levels: Int,
      upRounds: Int, queryFilter: String = "vec_id < 8",
      pfx: String = "hs"): String =
    oracleHierServeCtesFrom(k, upBeam, upHops, beam, hops, levels,
      coarseCte = s"hl${levels}nd",
      layerCte = l => s"hl${l}k$upRounds",
      baseCte = s"ndk$baseRounds", queryFilter, pfx)

  /** The hierarchical-serve chain with EXPLICIT graph sources — the
    * standing serve is this over the `hl*` build chains; the
    * incrementally-MAINTAINED serve reads the `il${l}gf` layer graphs
    * and the `ingf` base graph instead (its coarse scan comes from a
    * caller-provided ALL-members CTE of the top level, which is how
    * "a new node that samples into the top layer becomes an entry"
    * is oracle-checked, not just spec'd). */
  def oracleHierServeCtesFrom(k: Int, upBeam: Int, upHops: Int,
      beam: Int, hops: Int, levels: Int, coarseCte: String,
      layerCte: Int => String, baseCte: String,
      queryFilter: String = "vec_id < 8", pfx: String = "hs")
      : String = {
    val pieces = Seq.newBuilder[String]
    pieces += s"""
      ${pfx}q AS (SELECT vec_id AS qid FROM embeddings
              WHERE $queryFilter),
      ${pfx}e0 AS MATERIALIZED (
        SELECT q.qid, t.vec_id AS node
        FROM ${pfx}q q, $coarseCte t
        WHERE t.vec_id <> q.qid)"""
    pieces += scoreBlockQ(s"${pfx}e0", s"${pfx}s0")
    pieces += topBBlock(s"${pfx}s0", s"${pfx}b0", upBeam)
    var step = 0
    def hopBlock(graphCte: String, b: Int): Unit = {
      val prev = s"${pfx}b$step"
      step += 1
      pieces += s"""
      ${pfx}c$step AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT s.qid, g.nbr AS node
          FROM $prev s JOIN $graphCte g ON g.node = s.node
          UNION ALL
          SELECT qid, node FROM $prev)
        WHERE node <> qid)"""
      pieces += scoreBlockQ(s"${pfx}c$step", s"${pfx}s$step")
      pieces += topBBlock(s"${pfx}s$step", s"${pfx}b$step", b)
    }
    for (l <- levels to 1 by -1; _ <- 1 to upHops)
      hopBlock(layerCte(l), upBeam)
    for (_ <- 1 to hops) hopBlock(baseCte, beam)
    val scoredUnion = (s"SELECT qid, node FROM ${pfx}e0" +:
      (1 to step).map(h => s"SELECT qid, node FROM ${pfx}c$h"))
      .mkString("\n          UNION ALL ")
    pieces += s"""
      ${pfx}all AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_scored FROM (
          SELECT DISTINCT qid, node FROM (
          $scoredUnion))
        GROUP BY 1)"""
    pieces += s"""
      ${pfx}rv AS MATERIALIZED (
        SELECT b.qid, b.node AS vid, b.cos_sim,
               CAST(b.rnk AS BIGINT) AS rnk, a.n_scored
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cos_sim DESC, node) AS rnk
              FROM ${pfx}b$step) b
        JOIN ${pfx}all a ON a.qid = b.qid
        WHERE b.rnk <= $k)"""
    pieces.result().mkString(",")
  }

  /** DiskANN-style graph + PQ serving chain — [[serveHierPq]]'s
    * oracle twin (requires `ndex`/`ndnrm`, the base `ndk$baseRounds`
    * and the `hl*` layer chains in the same WITH), all under prefix
    * `gp`: the PQ pieces (`gpsub`/`gpcent`/`gpd2`/`gpcodes`/`gpqd2` —
    * the [[Similarity.pqParts]] seed-codebook chain verbatim), the
    * coarse-scan entries, ADC-scored hop blocks ranked (adc asc, node
    * asc), the exact cosine re-rank of the final beam, ending at
    * `${pfx}rv(qid, vid, cos_sim, rnk, n_scored, n_exact)`. */
  def oracleHierServePqCtes(baseRounds: Int, k: Int, upBeam: Int,
      upHops: Int, beam: Int, hops: Int, ratio: Int, levels: Int,
      upRounds: Int, m: Int, subK: Int, subDim: Int, rerankR: Int,
      lloydIters: Int = 0, queryFilter: String = "vec_id < 8",
      pfx: String = "gp"): String =
    oracleHierServePqCore(baseRounds, upBeam, upHops, beam, hops,
      ratio, levels, upRounds, m, subK, subDim, lloydIters,
      queryFilter, pfx) + "," +
      oracleHierServePqTail(k, rerankR, pfx, tailPfx = "")

  /** The traversal CORE of the graph+PQ oracle chain — everything up
    * to `${pfx}vis` (distinct ADC-scored candidates) and `${pfx}all`
    * (the n_scored cost row); re-rank tails compose on top, one per
    * rerank_r rung. */
  def oracleHierServePqCore(baseRounds: Int, upBeam: Int,
      upHops: Int, beam: Int, hops: Int, ratio: Int, levels: Int,
      upRounds: Int, m: Int, subK: Int, subDim: Int,
      lloydIters: Int = 0, queryFilter: String = "vec_id < 8",
      pfx: String = "gp", srcCte: String = "ndex"): String = {
    val pieces = Seq.newBuilder[String]
    // the codebook: lloydIters = 0 → the seed-slice centroids
    // (pqTopK's convention); > 0 → one unrolled LloydKmeans chain per
    // subspace from those seeds (the fitted codebook the engine's
    // Similarity.lloydCodebook trains — bit-reproduced, iterative fit
    // included, the q_e_pq_lloyd discipline)
    val centCte =
      if (lloydIters == 0) s"""
      ${pfx}cent AS (
        SELECT vec_id AS c, m, j, x AS y FROM ${pfx}sub
        WHERE vec_id < $subK)"""
      else {
        val chains = (0 until m).map { mi =>
          s"""
      ${pfx}s${mi}pts AS MATERIALIZED (
        SELECT vec_id AS pid, j, x FROM ${pfx}sub
        WHERE m = $mi),""" +
            graft.ml.LloydKmeans.oracleSqlFrom(s"${pfx}s${mi}pts",
              subK, lloydIters, s"${pfx}s${mi}_")
        }.mkString(",")
        val union = (0 until m).map(mi =>
          s"SELECT $mi AS m, c, j, y FROM ${pfx}s${mi}_cent_$lloydIters")
          .mkString("\n        UNION ALL ")
        s"""$chains,
      ${pfx}cent AS (
        $union)"""
      }
    pieces += s"""
      ${pfx}sub AS (
        SELECT vec_id, i // $subDim AS m, i % $subDim AS j, x
        FROM $srcCte),$centCte,
      ${pfx}d2 AS MATERIALIZED (
        SELECT s.vec_id, s.m, c.c,
               CAST(sum(CAST((s.x - c.y) * (s.x - c.y)
                 AS DECIMAL(38,18))) AS DOUBLE) AS d2
        FROM ${pfx}sub s JOIN ${pfx}cent c ON s.m = c.m AND s.j = c.j
        GROUP BY 1, 2, 3),
      ${pfx}codes AS MATERIALIZED (
        SELECT vec_id AS node, m, c FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY round(d2, 6), c) AS rn FROM ${pfx}d2)
        WHERE rn = 1),
      ${pfx}qd2 AS MATERIALIZED (
        SELECT vec_id AS qid, m, c, d2 AS qd2 FROM ${pfx}d2
        WHERE $queryFilter),
      ${pfx}q AS (SELECT DISTINCT qid FROM ${pfx}qd2),
      ${pfx}e0 AS MATERIALIZED (
        SELECT q.qid, t.vec_id AS node
        FROM ${pfx}q q, hl${levels}nd t
        WHERE t.vec_id <> q.qid)"""
    def scoreBlockAdc(src: String, out: String): String = s"""
      $out AS MATERIALIZED (
        SELECT c.qid, c.node,
               round(CAST(sum(CAST(q.qd2 AS DECIMAL(38,18)))
                 AS DOUBLE), 6) AS adc
        FROM $src c JOIN ${pfx}codes k ON k.node = c.node
                    JOIN ${pfx}qd2 q ON q.qid = c.qid
                      AND q.m = k.m AND q.c = k.c
        GROUP BY 1, 2)"""
    def topBAscBlock(src: String, out: String, b: Int): String = s"""
      $out AS MATERIALIZED (
        SELECT qid, node, adc FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY adc, node) AS rnk FROM $src)
        WHERE rnk <= $b)"""
    pieces += scoreBlockAdc(s"${pfx}e0", s"${pfx}as0")
    pieces += topBAscBlock(s"${pfx}as0", s"${pfx}b0", upBeam)
    var step = 0
    def hopBlock(graphCte: String, b: Int): Unit = {
      val prev = s"${pfx}b$step"
      step += 1
      pieces += s"""
      ${pfx}c$step AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT s.qid, g.nbr AS node
          FROM $prev s JOIN $graphCte g ON g.node = s.node
          UNION ALL
          SELECT qid, node FROM $prev)
        WHERE node <> qid)"""
      pieces += scoreBlockAdc(s"${pfx}c$step", s"${pfx}as$step")
      pieces += topBAscBlock(s"${pfx}as$step", s"${pfx}b$step", b)
    }
    for (l <- levels to 1 by -1; _ <- 1 to upHops)
      hopBlock(s"hl${l}k$upRounds", upBeam)
    for (_ <- 1 to hops) hopBlock(s"ndk$baseRounds", beam)
    val scoredUnion = (s"SELECT qid, node FROM ${pfx}e0" +:
      (1 to step).map(h => s"SELECT qid, node FROM ${pfx}c$h"))
      .mkString("\n          UNION ALL ")
    val visitedUnion = (0 to step)
      .map(h => s"SELECT qid, node, adc FROM ${pfx}as$h")
      .mkString("\n          UNION ALL ")
    pieces += s"""
      ${pfx}all AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_scored FROM (
          SELECT DISTINCT qid, node FROM (
          $scoredUnion))
        GROUP BY 1),
      ${pfx}vis AS (
        SELECT DISTINCT qid, node, adc FROM (
          $visitedUnion))"""
    pieces.result().mkString(",")
  }

  /** One exact-re-rank TAIL over the core's `${pfx}vis`/`${pfx}all`:
    * pool = ADC-best `rerankR`, cosine re-rank, top-k + cost columns,
    * ending at `${pfx}${tailPfx}rv`. The default serve is the tail at
    * tailPfx = ""; the rerank frontier emits one tail per rung. */
  def oracleHierServePqTail(k: Int, rerankR: Int, pfx: String,
      tailPfx: String): String = {
    val t = s"$pfx$tailPfx"
    val pieces = Seq.newBuilder[String]
    pieces += s"""
      ${t}pool AS MATERIALIZED (
        SELECT qid, node, adc FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY adc, node) AS rnk FROM ${pfx}vis)
        WHERE rnk <= $rerankR),
      ${t}nx AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
        FROM ${t}pool GROUP BY 1)"""
    pieces += scoreBlockQ(s"${t}pool", s"${t}ex")
    pieces += s"""
      ${t}rv AS MATERIALIZED (
        SELECT b.qid, b.node AS vid, b.cos_sim,
               CAST(b.rnk AS BIGINT) AS rnk, a.n_scored, x.n_exact
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cos_sim DESC, node) AS rnk
              FROM ${t}ex) b
        JOIN ${pfx}all a ON a.qid = b.qid
        JOIN ${t}nx x ON x.qid = b.qid
        WHERE b.rnk <= $k)"""
    pieces.result().mkString(",")
  }

  /** Beam-search serving chain over the [[oracleCtes]] graph
    * (requires `ndex`/`ndnrm`/`ndk$rounds` in the same WITH): query
    * set `nsq`, md5 entry nodes `nse0`, per-hop candidate/score/beam
    * blocks, the distinct scored-candidate count `nsall`, ending at
    * `nsrv(qid, vid, cos_sim, rnk, n_scored)`. */
  def oracleServeCtes(rounds: Int, k: Int, beam: Int, hops: Int,
      queryFilter: String = "vec_id < 8"): String = {
    val pieces = Seq.newBuilder[String]
    pieces += s"""
      nsq AS (SELECT vec_id AS qid FROM embeddings
              WHERE $queryFilter),
      nse0 AS (
        SELECT DISTINCT qid, node FROM (
          SELECT q.qid,
                 ${hsql("'sv:' || q.qid::VARCHAR || ':' || r.j::VARCHAR")}
                   % nn.n AS node
          FROM nsq q, range(1, $beam + 1) r(j), ndnn nn)
        WHERE node <> qid)"""
    pieces += scoreBlockQ("nse0", "nss0")
    pieces += topBBlock("nss0", "nsb0", beam)
    for (h <- 1 to hops) {
      pieces += s"""
      nsc$h AS MATERIALIZED (
        SELECT DISTINCT qid, node FROM (
          SELECT s.qid, g.nbr AS node
          FROM nsb${h - 1} s JOIN ndk$rounds g ON g.node = s.node
          UNION ALL
          SELECT qid, node FROM nsb${h - 1})
        WHERE node <> qid)"""
      pieces += scoreBlockQ(s"nsc$h", s"nss$h")
      pieces += topBBlock(s"nss$h", s"nsb$h", beam)
    }
    val scoredUnion = (s"SELECT qid, node FROM nse0" +:
      (1 to hops).map(h => s"SELECT qid, node FROM nsc$h"))
      .mkString("\n          UNION ALL ")
    pieces += s"""
      nsall AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_scored FROM (
          SELECT DISTINCT qid, node FROM (
          $scoredUnion))
        GROUP BY 1)"""
    pieces += s"""
      nsrv AS MATERIALIZED (
        SELECT b.qid, b.node AS vid, b.cos_sim,
               CAST(b.rnk AS BIGINT) AS rnk, a.n_scored
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cos_sim DESC, node) AS rnk
              FROM nsb$hops) b
        JOIN nsall a ON a.qid = b.qid
        WHERE b.rnk <= $k)"""
    pieces.result().mkString(",")
  }

  /** Brute-force all-nodes top-k truth CTE `ndt(node, nbr)` (the
    * recall denominator — fixture-scale only; requires `ndex`/`ndnrm`
    * from [[oracleCtes]] in the same WITH). */
  def oracleTruthCte(k: Int): String = s"""
      ndt_d AS (
        SELECT a.vec_id AS node, b.vec_id AS nbr, sum(a.x * b.x) AS dot
        FROM ndex a JOIN ndex b ON a.i = b.i
          AND a.vec_id <> b.vec_id
        GROUP BY 1, 2),
      ndt AS MATERIALIZED (
        SELECT node, nbr FROM (
          SELECT d.node, d.nbr,
                 row_number() OVER (PARTITION BY d.node
                   ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC,
                     d.nbr) AS rnk
          FROM ndt_d d JOIN ndnrm na ON na.vec_id = d.node
                       JOIN ndnrm nb ON nb.vec_id = d.nbr)
        WHERE rnk <= $k)"""
}
