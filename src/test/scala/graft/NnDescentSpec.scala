package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.{NnDescent, Similarity}

/** NN-Descent semantics: the md5 init must be self-loop-free,
  * k-bounded and deterministic; the built graph must be a valid
  * top-k-per-node edge list (dense ranks, similarity-descending);
  * and the local-join rounds must strictly improve recall against
  * the brute-force truth on the fixture embeddings. */
class NnDescentSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") < 120)

  test("init edges: no self loops, at most k per node, deterministic") {
    val e1 = NnDescent.initEdges(emb, 5, 120).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val e2 = NnDescent.initEdges(emb, 5, 120).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(e1.sameElements(e2), "md5 init must be deterministic")
    assert(e1.forall { case (n, b) => n != b }, "no self loops")
    val perNode = e1.groupBy(_._1).view.mapValues(_.length)
    assert(perNode.values.forall(_ <= 5))
    assert(e1.forall { case (_, b) => b >= 0 && b < 120 },
      "neighbors must be in-range vec_ids")
  }

  test("built graph is a valid top-k edge list: dense ranks, " +
      "similarity-descending, k-bounded") {
    val g = NnDescent.build(emb, k = 5, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    val byNode = g.groupBy(_._1)
    assert(byNode.size == 120)
    byNode.foreach { case (n, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rows.length),
        s"node $n ranks not dense")
      assert(sorted.length <= 5)
      // ranks follow (cos desc, nbr asc)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
            s"node $n rank order violated")
        case _ =>
      }
    }
  }

  test("local-join rounds strictly improve recall over the init graph") {
    val truth = Similarity.cosineTopK(emb, lit(true), 5)
      .select(col("qid"), col("vid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rounds: Int): Double = {
      val g = NnDescent.build(emb, k = 5, rounds = rounds)
        .select("node", "nbr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      g.count(truth.contains).toDouble / truth.size
    }
    val r0 = recall(0)
    val r2 = recall(2)
    assert(r2 > r0,
      s"rounds must improve recall: init $r0 vs 2-round $r2")
  }

  test("beam serving: monotone in hops, scored-candidate count " +
      "bounded by beam·(k+1)·hops + beam") {
    val graph = NnDescent.build(emb, k = 5, rounds = 2)
    val truth = Similarity.cosineTopK(emb, col("vec_id") < 8, 3)
      .select(col("qid"), col("vid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def served(hops: Int) = NnDescent
      .serve(emb, graph, col("vec_id") < 8, k = 3, beam = 6,
        hops = hops)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val h0 = served(0)
    val h3 = served(3)
    def rec(rows: Array[(Long, Long, Long)]) =
      rows.count { case (q, v, _) => truth((q, v)) }.toDouble /
        truth.size
    assert(rec(h3) >= rec(h0),
      s"hops must not hurt recall: ${rec(h0)} vs ${rec(h3)}")
    // the served cost bound: entries (≤ beam) + hops rounds of
    // ≤ beam·(k+1) candidates each
    val bound = 6 + 3 * 6 * (5 + 1)
    assert(h3.forall(_._3 <= bound),
      s"n_scored exceeded the beam·(k+1)·hops bound $bound")
    // serving is deterministic
    assert(served(3).sortBy(r => (r._1, r._2))
      .sameElements(h3.sortBy(r => (r._1, r._2))))
  }

  test("dense-id precondition: build/serve refuse a sparse id slice") {
    val sparse = emb.filter(col("vec_id") % 2 === 0)
    val e = intercept[IllegalArgumentException] {
      NnDescent.build(sparse, 5, 1)
    }
    assert(e.getMessage.contains("dense"))
  }

  test("hnsw layers: nested by construction, deterministic subset " +
      "builds, bucket init has no self loops") {
    val l1 = emb.filter(NnDescent.layerPred(col("vec_id"), 1, 4))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val l2 = emb.filter(NnDescent.layerPred(col("vec_id"), 2, 4))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(l2.nonEmpty && l2.subsetOf(l1),
      s"layer 2 (${l2.size}) must nest inside layer 1 (${l1.size})")
    assert(l1.size < 120, "layer 1 must be a strict sample")
    val sub = emb.filter(NnDescent.layerPred(col("vec_id"), 1, 4))
    val init = NnDescent.bucketInitEdges(sub, 5, l1.size, "s")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(init.forall { case (n, b) => n != b }, "no self loops")
    assert(init.forall { case (n, b) => l1(n) && l1(b) },
      "bucket init must stay inside the subset")
    val g1 = NnDescent.buildSubset(sub, 5, 1, "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val g2 = NnDescent.buildSubset(sub, 5, 1, "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(g1.sameElements(g2), "subset build must be deterministic")
    assert(g1.forall { case (n, b, _) => l1(n) && l1(b) })
  }

  test("hierarchical serving: deterministic, cost-bounded, and base " +
      "hops monotone in recall") {
    val base = NnDescent.build(emb, k = 5, rounds = 2)
    val layers = NnDescent.buildLayers(emb, 5, 1, 4, 2)
    val truth = Similarity.cosineTopK(emb, col("vec_id") < 8, 3)
      .select(col("qid"), col("vid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def served(hops: Int) = NnDescent
      .serveHier(emb, base, layers, col("vec_id") < 8, k = 3,
        upBeam = 4, upHops = 1, beam = 6, hops = hops, ratio = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val h0 = served(0)
    val h2 = served(2)
    def rec(rows: Array[(Long, Long, Long)]) =
      rows.count { case (q, v, _) => truth((q, v)) }.toDouble /
        truth.size
    assert(rec(h2) >= rec(h0),
      s"base hops must not hurt recall: ${rec(h0)} vs ${rec(h2)}")
    // cost bound: coarse scan (≤ |layer 2|) + per-layer upHops rounds
    // of ≤ upBeam·(k+1) + base hops of ≤ beam·(k+1)
    val l2n = emb.filter(NnDescent.layerPred(col("vec_id"), 2, 4))
      .count()
    val bound = l2n + 2 * 1 * 4 * (5 + 1) + 2 * 6 * (5 + 1)
    assert(h2.forall(_._3 <= bound),
      s"n_scored exceeded the layered bound $bound: " +
        h2.map(_._3).max)
    assert(served(2).sortBy(r => (r._1, r._2))
      .sameElements(h2.sortBy(r => (r._1, r._2))),
      "hierarchical serving must be deterministic")
  }

  test("incremental insert: deterministic, old nodes outside the " +
      "blast radius keep their edges, recall within 0.15 of a full " +
      "rebuild") {
    val base = 96L
    val baseGraph = NnDescent.build(
      emb.filter(col("vec_id") < base), k = 5, rounds = 2)
    val incr = NnDescent.incrInsert(emb, baseGraph, base, k = 5,
      beam = 6, hops = 2, incrRounds = 2)
    val incr2 = NnDescent.incrInsert(emb, baseGraph, base, k = 5,
      beam = 6, hops = 2, incrRounds = 2)
    val g1 = incr.select("node", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(g1.sameElements(incr2.select("node", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted),
      "incremental insert must be deterministic")
    // every node (old and new) carries ≤ k edges; new nodes have
    // edges at all (the seed path worked)
    val byNode = g1.groupBy(_._1)
    assert(byNode.size == 120, "all nodes must appear")
    assert(byNode.values.forall(_.length <= 5))
    // recall vs the full rebuild within a stated bound: the repair
    // rounds are CONFINED, so some old-node improvements a rebuild
    // would find are deliberately skipped — bounded, not free
    val truth = Similarity.cosineTopK(emb, lit(true), 5)
      .select(col("qid"), col("vid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuild = NnDescent.build(emb, k = 5, rounds = 2)
      .select("node", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rIncr = g1.count(truth.contains).toDouble / truth.size
    val rReb = rebuild.count(truth.contains).toDouble / truth.size
    assert(rIncr >= rReb - 0.15,
      s"incremental recall $rIncr must stay within 0.15 of the " +
        s"rebuild's $rReb")
  }

  test("incremental hierarchy maintenance: deterministic, every new " +
      "layer member attaches, hierarchical-serve recall within 0.25 " +
      "of a full rebuild") {
    val base = 96L
    val (k, ratio, levels) = (5, 3, 2)
    def layerSlice(l: Int, old: Boolean) = {
      val p = NnDescent.layerPred(col("vec_id"), l, ratio)
      emb.filter(if (old) p && col("vec_id") < base else p)
    }
    val oldLayers = (1 to levels).map(l =>
      NnDescent.buildSubset(layerSlice(l, old = true), k, 2,
        salt = s"hnswo$l"))
    val incrLayers = NnDescent.incrInsertLayers(emb, oldLayers, base,
      ratio, k, beam = 6, hops = 2, incrRounds = 2)
    val incrLayers2 = NnDescent.incrInsertLayers(emb, oldLayers, base,
      ratio, k, beam = 6, hops = 2, incrRounds = 2)
    for (l <- 1 to levels) {
      val g1 = incrLayers(l - 1).select("node", "nbr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      val g2 = incrLayers2(l - 1).select("node", "nbr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(g1.sameElements(g2),
        s"layer $l incremental insert must be deterministic")
      // every layer member — old and new — carries ≤ k edges, and
      // every NEW member attached (the bucket-representative seed
      // path worked: layer assignment is layerPred, so a detached
      // new top-layer node would poison the coarse scan)
      val members = layerSlice(l, old = false).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      val byNode = g1.groupBy(_._1)
      assert(byNode.keySet == members,
        s"layer $l: all ${members.size} members must carry edges")
      assert(byNode.values.forall(_.length <= k))
      // old layer members outside the blast radius keep their edges:
      // the maintained graph never DROPS an old node
      assert(members.filter(_ < base).subsetOf(byNode.keySet))
    }
    // serve lock: the maintained hierarchy's recall stays within a
    // stated bound of the full rebuild's (confined repairs skip some
    // improvements a rebuild would find — bounded, not free)
    val baseOld = NnDescent.build(
      emb.filter(col("vec_id") < base), k, rounds = 2)
    val baseIncr = NnDescent.incrInsert(emb, baseOld, base, k,
      beam = 6, hops = 2, incrRounds = 2)
    val baseFull = NnDescent.build(emb, k, rounds = 2)
    val layersFull = NnDescent.buildLayers(emb, k, 2, ratio, levels)
    val truth = Similarity.cosineTopK(emb, col("vec_id") < 8, 3)
      .select(col("qid"), col("vid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(b: DataFrame, ls: Seq[DataFrame]): Double = {
      val got = NnDescent.serveHier(emb, b, ls, col("vec_id") < 8,
          k = 3, upBeam = 4, upHops = 1, beam = 6, hops = 2,
          ratio = ratio)
        .select("qid", "vid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      got.count(truth.contains).toDouble / truth.size
    }
    val rIncr = recallOf(baseIncr, incrLayers)
    val rReb = recallOf(baseFull, layersFull)
    assert(rIncr >= rReb - 0.25,
      s"maintained-hierarchy recall $rIncr must stay within 0.25 " +
        s"of the rebuild's $rReb")
  }

  test("fused hop rounds (default) ≡ the retired one-checkpoint-" +
      "per-hop serve, flat and hierarchical") {
    // beamHops checkpoints every 2nd beam state (halves the serve's
    // eager-job count); fuse = 1 checkpoints every hop — the
    // (state, cands) frame sequence must be bit-identical either way.
    val graph = NnDescent.build(emb, k = 5, rounds = 2)
    def flat(fuse: Int) =
      NnDescent.serve(emb, graph, col("vec_id") < 8, k = 3, beam = 6,
          hops = 3, fuse = fuse)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3), r.getLong(4))).sorted.toSeq
    assert(flat(2) == flat(1),
      "flat serve: fused rounds moved a value")
    val layers = NnDescent.buildLayers(emb, 5, 2, ratio = 4,
      levels = 1)
    def hier(fuse: Int) =
      NnDescent.serveHier(emb, graph, layers, col("vec_id") < 8,
          k = 3, upBeam = 4, upHops = 1, beam = 6, hops = 3,
          ratio = 4, fuse = fuse)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3), r.getLong(4))).sorted.toSeq
    assert(hier(2) == hier(1),
      "hier serve: fused rounds moved a value (layer-boundary fusion)")
  }
}
