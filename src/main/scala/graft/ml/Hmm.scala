package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gaussian HMM with diagonal covariance — custom implementation (MLlib
  * has no HMM): Baum-Welch EM fit + Viterbi decode + posterior smoothing
  * (ref: src/mf_etl/research_hmm/hmm_model.py:31-104,
  * src/mf_etl/research_hmm/decode.py:146-156,
  * src/mf_etl/research_hmm/sequence_builder.py:33-110).
  *
  * Scale design: the model is tiny (k states × d features); the FIT input
  * is a bounded, deterministically-capped sample assembled distributedly
  * (per-key row cap + min-length filter + global points budget — all
  * enforced BEFORE anything reaches the driver, so driver memory is
  * O(points budget · d) no matter how large the input is). DECODE runs
  * fully distributed — the fitted model broadcasts and each key's Viterbi
  * pass is an independent `flatMapGroups` task. This mirrors the
  * reference's contract (in-memory hmmlearn fit over filtered sequences,
  * decode over everything) while staying safe at cluster scale.
  */
object Hmm {

  case class Model(k: Int, d: Int, logPi: Array[Double],
    logA: Array[Array[Double]], means: Array[Array[Double]],
    vars: Array[Array[Double]]) extends Serializable

  /** Fit diagnostics alongside the model (ref hmm_model.py:79-95). */
  case class FitResult(model: Model, logLik: Double, nIterUsed: Int,
    converged: Boolean, nObs: Long, nSeqs: Int) extends Serializable

  private val MinVar = 1e-6

  private def logSumExp(xs: Array[Double]): Double = {
    var m = Double.NegativeInfinity
    var i = 0
    while (i < xs.length) { if (xs(i) > m) m = xs(i); i += 1 }
    if (m.isNegInfinity) return Double.NegativeInfinity
    var acc = 0.0
    i = 0
    while (i < xs.length) { acc += math.exp(xs(i) - m); i += 1 }
    m + math.log(acc)
  }

  /** Diagonal-Gaussian log density of observation x under state s. */
  private def logB(m: Model, s: Int, x: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < m.d) {
      val v = m.vars(s)(j)
      val diff = x(j) - m.means(s)(j)
      acc += -0.5 * (math.log(2 * math.Pi * v) + diff * diff / v)
      j += 1
    }
    acc
  }

  /** Deterministic init: states seeded from evenly-spaced quantile anchors
    * of the pooled data (no RNG — reproducible across runs/clusters). */
  def init(k: Int, seqs: Seq[Array[Array[Double]]]): Model = {
    val all = seqs.flatten.toArray
    val d = all.head.length
    val n = all.length
    val byDim = Array.tabulate(d) { j => all.map(_(j)).sorted }
    val means = Array.tabulate(k) { s =>
      Array.tabulate(d) { j => byDim(j)(((s + 1) * n) / (k + 1) min (n - 1)) }
    }
    val gVar = Array.tabulate(d) { j =>
      val m = byDim(j).sum / n
      math.max(byDim(j).map(x => (x - m) * (x - m)).sum / n, MinVar)
    }
    Model(k, d,
      Array.fill(k)(math.log(1.0 / k)),
      Array.fill(k)(Array.fill(k)(math.log(1.0 / k))),
      means, Array.fill(k)(gVar.clone()))
  }

  /** Baum-Welch E-step sufficient statistics for a set of sequences —
    * the per-partition unit of the distributed fit and the whole-sample
    * unit of the driver fit (ONE implementation, so the two fits can't
    * drift). Additive: `merge` sums component-wise, which is exactly
    * how forward-backward statistics of independent sequences combine
    * (the standard distributed Baum-Welch split: E on executors, M on
    * the driver). */
  private[ml] final class EAcc(val k: Int, val d: Int)
      extends Serializable {
    val piAcc = Array.fill(k)(0.0)
    val aAcc = Array.fill(k, k)(0.0)
    val muAcc = Array.fill(k, d)(0.0)
    val vAcc = Array.fill(k, d)(0.0)
    val gSum = Array.fill(k)(0.0)
    var ll = 0.0

    /** Accumulate one sequence's forward-backward statistics under
      * model `m`. Hot loops are `while` with a reused scratch buffer —
      * no per-cell allocation. */
    def add(m: Model, seq: Array[Array[Double]]): Unit = {
      if (seq.isEmpty) return
      val buf = new Array[Double](k)
      val t = seq.length
      val lb = Array.ofDim[Double](t, k)
      var i = 0
      while (i < t) {
        var s = 0
        while (s < k) { lb(i)(s) = logB(m, s, seq(i)); s += 1 }
        i += 1
      }
      // forward
      val alpha = Array.ofDim[Double](t, k)
      var s = 0
      while (s < k) { alpha(0)(s) = m.logPi(s) + lb(0)(s); s += 1 }
      i = 1
      while (i < t) {
        s = 0
        while (s < k) {
          var p = 0
          while (p < k) { buf(p) = alpha(i - 1)(p) + m.logA(p)(s); p += 1 }
          alpha(i)(s) = logSumExp(buf) + lb(i)(s)
          s += 1
        }
        i += 1
      }
      // backward
      val beta = Array.ofDim[Double](t, k)
      i = t - 2
      while (i >= 0) {
        s = 0
        while (s < k) {
          var q = 0
          while (q < k) {
            buf(q) = m.logA(s)(q) + lb(i + 1)(q) + beta(i + 1)(q); q += 1
          }
          beta(i)(s) = logSumExp(buf)
          s += 1
        }
        i -= 1
      }
      val seqLl = logSumExp(alpha(t - 1))
      ll += seqLl
      // gamma / xi accumulation
      i = 0
      while (i < t) {
        s = 0
        while (s < k) {
          val w = math.exp(alpha(i)(s) + beta(i)(s) - seqLl)
          if (i == 0) piAcc(s) += w
          gSum(s) += w
          var j = 0
          while (j < d) {
            val x = seq(i)(j)
            muAcc(s)(j) += w * x
            vAcc(s)(j) += w * x * x
            j += 1
          }
          s += 1
        }
        if (i < t - 1) {
          s = 0
          while (s < k) {
            var q = 0
            while (q < k) {
              aAcc(s)(q) += math.exp(alpha(i)(s) + m.logA(s)(q)
                + lb(i + 1)(q) + beta(i + 1)(q) - seqLl)
              q += 1
            }
            s += 1
          }
        }
        i += 1
      }
    }

    def merge(o: EAcc): EAcc = {
      var s = 0
      while (s < k) {
        piAcc(s) += o.piAcc(s)
        gSum(s) += o.gSum(s)
        var q = 0
        while (q < k) { aAcc(s)(q) += o.aAcc(s)(q); q += 1 }
        var j = 0
        while (j < d) {
          muAcc(s)(j) += o.muAcc(s)(j)
          vAcc(s)(j) += o.vAcc(s)(j)
          j += 1
        }
        s += 1
      }
      ll += o.ll
      this
    }
  }

  /** M-step: next model from accumulated statistics (shared verbatim by
    * the driver and distributed fits). */
  private def mStep(m: Model, acc: EAcc): Model = {
    val k = m.k
    val piSum = acc.piAcc.sum
    val newPi = acc.piAcc.map(p => math.log(math.max(p / piSum, 1e-12)))
    val newA = Array.tabulate(k) { s =>
      val rs = acc.aAcc(s).sum
      if (rs <= 0) m.logA(s)
      else acc.aAcc(s).map(x => math.log(math.max(x / rs, 1e-12)))
    }
    val newMu = Array.tabulate(k, m.d)((s, j) =>
      if (acc.gSum(s) > 0) acc.muAcc(s)(j) / acc.gSum(s)
      else m.means(s)(j))
    val newVar = Array.tabulate(k, m.d)((s, j) =>
      if (acc.gSum(s) > 0)
        math.max(acc.vAcc(s)(j) / acc.gSum(s)
          - newMu(s)(j) * newMu(s)(j), MinVar)
      else m.vars(s)(j))
    Model(k, m.d, newPi, newA, newMu, newVar)
  }

  /** E-step points in one partition of a distributed fit, and the most
    * points a fit folds on the driver. Measured on a 4-core host: a
    * spread round is a whole Spark job, ~37 ms for one task in a warm
    * JVM and ~100 ms for a JVM's first (the retired Dataset round with
    * its per-round plan and broadcast cost ~77 ms on top of its
    * arithmetic), while the E-step costs 1.7 µs per point at k = 5,
    * d = 2 warm and 3–4 µs in a fresh JVM. Splitting a round's N points
    * over two tasks saves N·c/2 of fold time for one job's cost J, so
    * the driver fold wins below N = 2J/c ≈ 30–60k points; 32k points
    * takes the fresh-JVM end of that range. */
  private[graft] val PointsPerPart = 32768L

  /** A key and its time-sorted observation sequence. */
  private type Keyed = (String, Array[Array[Double]])

  /** One EM chain over a fit's sequences — the loop of the driver fit,
    * the distributed fit and every sweep chain. Each round's E-step is
    * one [[FitRounds.round]]: the model rides the fold's closure (k·d
    * doubles), and partials merge in partition order. Returns (model,
    * last log-likelihood, rounds run, converged). */
  private def em(rounds: FitRounds[Keyed], m0: Model, nIter: Int,
      tol: Double): (Model, Double, Int, Boolean) = {
    var m = m0
    var prevLl = Double.NegativeInfinity
    var ll = Double.NegativeInfinity
    var it = 0
    var done = false
    while (it < nIter && !done) {
      val mdl = m
      val acc = rounds.round(it + 1)(() => new EAcc(mdl.k, mdl.d)) {
        (a, r) => a.add(mdl, r._2); a
      }(_ merge _)
      ll = acc.ll
      m = mStep(m, acc)
      if (math.abs(ll - prevLl) < tol) done = true
      prevLl = ll
      it += 1
    }
    (m, ll, it, done)
  }

  /** Baum-Welch fit over per-key sequences (driver-side over the bounded
    * sample, like the reference's hmmlearn call), folded in the given
    * order. */
  def fitResult(seqs: Seq[Array[Array[Double]]], k: Int, nIter: Int = 50,
      tol: Double = 1e-3): FitResult = {
    val (m, ll, it, done) = em(
      FitRounds.local("hmm", nIter, seqs.map(("", _)).toIndexedSeq),
      init(k, seqs), nIter, tol)
    FitResult(m, ll, it, done, seqs.map(_.length.toLong).sum, seqs.size)
  }

  /** Baum-Welch fit over the per-key sequences of a (key, ts, features)
    * frame, for inputs of any size. The (key → time-sorted sequence)
    * assembly is one shuffle, sized and cached once by [[FitRounds]]:
    * up to [[PointsPerPart]] points the sequences fold on the driver in
    * sorted-key order, so the result is bit-identical to [[fitResult]]
    * on the key-sorted sequences; above it every EM round is one job of
    * per-partition forward-backward statistics ([[EAcc]], the same code
    * the driver fit runs) merged in partition order for the M-step, and
    * driver memory is O(k·d + #keys). The spread fit equals the driver
    * fit up to floating-point summation order across partitions and is
    * bit-identical run to run (HmmSpec locks both). */
  def fitResultDistributed(df: DataFrame, k: Int, nIter: Int = 50,
      tol: Double = 1e-3, minLen: Int = 2,
      maxInitPoints: Long = 500000L): FitResult = {
    val rounds = sequences("hmm", nIter, assembleSequences(df, minLen))
    try {
      // per-key length table: one driver row per key — the remaining
      // driver-memory term is O(#keys), not O(points); FitResult.nSeqs
      // is an Int, so key counts beyond Int.MaxValue are refused
      // loudly instead of silently wrapping
      val lens = rounds.collect { case (key, s) => (key, s.length.toLong) }
        .sortBy(_._1)
      val nSeqs = lens.length.toLong
      val nObs = lens.map(_._2).sum
      require(nSeqs > 0, "no sequences of length >= minLen to fit")
      require(nSeqs <= Int.MaxValue,
        s"$nSeqs sequences exceed FitResult.nSeqs capacity")
      // init needs pooled quantile anchors; the pool is a BOUNDED
      // deterministic sample — keys admitted in sorted-key order until
      // `maxInitPoints` points are spent (whole keys, so the hard
      // bound is maxInitPoints + one key — the collectSequences budget
      // discipline). init itself is input-order-independent (it sorts
      // per dimension), so when the cap does not bind this equals the
      // driver fit's init on the same sequences exactly.
      val initKeys = {
        var budget = maxInitPoints
        val keep = scala.collection.mutable.LinkedHashSet.empty[String]
        for ((key, n) <- lens if budget > 0) { keep += key; budget -= n }
        keep.toSet
      }
      val initPool = rounds.collect {
        case (key, s) if initKeys.contains(key) => (key, s)
      }.sortBy(_._1).map(_._2)
      val (m, ll, it, done) =
        em(rounds, init(k, initPool), nIter, tol)
      FitResult(m, ll, it, done, nObs, nSeqs.toInt)
    } finally rounds.close()
  }

  /** The assembled sequences as a fit's rounds: weighed in points,
    * folded on the driver in sorted-key order when they fit one
    * partition. */
  private def sequences(name: String, nIter: Int, seqs: RDD[Keyed])
      : FitRounds[Keyed] =
    FitRounds(name, nIter, seqs, (r: Keyed) => r._2.length.toLong,
      PointsPerPart, Some(Ordering.by(_._1)))

  /** Executor-side (key → time-sorted sequence) assembly — the one
    * shuffle of the distributed fit and of the sweep. */
  private def assembleSequences(df: DataFrame, minLen: Int)
      : RDD[Keyed] = {
    val spark = df.sparkSession
    import spark.implicits._
    implicit val seqEnc: org.apache.spark.sql.Encoder[Keyed] =
      org.apache.spark.sql.Encoders.kryo[Keyed]
    df.select(col("key").cast("string"), col("ts").cast("long"),
        col("features").cast("array<double>"))
      .as[(String, Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups((key, it) => (key, it.toArray.sortBy(_._2).map(_._3)))
      .filter(_._2.length >= minLen)
      .rdd
  }

  /** Distributed model-selection SWEEP — the scale path of the
    * reference's hmm-sweep (research_hmm/pipeline.py:791-858): ONE
    * sequence assembly shuffle (the same per-key cap / min-length /
    * sorted-key global-budget admission as [[collectSequences]], so the
    * fit input is identical to the driver-sample contract), sized and
    * cached once by [[FitRounds]], then one EM chain per component
    * count. The per-k chains are independent and run CONCURRENTLY
    * (Pools.awaitAll), so the sweep's wall-clock is the slowest single
    * chain, not the sum: on the driver fold each chain folds the shared
    * rows on its own thread; spread, each chain's rounds are its own
    * job chain over the shared cache. A model's statistics never mix
    * with another's, so every k's trajectory is bit-identical whether
    * it runs alone or in the sweep (HmmSpec). Driver memory is bounded
    * by the admission budget (the init pool collects the whole capped
    * admission). */
  def fitSweepDistributed(df: DataFrame, ks: Seq[Int], nIter: Int,
      tol: Double = 1e-3, minLen: Int = 2, maxPerKey: Int = Int.MaxValue,
      maxTotalPoints: Long = 500000L): Seq[(Int, FitResult)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val typed = df.select(col("key").cast("string"),
      col("ts").cast("long"), col("features").cast("array<double>"))
    val capped = typed
      .withColumn("rn",
        row_number().over(Window.partitionBy("key").orderBy("ts")))
      .where(col("rn") <= maxPerKey)
      .drop("rn")
    // sorted-key global-budget admission: the per-key lengths are ≤
    // one row per ticker, so the exclusive prefix sum runs on the
    // driver — no single-task unpartitioned window (same sorted order,
    // same long arithmetic, identical admitted set)
    val lens = capped.groupBy("key").agg(count(lit(1)).as("n"))
      .where(col("n") >= minLen)
      .select(col("key"), col("n").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    var admCum = 0L
    val adm = lens.flatMap { case (k, n) =>
      val before = admCum; admCum += n
      if (before < maxTotalPoints) Some((k, n)) else None
    }
    require(adm.nonEmpty, "no sequences of length >= minLen to fit")
    val nObs = adm.map(_._2).sum
    // the admitted key set is already on the driver (`adm`): joining
    // against a literal frame of it spares re-evaluating the
    // admission window subtree inside the assembly plan (same key
    // set, identical join rows)
    val admKeys = spark.createDataset(adm.map(_._1).toSeq).toDF("key")
    val rounds = sequences("hmm sweep", nIter, assembleSequences(
      capped.join(broadcast(admKeys), Seq("key")), minLen))
    try {
      // init pool: whole capped admission (the sweep budget already
      // bounds it), sorted-key deterministic like fitResultDistributed
      val initPool = rounds.collect { case (key, s) => (key, s) }
        .sortBy(_._1).map(_._2)
      graft.ops.Pools.awaitAll(ks.map { k => () =>
        val (m, ll, it, done) =
          em(rounds, init(k, initPool), nIter, tol)
        k -> FitResult(m, ll, it, done, nObs, adm.length)
      })
    } finally rounds.close()
  }

  def fit(seqs: Seq[Array[Array[Double]]], k: Int, nIter: Int = 50,
      tol: Double = 1e-3): Model = fitResult(seqs, k, nIter, tol).model

  /** Free-parameter count of a diag-covariance Gaussian HMM:
    * (k-1) initial + k(k-1) transition + 2kd emission. */
  def numParams(k: Int, d: Int): Int = (k - 1) + k * (k - 1) + 2 * k * d

  /** BIC = -2·ll + p·ln(n) — lower is better (standard model-selection
    * criterion for the reference's 4..8-component sweep). */
  def bic(ll: Double, k: Int, d: Int, n: Long): Double =
    -2.0 * ll + numParams(k, d) * math.log(n.toDouble)

  /** Viterbi decode of one sequence → most likely state path. */
  def viterbi(m: Model, seq: Array[Array[Double]]): Array[Int] = {
    val t = seq.length
    if (t == 0) return Array.empty
    val delta = Array.ofDim[Double](t, m.k)
    val psi = Array.ofDim[Int](t, m.k)
    for (s <- 0 until m.k) delta(0)(s) = m.logPi(s) + logB(m, s, seq(0))
    for (i <- 1 until t; s <- 0 until m.k) {
      var best = Double.NegativeInfinity; var arg = 0
      for (p <- 0 until m.k) {
        val v = delta(i - 1)(p) + m.logA(p)(s)
        if (v > best) { best = v; arg = p }
      }
      delta(i)(s) = best + logB(m, s, seq(i))
      psi(i)(s) = arg
    }
    val path = Array.ofDim[Int](t)
    path(t - 1) = (0 until m.k).maxBy(delta(t - 1))
    for (i <- t - 2 to 0 by -1) path(i) = psi(i + 1)(path(i + 1))
    path
  }

  /** Posterior state probabilities gamma(t)(s) = P(state_t = s | seq) via
    * forward-backward (ref decode.py:146-156 `predict_proba`). */
  def posterior(m: Model, seq: Array[Array[Double]]): Array[Array[Double]] = {
    val t = seq.length
    if (t == 0) return Array.empty
    val k = m.k
    val lb = Array.tabulate(t, k)((i, s) => logB(m, s, seq(i)))
    val alpha = Array.ofDim[Double](t, k)
    val beta = Array.ofDim[Double](t, k)
    val buf = new Array[Double](k)
    for (s <- 0 until k) alpha(0)(s) = m.logPi(s) + lb(0)(s)
    for (i <- 1 until t; s <- 0 until k) {
      var p = 0
      while (p < k) { buf(p) = alpha(i - 1)(p) + m.logA(p)(s); p += 1 }
      alpha(i)(s) = logSumExp(buf) + lb(i)(s)
    }
    for (i <- t - 2 to 0 by -1; s <- 0 until k) {
      var q = 0
      while (q < k) {
        buf(q) = m.logA(s)(q) + lb(i + 1)(q) + beta(i + 1)(q); q += 1
      }
      beta(i)(s) = logSumExp(buf)
    }
    Array.tabulate(t) { i =>
      val g = Array.tabulate(k)(s => alpha(i)(s) + beta(i)(s))
      val z = logSumExp(g)
      g.map(x => math.exp(x - z))
    }
  }

  /** Distributed decode: broadcast model, per-key ordered Viterbi.
    * Input: (key, ts, features array). Output adds `hmm_state`. */
  def decode(df: DataFrame, m: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(m)
    val in = df.select(col("key").cast("string"), col("ts").cast("long"),
      col("features").cast("array<double>"))
      .as[(String, Long, Array[Double])]
    in.groupByKey(_._1).flatMapGroups { (k, it) =>
      val rows = it.toArray.sortBy(_._2)
      val path = viterbi(bc.value, rows.map(_._3))
      rows.iterator.zip(path.iterator).map { case ((_, ts, _), s) =>
        (k, ts, s)
      }
    }.toDF("key", "ts", "hmm_state")
  }

  /** Distributed decode with posterior confidence: Viterbi state plus
    * posterior max-probability and entropy per row (the reference's
    * `hmm_state_prob_max` / `hmm_state_entropy`, decode.py:120-125). */
  def decodePosterior(df: DataFrame, m: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(m)
    val in = df.select(col("key").cast("string"), col("ts").cast("long"),
      col("features").cast("array<double>"))
      .as[(String, Long, Array[Double])]
    in.groupByKey(_._1).flatMapGroups { (k, it) =>
      val rows = it.toArray.sortBy(_._2)
      val xs = rows.map(_._3)
      val model = bc.value
      val path = viterbi(model, xs)
      val gam = posterior(model, xs)
      rows.indices.iterator.map { i =>
        val g = gam(i)
        val pMax = g.max
        var ent = 0.0
        var s = 0
        while (s < model.k) {
          if (g(s) > 1e-300) ent -= g(s) * math.log(g(s)); s += 1
        }
        (k, rows(i)._2, path(i), pMax, ent)
      }
    }.toDF("key", "ts", "hmm_state", "prob_max", "entropy")
  }

  /** One-pass state-count table for a MODEL SWEEP: Viterbi under every
    * swept model inside a single `groupByKey` pass (each key's feature
    * rows are sorted once and re-scored per model), returning
    * `sweepKey -> (state -> count)`. Bit-identical to running
    * [[decode]] + a groupBy per model — the sweep's k small decode
    * jobs, previously serialized behind their fits, collapse into ONE
    * distributed job (VERDICT r7 item 7). Cost: one shuffle of the
    * feature frame instead of k. */
  def sweepStateCounts(df: DataFrame, models: Seq[(Int, Model)])
      : Map[Int, Map[Int, Long]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(models)
    val in = df.select(col("key").cast("string"), col("ts").cast("long"),
      col("features").cast("array<double>"))
      .as[(String, Long, Array[Double])]
    in.groupByKey(_._1).flatMapGroups { (_, it) =>
      val xs = it.toArray.sortBy(_._2).map(_._3)
      bc.value.iterator.flatMap { case (mk, m) =>
        viterbi(m, xs).iterator.map(s => (mk, s))
      }
    }.toDF("mk", "hmm_state")
      .groupBy("mk", "hmm_state").count()
      .collect()
      .groupBy(_.getAs[Int]("mk"))
      .map { case (mk, rows) =>
        mk -> rows.map(r =>
          r.getAs[Int]("hmm_state") -> r.getAs[Long]("count")).toMap
      }
  }

  /** Assemble per-key ordered sequences for the driver-side fit, with ALL
    * capping enforced distributedly BEFORE collect:
    *   1. per-key cap — `row_number() <= maxPerKey` in (ts) order;
    *   2. min-length filter — keys with < minLen capped rows are dropped
    *      (ref sequence_builder.py:49-58 drops short tickers);
    *   3. global budget — keys admitted in deterministic key order until
    *      `maxTotalPoints` capped rows are spent (the key that crosses the
    *      budget is kept whole, so the hard bound is
    *      maxTotalPoints + maxPerKey — mirrors the reference bounding its
    *      bootstrap inputs per state).
    * Only the surviving frame is collected; sequences come back assembled
    * per key (grouped + time-sorted on executors) in sorted-key order for
    * run-to-run determinism. The budget scan runs on the DRIVER over the
    * collected per-key length table (#keys rows) — no single-task
    * unpartitioned window anywhere in the plan.
    */
  def collectSequences(df: DataFrame, minLen: Int, maxPerKey: Int,
      maxTotalPoints: Long = 500000L): Seq[Array[Array[Double]]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val typed = df.select(col("key").cast("string"), col("ts").cast("long"),
      col("features").cast("array<double>"))
    val capped = typed
      .withColumn("rn",
        row_number().over(Window.partitionBy("key").orderBy("ts")))
      .where(col("rn") <= maxPerKey)
      .drop("rn")
    // sorted-key global-budget admission on the DRIVER (the per-key
    // length table is ≤ one row per ticker and the whole admitted
    // frame is collected right below anyway) — no single-task
    // unpartitioned window; same sorted order, same long arithmetic,
    // identical admitted set
    val lens = capped.groupBy("key").agg(count(lit(1)).as("n"))
      .where(col("n") >= minLen)
      .select(col("key"), col("n").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    var admCum = 0L
    val admKeys = lens.flatMap { case (k, n) =>
      val before = admCum; admCum += n
      if (before < maxTotalPoints) Some(k) else None
    }
    val admitted = spark.createDataset(admKeys.toSeq).toDF("key")
    capped.join(broadcast(admitted), Seq("key"))
      .as[(String, Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups((k, it) => (k, it.toArray.sortBy(_._2).map(_._3)))
      .collect()
      .sortBy(_._1)
      .iterator.map(_._2).toSeq
  }
}
