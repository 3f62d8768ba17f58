package graft

import org.apache.spark.sql.functions._
import graft.ml.Hmm

/** Custom Gaussian HMM: recovery of well-separated synthetic states and
  * distributed decode consistency. */
class HmmSpec extends SparkSpec {

  /** Two clearly-separated states with sticky transitions (deterministic
    * pseudo-random observations via a hash mix). */
  private def synthSeq(n: Int, seed: Int): (Array[Array[Double]], Array[Int]) = {
    var state = 0
    val obs = Array.ofDim[Array[Double]](n)
    val truth = Array.ofDim[Int](n)
    var h = seed.toLong
    def nextU(): Double = {
      h = (h * 6364136223846793005L + 1442695040888963407L)
      ((h >>> 11).toDouble / (1L << 53).toDouble)
    }
    for (i <- 0 until n) {
      if (nextU() < 0.05) state = 1 - state
      truth(i) = state
      val mean = if (state == 0) -5.0 else 5.0
      obs(i) = Array(mean + (nextU() - 0.5) * 2)
    }
    (obs, truth)
  }

  test("fit + viterbi recover well-separated states (up to label swap)") {
    val data = (0 until 10).map(s => synthSeq(200, s + 1))
    val model = Hmm.fit(data.map(_._1), k = 2, nIter = 40)
    val (obs, truth) = data.head
    val path = Hmm.viterbi(model, obs)
    val agree = path.zip(truth).count { case (a, b) => a == b }.toDouble / 200
    val acc = math.max(agree, 1 - agree) // label permutation
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("means land near the true cluster centers") {
    val data = (0 until 10).map(s => synthSeq(200, s + 1))
    val model = Hmm.fit(data.map(_._1), k = 2, nIter = 40)
    val ms = model.means.map(_(0)).sorted
    assert(math.abs(ms(0) - -5.0) < 1.0 && math.abs(ms(1) - 5.0) < 1.0,
      s"means ${ms.toSeq}")
  }

  test("posterior rows are distributions and match viterbi on easy data") {
    val (obs, _) = synthSeq(200, 3)
    val model = Hmm.fit(Seq(obs), k = 2, nIter = 40)
    val gam = Hmm.posterior(model, obs)
    assert(gam.length == 200)
    gam.foreach { g =>
      assert(math.abs(g.sum - 1.0) < 1e-9, s"posterior sums to ${g.sum}")
      assert(g.forall(p => p >= 0 && p <= 1))
    }
    val path = Hmm.viterbi(model, obs)
    val agree = gam.map(_.zipWithIndex.maxBy(_._1)._2).zip(path)
      .count { case (a, b) => a == b }.toDouble / 200
    assert(agree > 0.9, s"posterior argmax vs viterbi agreement $agree")
  }

  /** (key, ts, features) rows of `data`'s sequences, keys in index
    * order. */
  private def frame(data: Seq[(Array[Array[Double]], Array[Int])]) = {
    import spark.implicits._
    data.zipWithIndex.flatMap { case ((obs, _), si) =>
      obs.zipWithIndex.map { case (x, i) =>
        (f"k$si%02d", i.toLong, x.toSeq)
      }
    }.toDF("key", "ts", "features")
  }

  /** Every field of two fits, models compared element by element. */
  private def same(a: Hmm.FitResult, b: Hmm.FitResult): Boolean = {
    def rows(x: Array[Array[Double]]) = x.map(_.toSeq).toSeq
    a.logLik == b.logLik && a.nIterUsed == b.nIterUsed &&
      a.converged == b.converged && a.nObs == b.nObs &&
      a.nSeqs == b.nSeqs && a.model.k == b.model.k &&
      a.model.d == b.model.d &&
      a.model.logPi.toSeq == b.model.logPi.toSeq &&
      rows(a.model.logA) == rows(b.model.logA) &&
      rows(a.model.means) == rows(b.model.means) &&
      rows(a.model.vars) == rows(b.model.vars)
  }

  // 40 sequences × 1000 points: above the driver-fold size, so the
  // distributed fit spreads its rounds over several partitions
  private lazy val large = (0 until 40).map(s => synthSeq(1000, s + 1))

  test("distributed Baum-Welch E-step fit matches the driver fit on " +
      "the same sequences") {
    val data = large
    // driver path: in-memory sequences
    val driver = Hmm.fitResult(data.map(_._1), k = 2, nIter = 15,
      tol = 0.0) // tol=0: fixed iteration count on both sides
    // distributed path: the SAME sequences as a (key, ts, features)
    // frame — per-key forward-backward stats on executors, M on driver
    val df = frame(data)
      .repartition(8) // stats must merge across partitions
    var dist: Hmm.FitResult = null
    // spread: every EM round is a job (the driver fold submits none)
    assert(Jobs.count(spark) {
      dist = Hmm.fitResultDistributed(df, k = 2, nIter = 15,
        tol = 0.0, minLen = 2)
    } >= 15, "the input must reach the spread rounds")
    assert(dist.nObs == driver.nObs && dist.nSeqs == driver.nSeqs)
    assert(dist.nIterUsed == driver.nIterUsed)
    // identical up to FP summation order of independent sequences
    val rel = math.abs(dist.logLik - driver.logLik) /
      math.abs(driver.logLik)
    assert(rel < 1e-9, s"loglik drift $rel")
    for (s <- 0 until 2; j <- 0 until 1) {
      assert(math.abs(dist.model.means(s)(j)
        - driver.model.means(s)(j)) < 1e-8)
      assert(math.abs(dist.model.vars(s)(j)
        - driver.model.vars(s)(j)) < 1e-8)
    }
    for (s <- 0 until 2; q <- 0 until 2)
      assert(math.abs(dist.model.logA(s)(q)
        - driver.model.logA(s)(q)) < 1e-8)
  }

  test("a spread fit is bit-identical run to run: partials merge in " +
      "partition order, not in task-finish order") {
    val df = frame(large).repartition(8)
    val a = Hmm.fitResultDistributed(df, k = 2, nIter = 8, tol = 0.0)
    val b = Hmm.fitResultDistributed(df, k = 2, nIter = 8, tol = 0.0)
    assert(a.nObs > Hmm.PointsPerPart, "the input must be spread")
    assert(same(a, b), s"loglik ${a.logLik} vs ${b.logLik}")
  }

  test("a driver-folded distributed fit equals fitResult on the " +
      "key-sorted sequences exactly") {
    val data = (0 until 6).map(s => synthSeq(120, s + 1))
    val dist = Hmm.fitResultDistributed(frame(data).repartition(8),
      k = 2, nIter = 15, tol = 0.0)
    // frame keys k00..k05 sort in index order
    val driver = Hmm.fitResult(data.map(_._1), k = 2, nIter = 15,
      tol = 0.0)
    assert(same(dist, driver),
      s"loglik ${dist.logLik} vs ${driver.logLik}")
  }

  test("sweep fits are per-k independent: each component count's fit " +
      "is bit-identical whether it runs alone or in the full sweep") {
    import spark.implicits._
    val data = (0 until 6).map(s => synthSeq(120, s + 1))
    val rows = data.zipWithIndex.flatMap { case ((obs, _), si) =>
      obs.zipWithIndex.map { case (x, i) =>
        (f"k$si%02d", i.toLong, x.toSeq)
      }
    }
    val df = rows.toDF("key", "ts", "features")
    val sweep = Hmm.fitSweepDistributed(df, Seq(2, 3), nIter = 12,
      tol = 0.0, minLen = 2).toMap
    for (k <- Seq(2, 3)) {
      val solo = Hmm.fitSweepDistributed(df, Seq(k), nIter = 12,
        tol = 0.0, minLen = 2).head._2
      val sw = sweep(k)
      assert(sw.logLik == solo.logLik,
        s"k=$k sweep loglik ${sw.logLik} != solo ${solo.logLik}")
      assert(sw.nIterUsed == solo.nIterUsed && sw.nObs == solo.nObs)
      for (s <- 0 until k; j <- 0 until 1) {
        assert(sw.model.means(s)(j) == solo.model.means(s)(j))
        assert(sw.model.vars(s)(j) == solo.model.vars(s)(j))
      }
      for (s <- 0 until k; q <- 0 until k)
        assert(sw.model.logA(s)(q) == solo.model.logA(s)(q))
    }
  }

  test("fitResult reports loglik/iterations; BIC penalizes parameters") {
    val data = (0 until 5).map(s => synthSeq(150, s + 1))
    val fr = Hmm.fitResult(data.map(_._1), k = 2, nIter = 40)
    assert(fr.nObs == 750 && fr.nSeqs == 5)
    assert(fr.logLik.isFinite && fr.nIterUsed > 0)
    // (k-1) + k(k-1) + 2kd
    assert(Hmm.numParams(2, 1) == 7)
    assert(Hmm.numParams(3, 2) == 20)
    // same loglik, more params -> larger (worse) BIC
    assert(Hmm.bic(fr.logLik, 3, 1, fr.nObs)
      > Hmm.bic(fr.logLik, 2, 1, fr.nObs))
  }

  test("decodePosterior emits valid confidence columns") {
    val s = spark
    import s.implicits._
    val (obs, _) = synthSeq(100, 9)
    val rows = obs.zipWithIndex.map { case (x, i) => ("k1", i.toLong, x) }
    val df = rows.toSeq.toDF("key", "ts", "features")
    val model = Hmm.fit(Seq(obs), k = 2, nIter = 20)
    val out = Hmm.decodePosterior(df, model).collect()
    assert(out.length == 100)
    out.foreach { r =>
      val pMax = r.getAs[Double]("prob_max")
      val ent = r.getAs[Double]("entropy")
      assert(pMax > 0 && pMax <= 1.0 + 1e-12)
      assert(ent >= -1e-12 && ent <= math.log(2) + 1e-9)
    }
  }

  test("distributed decode matches local viterbi per key") {
    val s = spark
    import s.implicits._
    val (obs, _) = synthSeq(100, 7)
    val rows = obs.zipWithIndex.map { case (x, i) => ("k1", i.toLong, x) }
    val df = rows.toSeq.toDF("key", "ts", "features")
    val model = Hmm.fit(Seq(obs), k = 2, nIter = 20)
    val dist = Hmm.decode(df, model).orderBy("ts")
      .collect().map(_.getInt(2))
    assert(dist.toSeq == Hmm.viterbi(model, obs).toSeq)
  }

  test("one-pass sweep state counts equal per-model decode + groupBy") {
    val s = spark
    import s.implicits._
    val (obsA, _) = synthSeq(120, 3)
    val (obsB, _) = synthSeq(80, 11)
    val rows = obsA.zipWithIndex.map { case (x, i) =>
      ("ka", i.toLong, x) } ++
      obsB.zipWithIndex.map { case (x, i) => ("kb", i.toLong, x) }
    val df = rows.toSeq.toDF("key", "ts", "features")
    val models = Seq(2, 3).map(k =>
      k -> Hmm.fit(Seq(obsA, obsB), k = k, nIter = 15))
    val batched = Hmm.sweepStateCounts(df, models)
    models.foreach { case (k, m) =>
      val single = Hmm.decode(df, m).groupBy("hmm_state").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(batched(k) == single,
        s"sweep counts for k=$k must equal the per-model decode")
    }
  }

  test("a one-partition HMM fit submits the same jobs at 5 and 30 " +
      "rounds") {
    import spark.implicits._
    // 600 points: one partition's budget, so every round folds on the
    // driver
    val df = (0 until 4).flatMap { s =>
      (0 until 150).map { i =>
        (s"k$s", i.toLong, Seq(math.sin(i * 0.1 + s), (i % 7).toDouble))
      }
    }.toDF("key", "ts", "features").coalesce(1)
    def jobs(iters: Int) = Jobs.count(spark) {
      val fr = Hmm.fitResultDistributed(df, k = 3, nIter = iters,
        tol = 0.0)
      assert(fr.nIterUsed == iters)
    }
    assert(jobs(5) == jobs(30))
  }
}
