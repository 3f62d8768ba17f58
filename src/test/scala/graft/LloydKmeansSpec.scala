package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.LloydKmeans

/** Deterministic distributed Lloyd (ml.LloydKmeans) — the
  * hash-checkable KMeans fit. The DuckDB bit-parity is driver-checked
  * (q_kmeans_lloyd); here the ALGORITHM invariants are locked:
  * monotone inertia (the Lloyd guarantee), assignment consistency with
  * the returned centroids, and run-to-run determinism. */
class LloydKmeansSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** Exact inertia of a fit: sum over points of squared L2 to the
    * assigned (= nearest, by construction) centroid. */
  private def inertia(iters: Int): Double = {
    val (assign, cents) = LloydKmeans.fit(emb, "vec_id", "embedding",
      k = 4, iters = iters)
    val byId = cents.zipWithIndex.map(_.swap).toMap
    assign.join(emb.select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("v")), "pid")
      .as[(Long, Int, Seq[Double])].collect()
      .map { case (_, c, v) =>
        v.zip(byId(c)).map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
  }

  test("Lloyd inertia is non-increasing across iterations") {
    val js = Seq(1, 2, 4, 6).map(inertia)
    js.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"inertia increased: $js")
    }
  }

  test("assignments are the argmin of the returned centroids and " +
      "every point is labeled exactly once") {
    val (assign, cents) = LloydKmeans.fit(emb, "vec_id", "embedding",
      k = 4, iters = 3)
    val rows = assign.join(emb.select(col("vec_id").as("pid"),
        col("embedding").cast("array<double>").as("v")), "pid")
      .as[(Long, Int, Seq[Double])].collect()
    assert(rows.length == emb.count())
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (pid, c, v) =>
      val d = cents.map(ct =>
        v.zip(ct).map { case (x, y) => (x - y) * (x - y) }.sum)
      // round-6 tiebreak: the assigned cluster's rounded distance is
      // minimal (lowest id among rounded ties)
      val rd = d.map(x => BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val best = rd.zipWithIndex.min
      assert(rd(c) == best._1 && c <= best._2,
        s"pid=$pid assigned $c but nearest is $best")
    }
  }

  /** The retired per-round COLUMN program (assignment expression +
    * groupBy((cluster, dim)) exchange): the parity reference that
    * licenses LloydKmeans.lloydRound. */
  private def lloydRoundDf(pts: DataFrame,
      cents: IndexedSeq[Array[Double]]): IndexedSeq[Array[Double]] = {
    val k = cents.length
    val structs = cents.indices.map { c =>
      struct(round(graft.functions.VecOps.sqDist18(col("v"),
        typedlit(cents(c).toSeq)), 6).as("d"), lit(c).as("cluster"))
    }
    val assigned = pts.withColumn("cluster",
      element_at(array_sort(array(structs: _*)), 1).getField("cluster"))
    val sums = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("j", "x")))
      .groupBy("cluster", "j")
      .agg((sum(col("x").cast("decimal(38,18)")).cast("double")
        / count(lit(1))).as("y"))
      .collect()
    val next = Array.tabulate(k)(c => cents(c).clone())
    sums.foreach { r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) }
    next.toIndexedSeq
  }

  test("the RDD round is bit-identical to the retired column-program " +
      "round across chained iterations (incl. the decimal cast, the " +
      "round-6 tiebreak, null-as-NaN elements and empty-cluster carry)") {
    // plant a null element in one non-seed vector: the primitive cache
    // carries it as NaN, and the round must still match the column
    // program (null distance sorts first; the element's sum term drops
    // while its count still increments)
    val pts = emb.select(col("vec_id").cast("long").as("pid"),
      when(col("vec_id") === 37L,
        concat(array(lit(null).cast("double")),
          slice(col("embedding").cast("array<double>"), 2, 1000)))
        .otherwise(col("embedding").cast("array<double>")).as("v"))
    val rounds = LloydKmeans.points(pts, 4, 4)
    try {
      var cents: IndexedSeq[Array[Double]] = rounds
        .collect { case (pid, v) if pid < 4 => (pid, v) }
        .sortBy(_._1).map(_._2.clone())
      // k > points in some cluster on later rounds exercises the
      // empty-cluster carry; chain 4 rounds so drift would compound
      for (round <- 1 to 4) {
        val viaDf = lloydRoundDf(pts, cents)
        val viaRdd = LloydKmeans.lloydRound(rounds, round, cents)
        assert(viaRdd.map(_.toSeq) == viaDf.map(_.toSeq),
          s"round $round diverged")
        cents = viaRdd
      }
    } finally rounds.close()
  }

  test("spread rounds over a repartition(8) input and the driver fold " +
      "of the same rows give bit-identical centroids") {
    val pv = emb.repartition(8).select(col("vec_id").cast("long").as("pid"),
      col("embedding").cast("array<double>").as("v"))
    val spread = LloydKmeans.points(pv, 4, 6, perPart = 1L)
    val folded = LloydKmeans.points(pv, 4, 6, perPart = Long.MaxValue)
    try {
      // one job per spread round, none on the driver fold
      var a = IndexedSeq.empty[Array[Double]]
      var b = IndexedSeq.empty[Array[Double]]
      assert(Jobs.count(spark) {
        a = LloydKmeans.lloydRound(spread, 1,
          spread.collect { case (pid, v) if pid < 4 => (pid, v) }
            .sortBy(_._1).map(_._2.clone()))
      } == 2)
      assert(Jobs.count(spark) {
        b = LloydKmeans.lloydRound(folded, 1,
          folded.collect { case (pid, v) if pid < 4 => (pid, v) }
            .sortBy(_._1).map(_._2.clone()))
      } == 0)
      assert(a.map(_.toSeq) == b.map(_.toSeq))
      val viaSpread = LloydKmeans.centroids(spread, 4, 6)
      val viaFold = LloydKmeans.centroids(folded, 4, 6)
      assert(viaSpread.map(_.toSeq) == viaFold.map(_.toSeq))
    } finally { spread.close(); folded.close() }
  }

  test("JVM round/cast twins match the Spark expressions bit-for-bit") {
    // adversarial doubles: halfway cases, subnormals, many digits
    val vals = Seq(0.5e-6, 1.5e-6, 2.5e-6, 0.1234565, 0.1234575,
      1.0 / 3.0, math.Pi, 1e-300, 4.9e-324, 123456.1234565,
      -0.1234565, -2.5e-6, 0.49999999999999994, 1e19, -1e19)
    val df = vals.toDF("x")
      .select(col("x"), round(col("x"), 6).as("r6"),
        round(col("x"), 9).as("r9"),
        col("x").cast("decimal(38,18)").cast("string").as("d18"))
    df.collect().foreach { r =>
      val x = r.getDouble(0)
      assert(graft.functions.VecDecimal.roundD(x, 6) == r.getDouble(1),
        s"round6($x)")
      assert(graft.functions.VecDecimal.roundD(x, 9) == r.getDouble(2),
        s"round9($x)")
      val jvm = graft.functions.VecDecimal.dec18(x)
      val sparkD =
        if (r.isNullAt(3)) null
        else new java.math.BigDecimal(r.getString(3))
      assert((jvm == null) == (sparkD == null)
        && (jvm == null || jvm.compareTo(sparkD) == 0
          && jvm.scale == sparkD.scale), s"dec18($x)")
    }
  }

  test("the fit is deterministic run-to-run") {
    val a = LloydKmeans.fit(emb, "vec_id", "embedding", 4, 5)
    val b = LloydKmeans.fit(emb, "vec_id", "embedding", 4, 5)
    assert(a._2.map(_.toSeq) == b._2.map(_.toSeq))
    assert(a._1.orderBy("pid").collect().toSeq
      == b._1.orderBy("pid").collect().toSeq)
  }

  test("a one-partition Lloyd fit submits the same jobs at 5 and 20 " +
      "rounds") {
    // 300 vectors × 64 dims × k = 4 is one partition's budget
    val one = emb.filter(col("vec_id") < 300).coalesce(1)
    assert(300L * 64 * 4 <= LloydKmeans.TermsPerPart)
    def jobs(iters: Int) = Jobs.count(spark) {
      LloydKmeans.fit(one, "vec_id", "embedding", k = 4, iters = iters)
    }
    assert(jobs(5) == jobs(20))
  }

  test("Lloyd's fixed-point stop is exact: past the fixed point, 30 " +
      "more rounds return bitwise-equal centroids and assignments") {
    // on this input the round-21 centroids equal the round-20 ones
    val n = 25
    val (aAssign, aCents) = LloydKmeans.fit(emb, "vec_id", "embedding",
      k = 4, iters = n)
    val (bAssign, bCents) = LloydKmeans.fit(emb, "vec_id", "embedding",
      k = 4, iters = n + 30)
    def bits(cs: IndexedSeq[Array[Double]]) =
      cs.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)
    assert(bits(aCents) == bits(bCents))
    assert(aAssign.orderBy("pid").collect().toSeq
      == bAssign.orderBy("pid").collect().toSeq)
  }
}
