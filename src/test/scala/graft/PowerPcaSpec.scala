package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.PowerPca

/** Power-iteration PCA semantics: the dominant component must align
  * with a planted high-variance direction, deflated components must
  * come out (near-)orthogonal with descending eigenvalues, explained
  * fractions must be sane, and the fit must be bit-deterministic. */
class PowerPcaSpec extends SparkSpec {
  import spark.implicits._

  // 200 rows in 8 dims: x_r = c1_r·u + c2_r·w with Var(c1) ≫ Var(c2)
  // and c1 ⊥ c2 over the population (r%8 and (r/8)%5 are independent
  // and balanced over 200 = 8·25 rows — a correlated pair would make
  // the true axes MIXTURES of u and w), u ⊥ w — the top component
  // must recover u, the deflated second w
  private val u = Array(0.5, 0.5, 0.5, 0.5, 0.0, 0.0, 0.0, 0.0)
  private val w = Array(0.5, -0.5, 0.5, -0.5, 0.0, 0.0, 0.0, 0.0)
  private def c1Of(r: Int) = ((r % 8) - 3.5) * 6.0
  private def c2Of(r: Int) = (((r / 8) % 5) - 2).toDouble
  private lazy val emb = (0 until 200).map { r =>
    val v = (0 until 8).map(i =>
      (c1Of(r) * u(i) + c2Of(r) * w(i)).toFloat).toArray
    (r.toLong, v)
  }.toDF("vec_id", "embedding")

  private def cosAbs(a: IndexedSeq[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    math.abs(dot / (na * nb))
  }

  test("dominant component recovers the planted high-variance " +
      "direction; deflation yields the orthogonal second") {
    val fit = PowerPca.fit(emb, nComponents = 2, iters = 12)
    val Seq(c0, c1) = fit.components
    assert(cosAbs(c0.v, u) > 0.99,
      s"top component misaligned: ${cosAbs(c0.v, u)}")
    assert(cosAbs(c1.v, w) > 0.99,
      s"second component misaligned: ${cosAbs(c1.v, w)}")
    val ortho = c0.v.zip(c1.v).map { case (x, y) => x * y }.sum
    assert(math.abs(ortho) < 1e-3,
      s"components not orthogonal: $ortho")
    assert(c0.lambda >= c1.lambda && c1.lambda > 0,
      s"eigenvalues out of order: ${c0.lambda}, ${c1.lambda}")
    // the two planted directions carry ALL the variance
    val explained = (c0.lambda + c1.lambda) / fit.totalVar
    assert(explained > 0.999 && explained < 1.001,
      s"planted 2-dim data must be fully explained: $explained")
  }

  /** The retired per-round COLUMN program (vec_id-keyed matvec + join
    * + dim-keyed roll-up, two exchanges): the parity reference that
    * licenses PowerPca.matvecRound. */
  private def matvecRoundDf(px: DataFrame, v: IndexedSeq[Double],
      dims: Int): Map[Int, Double] = {
    val vmap = map((0 until dims)
      .flatMap(i => Seq(lit(i), lit(v(i)))): _*)
    val y = px
      .withColumn("xv",
        (col("x") * element_at(vmap, col("i")))
          .cast("decimal(38,18)"))
      .groupBy("vec_id")
      .agg(sum("xv").cast("double").as("y"))
    px.join(y, Seq("vec_id"))
      .select(col("i"), (col("x") * col("y"))
        .cast("decimal(38,18)").as("p"))
      .unionAll(y.select(lit(-1).as("i"),
        col("y").cast("decimal(38,18)").as("p")))
      .groupBy("i").agg(sum("p").cast("double").as("w"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  test("the RDD matvec round is bit-identical to the retired column-" +
      "program round across chained iterations (incl. the decimal " +
      "casts, null-as-NaN elements and the null-y drop), and the " +
      "setup sums match") {
    val dims = 8
    // plant a null element in one vector: the primitive cache carries
    // it as NaN and its terms must drop from y and w exactly like the
    // column program's null decimal casts
    val embN = emb.select(col("vec_id"),
      when(col("vec_id") === 11L,
        concat(array(lit(null).cast("double")),
          slice(col("embedding").cast("array<double>"), 2, 1000)))
        .otherwise(col("embedding").cast("array<double>"))
        .as("embedding"))
    val px = PowerPca.exploded(embN).localCheckpoint()
    val rounds = PowerPca.vectors(embN, dims, 4)
    try {
      // chain 4 rounds through the round-9 normalize seam so any
      // divergence would compound
      var v: IndexedSeq[Double] =
        (0 until dims).map(i => if (i % 2 == 0) 0.25 else -0.125)
      for (round <- 1 to 4) {
        val viaDf = matvecRoundDf(px, v, dims)
        val viaRdd = PowerPca.matvecRound(rounds, round, v, dims)
        assert(viaRdd == viaDf, s"round $round diverged")
        val nw = math.sqrt((0 until dims)
          .map(i => viaRdd(i) * viaRdd(i)).sum)
        v = (0 until dims).map(i =>
          BigDecimal(viaRdd(i) / nw)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      // the setup pass's per-dim decimal sums give the column
      // program's means
      val n = embN.count()
      val means = px.groupBy("i")
        .agg(sum(col("x").cast("decimal(38,18)")).cast("double"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1) / n).toMap
      val fit = PowerPca.fitOn(rounds, dims, 1, 1)
      assert(fit.n == n && fit.mean == (0 until dims).map(means))
    } finally rounds.close()
  }

  test("spread rounds over a repartition(8) input and the driver fold " +
      "of the same rows give bit-identical loadings") {
    val in = emb.repartition(8)
    val spread = PowerPca.vectors(in, 8, 2 * 6, perPart = 1L)
    val folded = PowerPca.vectors(in, 8, 2 * 6, perPart = Long.MaxValue)
    try {
      var a: PowerPca.Fit = null
      var b: PowerPca.Fit = null
      // setup pass + 2·6 power rounds, one job each when spread
      assert(Jobs.count(spark) { a = PowerPca.fitOn(spread, 8, 2, 6) }
        == 1 + 2 * 6)
      assert(Jobs.count(spark) { b = PowerPca.fitOn(folded, 8, 2, 6) }
        == 0)
      assert(a == b, "spread and driver-folded fits must be identical")
      assert(a.components.map(_.v) == PowerPca.fit(emb, 2, 6)
        .components.map(_.v))
    } finally { spread.close(); folded.close() }
  }

  test("fit is bit-deterministic") {
    val f1 = PowerPca.fit(emb, 2, 6)
    val f2 = PowerPca.fit(emb, 2, 6)
    assert(f1.components.map(_.v) == f2.components.map(_.v))
    assert(f1.components.map(_.lambda) == f2.components.map(_.lambda))
    assert(f1.totalVar == f2.totalVar)
  }

  test("projections: planted coefficients recovered up to the " +
      "component sign") {
    val fit = PowerPca.fit(emb, 2, 12)
    val proj = PowerPca.project(emb, fit)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    // row r has centered c1 coefficient (c1_r − mean(c1)); p0 must be
    // proportional to it with |slope| = 1 (u is unit-norm)
    val c1s = (0 until 200).map(c1Of)
    val c1m = c1s.sum / 200
    val pairs = (0 until 200).map(r => (c1s(r) - c1m, proj(r.toLong)._1))
    val slope = pairs.map { case (a, b) => a * b }.sum /
      pairs.map { case (a, _) => a * a }.sum
    assert(math.abs(math.abs(slope) - 1.0) < 1e-3,
      s"projection slope off: $slope")
  }

  test("rowwise serving projection equals the batch decimal path at " +
      "the emit rounding, batch and streaming micro-batch identical") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val fit = PowerPca.fit(emb, 2, 6)
    val long = PowerPca.projectLong(emb, fit)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val row = PowerPca.projectRowwise(emb, fit)
      .select(col("vec_id"), col("p0"), col("p1"))
      .collect().map(r =>
        r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    (0 until 200).foreach { r =>
      assert(row(r.toLong)._1 == long((r.toLong, 0))
        && row(r.toLong)._2 == long((r.toLong, 1)),
        s"rowwise != batch at row $r")
    }
    // stream the frame in two files; the stateless scorer must emit
    // identical projections
    val rows = emb.as[(Long, Array[Float])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val sd = java.nio.file.Files.createTempDirectory("graft-pca")
    b1.toSeq.toDF("vec_id", "embedding").coalesce(1)
      .write.parquet(sd.resolve("p1").toString)
    b2.toSeq.toDF("vec_id", "embedding").coalesce(1)
      .write.parquet(sd.resolve("p2").toString)
    val src = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$sd/p*")
    val q = PowerPca.projectRowwise(src, fit)
      .select("vec_id", "p0", "p1")
      .writeStream.outputMode("append").format("memory")
      .queryName("pca_stream_test").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("pca_stream_test")
      .collect().map(r =>
        r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == row, "stream must equal batch exactly")
  }
}
