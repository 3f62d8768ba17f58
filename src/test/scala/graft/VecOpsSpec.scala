package graft

import org.apache.spark.sql.functions._
import graft.functions.VecOps

/** Native vector-fold expressions: HOF-identical semantics (the oracle
  * contract), codegen execution, and SQL registration. */
class VecOpsSpec extends SparkSpec {

  private def hofDot = (a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def hofSq = (a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
      (acc, x) => acc + x)

  test("vec_dot / vec_sqdist are bit-identical to the interpreted HOF " +
      "fold, including null and length-mismatch semantics") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(8)
      def vec = Seq.fill(n)(rnd.nextDouble() * 10 - 5)
      (i.toLong, vec, vec)
    }
    val base = rows.toDF("id", "a", "b")
      // add length-mismatch and null-element rows
      .union(Seq(
        (900L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),
        (901L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("id", "a", "b"))
      .union(Seq((902L, Seq[java.lang.Double](1.0, null, 3.0)
          .map(Option(_).map(Double.unbox)),
        Seq(Some(1.0), Some(2.0), Some(3.0))))
        .toDF("id", "a", "b"))
    val cmp = base.select(col("id"),
      VecOps.dot(col("a"), col("b")).as("nd"),
      hofDot(col("a"), col("b")).as("hd"),
      VecOps.sqDist(col("a"), col("b")).as("ns"),
      hofSq(col("a"), col("b")).as("hs"))
    val bad = cmp.filter(
      !(col("nd") <=> col("hd")) || !(col("ns") <=> col("hs")))
    assert(bad.count() == 0, s"diverged: ${bad.collect().mkString(", ")}")
    // mismatch/null rows must be null in BOTH implementations
    val nulls = cmp.filter(col("id") >= 900L).collect()
    assert(nulls.forall(r => r.isNullAt(1) && r.isNullAt(2)
      && r.isNullAt(3) && r.isNullAt(4)))
  }

  test("vec_dot executes inside whole-stage codegen") {
    // non-constant inputs (literals would be constant-folded into a
    // LocalTableScan before any codegen happens)
    val df = spark.range(1, 4)
      .select(VecOps.dot(
        array(col("id").cast("double"), (col("id") * 2).cast("double")),
        array(lit(10.0), lit(100.0))).as("d"))
    // id=1 → [1,2]·[10,100] = 210; id=2 → [2,4]·[10,100] = 420
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(210.0, 420.0,
      630.0))
    // the `*(n)` prefix marks operators fused into WholeStageCodegen;
    // a non-codegen expression would leave a bare `Project`
    val plan = df.queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) Project \[vec_dot".r.findFirstIn(plan).isDefined,
      s"vec_dot fell out of whole-stage codegen:\n$plan")
  }

  /** The interpreted decimal HOF chain vec_sqdist18 replaced — kept
    * here verbatim as the parity reference. */
  private def hofSq18 = (a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(java.math.BigDecimal.ZERO).cast("decimal(32,18)"),
      (acc, t) => (acc + t.cast("decimal(24,18)"))
        .cast("decimal(32,18)")).cast("double")

  test("vec_sqdist18 is bit-identical to the exact-decimal HOF chain, " +
      "including overflow / non-finite / mismatch semantics") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map { i =>
      val n = 1 + rnd.nextInt(8)
      // mix magnitudes: tiny (rounding-boundary-ish), unit, and values
      // whose squared diff sits just under / at the (24,18) overflow
      def v = Seq.fill(n)(rnd.nextInt(4) match {
        case 0 => rnd.nextDouble() * 1e-9
        case 1 => rnd.nextDouble() * 10 - 5
        case 2 => rnd.nextDouble() * 999.0
        case _ => 999.9999 + rnd.nextDouble() * 0.001
      })
      (i.toLong, v, v.map(x => if (rnd.nextBoolean()) -x else x))
    }
    val edge = Seq(
      (900L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // length mismatch
      (901L, Seq(1e9), Seq(0.0)),                // hard overflow
      (902L, Seq(1000.0), Seq(0.0)),             // exactly 1e6 → null
      (903L, Seq(Double.NaN), Seq(0.0)),
      (904L, Seq(Double.PositiveInfinity), Seq(0.0)),
      (905L, Seq.empty[Double], Seq.empty[Double])) // 0.0, not null
    val base = rows.toDF("id", "a", "b")
      .union(edge.toDF("id", "a", "b"))
    val cmp = base.select(col("id"),
      VecOps.sqDist18(col("a"), col("b")).as("nv"),
      hofSq18(col("a"), col("b")).as("hv"))
    val bad = cmp.filter(!(col("nv") <=> col("hv")))
    assert(bad.count() == 0,
      s"diverged: ${bad.collect().take(5).mkString(", ")}")
    val byId = cmp.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert((900L to 904L).forall(byId(_).isEmpty))
    assert(byId(905L).contains(0.0))
  }

  test("vec_sqdist18 executes inside whole-stage codegen") {
    val df = spark.range(1, 4)
      .select(VecOps.sqDist18(
        array(col("id").cast("double"), (col("id") * 2).cast("double")),
        array(lit(0.0), lit(0.0))).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(5.0, 20.0, 45.0))
    val plan = df.queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) Project \[vec_sqdist18".r.findFirstIn(plan)
      .isDefined,
      s"vec_sqdist18 fell out of whole-stage codegen:\n$plan")
  }

  /** `round(sqDist18(x, y), 6)` by the exact BigDecimal fold alone —
    * the reference the certified kernel must equal bit for bit. */
  private def refR6(x: Array[Double], y: Array[Double]): Double = {
    val sq = graft.functions.VecDecimal.sqDist18(x, y)
    if (sq == null) Double.NaN
    else graft.functions.VecDecimal.roundD(sq.doubleValue, 6)
  }

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  /** One-element vectors whose distance is a round-6 half point
    * √((k+½)/1e6) (against 0), and ±1 ulp around each. */
  private lazy val halfPoints: Seq[(Array[Double], Array[Double])] = {
    val ks = (0L until 2000L) ++ Seq(123456L, 999999L, 1000000L,
      31415926L, 999999999L, 123456789012L)
    ks.flatMap { k =>
      val h = math.sqrt((k + 0.5) / 1e6)
      Seq(h, Math.nextUp(h), Math.nextDown(h), -h)
        .map(x => (Array(x), Array(0.0)))
    } ++ ks.take(200).map { k =>
      // two equal terms summing to the half point
      val h = math.sqrt((k + 0.5) / 2e6)
      (Array(h, h), Array(0.0, 0.0))
    }
  }

  /** Decimal grids, subnormals, the 1e-18 / 1e-19 term scale, terms
    * just under and at the 1e6 overflow, non-finite, ±0, mismatch. */
  private lazy val edgeVectors: Seq[(Array[Double], Array[Double])] = {
    val rnd = new scala.util.Random(23)
    def grid(n: Int, q: Double) =
      Array.fill(n)((rnd.nextInt(4001) - 2000) / q)
    val grids = (1 to 4000).map { i =>
      val n = 1 + rnd.nextInt(8)
      val q = if (i % 2 == 0) 1000.0 else 10000.0
      (grid(n, q), grid(n, q))
    }
    val tiny = Seq(4.9e-324, 1e-320, 1e-160, 1.5e-154, 2.2250738585072014e-308,
      1e-9, math.sqrt(5e-19), math.sqrt(1.5e-18), 3.16e-10,
      Math.nextUp(1e-9), Math.nextDown(1e-9), math.sqrt(1e-19))
    val tinies = tiny.map(x => (Array(x), Array(0.0))) ++
      tiny.map(x => (Array.fill(64)(x), Array.fill(64)(0.0))) ++
      tiny.map(x => (Array(x, 0.5e-3, x), Array(0.0, 0.0, -x)))
    val edges = Seq(
      (Array(Math.nextDown(1000.0)), Array(0.0)), // dd just under 1e6
      (Array(1000.0), Array(0.0)),                // dd == 1e6 → null
      (Array(999.9999995, 1.0), Array(0.0, 0.0)),
      (Array(1e9), Array(0.0)),
      (Array(Double.NaN, 1.0), Array(0.0, 1.0)),
      (Array(Double.PositiveInfinity), Array(0.0)),
      (Array(Double.NegativeInfinity), Array(1.0)),
      (Array(-0.0, 0.0), Array(0.0, -0.0)),
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)),
      (Array.emptyDoubleArray, Array.emptyDoubleArray),
      (Array.fill(64)(999.0), Array.fill(64)(0.0)))
    grids ++ tinies ++ edges
  }

  test("sqDist18r6 equals roundD(sqDist18) bit for bit on half points, " +
      "decimal grids, edge terms and 1M seeded random vectors, and " +
      "half points take the exact fallback") {
    import graft.functions.VecDecimal
    // the half points sit inside the kernel's own certificate band: the
    // fast path declines them, so the exact fold is what answers
    val declined = halfPoints.count { case (x, y) =>
      VecDecimal.fastR6(x, y) == VecDecimal.Uncertain }
    assert(declined == halfPoints.size,
      s"only $declined of ${halfPoints.size} half points fell back")
    def check(x: Array[Double], y: Array[Double]): Unit = {
      val want = refR6(x, y)
      val got = VecDecimal.sqDist18r6(x, y)
      assert(bits(got) == bits(want),
        s"${x.toSeq} / ${y.toSeq}: $got != $want")
      val gotAd = VecDecimal.sqDist18r6(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(x),
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(y))
      assert(bits(gotAd) == bits(want), s"ArrayData ${x.toSeq}: $gotAd")
    }
    halfPoints.foreach { case (x, y) => check(x, y) }
    edgeVectors.foreach { case (x, y) => check(x, y) }
    // a null element (ArrayData form) is null, like NaN
    val withNull = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](1.0, null))
    val pair = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(1.0, 2.0))
    assert(VecDecimal.sqDist18r6(withNull, pair).isNaN)
    assert(VecDecimal.sqDist18r6(Array(1.0), null).isNaN)
    val rnd = new scala.util.Random(29)
    var i = 0
    while (i < 1000000) {
      val n = 1 + rnd.nextInt(8)
      val mag = math.pow(10, -12 + rnd.nextInt(16))
      def v = Array.fill(n)((rnd.nextDouble() * 2 - 1) * mag)
      val x = v
      val y = v
      val want = refR6(x, y)
      val got = VecDecimal.sqDist18r6(x, y)
      assert(bits(got) == bits(want),
        s"random #$i ${x.toSeq} / ${y.toSeq}: $got != $want")
      i += 1
    }
  }

  test("vec_sqdist18_r6 equals Spark's round(vec_sqdist18(a, b), 6) " +
      "bit for bit, interpreted and in whole-stage codegen") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val random = (1 to 20000).map { _ =>
      val n = 1 + rnd.nextInt(8)
      val mag = math.pow(10, -12 + rnd.nextInt(16))
      def v = Seq.fill(n)((rnd.nextDouble() * 2 - 1) * mag)
      (v, v)
    }
    val rows = (halfPoints ++ edgeVectors)
      .map { case (x, y) => (x.toSeq, y.toSeq) } ++ random
    val df = rows.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
      .union(Seq((-1L, Seq[Option[Double]](Some(1.0), None),
          Seq[Option[Double]](Some(1.0), Some(2.0))))
        .toDF("id", "a", "b"))
      // a shuffle above the local rows keeps the projection out of
      // ConvertToLocalRelation's interpreted constant folding
      .repartition(4)
    def out = df.select(col("id"), VecOps.sqDist18r6(col("a"), col("b")),
      round(VecOps.sqDist18(col("a"), col("b")), 6))
    def run(o: org.apache.spark.sql.DataFrame)
        : Map[Long, (Option[Double], Option[Double])] =
      o.collect().map { r =>
        r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))
      }.toMap
    val genOut = out
    val gen = run(genOut)
    val interp = {
      val keys = Seq("spark.sql.codegen.wholeStage",
        "spark.sql.codegen.factoryMode")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try run(out) // a fresh plan under the interpreted settings
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(gen.size == rows.size + 1 && interp.size == gen.size)
    def same(a: Option[Double], b: Option[Double]) =
      a.map(bits) == b.map(bits)
    val bad = gen.filter { case (id, (fused, spark)) =>
      val ref = if (id < 0) None else {
        val (x, y) = rows(id.toInt)
        Some(refR6(x.toArray, y.toArray)).filterNot(_.isNaN)
      }
      !same(fused, spark) || !same(fused, ref) ||
        !same(interp(id)._1, fused) || !same(interp(id)._2, spark)
    }
    assert(bad.isEmpty, s"diverged: ${bad.take(5)}")
    assert(gen(-1L) == ((None, None)))
    // the executed (final adaptive) plan of the codegen run
    val plan = genOut.queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) Project \[.*vec_sqdist18_r6\(".r.findFirstIn(plan)
      .isDefined, s"vec_sqdist18_r6 fell out of whole-stage codegen:\n$plan")
  }

  test("vec_dot / vec_sqdist are SQL-registered via GraftExtensions") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                vec_sqdist(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS s,
                vec_sqdist18(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS e,
                vec_sqdist18_r6(array(0.1d), array(0.0d)) AS r""")
      .head
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 8.0
      && r.getDouble(2) == 8.0 && r.getDouble(3) == 0.01)
  }
}
