package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Cols, Wins}

/** Core combinator semantics: NaN→null normalization, safe division,
  * Polars-style min_samples rolling guards, bars-since, run ids. */
class OpsSpec extends SparkSpec {

  test("execution realism auto-detects percent-point volatility units") {
    import graft.backtest.Overlay
    val s = spark
    import s.implicits._
    // ranges ~5% of close expressed as price units → (high-low)/close is
    // DECIMAL (~0.05): divisor 1. Scaling the range 100× (synthetic
    // percent-point series: median > 1) must flip the divisor to 100.
    def bars(scale: Double) = (1 to 60).map { i =>
      val close = 100.0 + i
      ("T1", i.toLong, i.toLong, close, close + 0.05 * close * scale,
        close - 0.0, close, 1000.0)
    }.toDF("ticker", "bar_ts", "bar_id", "open", "high", "low", "close",
      "volume")
    val dec = Overlay.executionRealism(bars(1.0), minDollarVol = 1,
      minPrice = 1, warmupBars = 1, maxVolPct = Some(8.0))
    val pct = Overlay.executionRealism(bars(100.0), minDollarVol = 1,
      minPrice = 1, warmupBars = 1, maxVolPct = Some(8.0))
    assert(dec.select("vol_divisor").head.getDouble(0) == 1.0)
    assert(pct.select("vol_divisor").head.getDouble(0) == 100.0)
    // after normalization both series sit below the 0.08 threshold on
    // every bar → no vol_cap blocks in either
    assert(dec.filter(col("exec_reason") === "vol_cap").count() == 0)
    assert(pct.filter(col("exec_reason") === "vol_cap").count() == 0)
    // identical normalized vol series ⇒ identical eligibility
    val a = dec.select("bar_id", "exec_allowed")
    val b = pct.select("bar_id", "exec_allowed")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  import spark.implicits._

  test("safeDiv: null on ~zero denominator, value otherwise") {
    val df = Seq((10.0, 2.0), (1.0, 0.0), (1.0, 1e-15)).toDF("n", "d")
    val out = df.select(Cols.safeDiv(col("n"), col("d"))).collect()
    assert(out(0).getDouble(0) == 5.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("finiteOrNull: NaN and ±Inf → null; finite passes") {
    val df = Seq(1.5, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity).toDF("x")
    val out = df.select(Cols.finiteOrNull(col("x"))).collect()
    assert(out(0).getDouble(0) == 1.5)
    assert((1 to 3).forall(out(_).isNullAt(0)))
  }

  test("NaN would otherwise poison avg — the reference-critical case") {
    val df = Seq(1.0, Double.NaN, 3.0).toDF("x")
    val bad = df.agg(avg($"x")).head.getDouble(0)
    assert(bad.isNaN) // Spark default includes NaN
    val good = df.agg(avg(Cols.finiteOrNull($"x"))).head.getDouble(0)
    assert(good == 2.0) // normalized matches Polars finite-only mean
  }

  test("rolling mean with min_samples=n yields null for first n-1 rows") {
    val df = (1 to 6).map(i => ("t", i.toLong, i.toDouble))
      .toDF("k", "ts", "v")
    val w = Window.partitionBy("k").orderBy("ts")
    val out = df.select(Wins.rollingMean(col("v"), w, 3, 3)).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out(0).isEmpty && out(1).isEmpty)
    assert(out(2).contains(2.0) && out(5).contains(5.0))
  }

  test("rolling count skips nulls (min_samples counts samples)") {
    val df = Seq(("t", 1L, Some(1.0)), ("t", 2L, None), ("t", 3L, Some(3.0)))
      .toDF("k", "ts", "v")
    val w = Window.partitionBy("k").orderBy("ts")
    val out = df.select(Wins.rollingMean(col("v"), w, 3, 3)).collect()
    assert(out.forall(_.isNullAt(0))) // never 3 non-null samples
  }

  test("barsSince: 0 at event, counts up, null before first event") {
    val df = Seq(("t", 1L, false), ("t", 2L, true), ("t", 3L, false),
      ("t", 4L, false), ("t", 5L, true)).toDF("k", "ts", "ev")
    val w = Window.partitionBy("k").orderBy("ts")
    val out = df.select(Wins.barsSince(col("ev"), w)).collect()
      .map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(out.toSeq == Seq(-1, 0, 1, 2, 0))
  }

  test("barsSince over a shared row-number column equals the nested form") {
    val df = Seq(("t", 1L, false), ("t", 2L, true), ("t", 3L, false),
      ("u", 1L, true), ("u", 2L, false), ("u", 3L, true)).toDF("k", "ts", "ev")
    val w = Window.partitionBy("k").orderBy("ts")
    val out = df.withColumn("rn", row_number().over(w))
      .select(Wins.barsSince(col("ev"), w),
        Wins.barsSince(col("ev"), w, col("rn")))
      .collect()
    assert(out.forall(r => r.get(0) == r.get(1)))
    assert(out.count(_.isNullAt(0)) == 1)
  }

  test("runId + run length reproduce gaps-and-islands") {
    val df = Seq(("t", 1L, "a"), ("t", 2L, "a"), ("t", 3L, "b"),
      ("t", 4L, "a")).toDF("k", "ts", "s")
    val w = Window.partitionBy("k").orderBy("ts")
    val out = df.select(Wins.runId(col("s"), w)).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1, 1, 2, 3))
  }

  test("prefixScan (long, global) matches the single-window reference " +
      "+ rank") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 400).map(i => (i.toLong, rnd.nextInt(50).toLong))
      .toDF("k", "v")
    val got = Wins
      .prefixScan(df, Nil, Seq(col("k")), col("v"), "cum",
        outRank = Some("rn"))
      .select("k", "cum", "rn").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    val ref = df
      .withColumn("cum", sum("v").over(w))
      .withColumn("rn", row_number().over(
        Window.orderBy("k")).cast("long"))
      .select("k", "cum", "rn").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 400)
    assert(got.toSeq == ref.toSeq)
  }

  test("boundedRanks matches the unpartitioned-window reference " +
      "(dense_rank / percent_rank / row_number / cumSum, ties, nulls, " +
      "both directions)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // duplicate values (ties for dense/percent), a few nulls, and a
    // tiebreak id making (v, id) a total order for row_number/cumSum
    val df = (1 to 97).map { i =>
      (i.toLong,
        if (i % 13 == 0) None else Some(rnd.nextInt(12).toLong),
        rnd.nextInt(100).toLong)
    }.toDF("id", "v", "n")
    // single-column ranks over `v` ASC (ties share ranks; nulls first)
    val gotAsc = Wins.boundedRanks(df, Seq((col("v"), true)),
        outDense = Some("dr"), outPct = Some("pr"))
      .select("id", "dr", "pr").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val refAsc = df
      .withColumn("dr", dense_rank().over(Window.orderBy("v")))
      .withColumn("pr", percent_rank().over(Window.orderBy("v")))
      .select("id", "dr", "pr").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(gotAsc.toSeq == refAsc.toSeq, "asc dense/percent drifted")
    // DESC (nulls last), total (v desc, id asc) order for
    // row_number + the inclusive prefix sum of n
    val gotDesc = Wins.boundedRanks(df,
        Seq((col("v"), false), (col("id"), true)),
        outRow = Some("rn"), cumSum = Some((col("n"), "cum")))
      .select("id", "rn", "cum").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val wD = Window.orderBy(col("v").desc, col("id"))
    val refDesc = df
      .withColumn("rn", row_number().over(wD))
      .withColumn("cum", sum("n").over(
        wD.rowsBetween(Window.unboundedPreceding, 0)))
      .select("id", "rn", "cum").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(gotDesc.toSeq == refDesc.toSeq,
      "desc row_number/cumSum drifted")
    // single-row frame: percent_rank is defined 0.0
    val one = Seq((1L, 5L)).toDF("id", "v")
    val pr1 = Wins.boundedRanks(one, Seq((col("v"), true)),
      outPct = Some("pr")).select("pr").collect().head.getDouble(0)
    assert(pr1 == 0.0, "single-row percent_rank must be 0.0")
  }

  test("prefixScan (decimal, global) + peak matches the window reference " +
      "bit-exactly") {
    val s = spark
    import s.implicits._
    // signed values force the running peak to move non-monotonically;
    // 500 rows across 4 range partitions exercise every offset path
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map(i => (i.toLong, rnd.nextDouble() * 2 - 1))
      .toDF("k", "v")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val got = Wins
      .prefixScan(df, Nil, Seq(col("k")), col("v"), "cum",
        outPeak = Some("peak"))
      .select(col("k"), col("cum"), col("peak"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDecimal(1), r.getDecimal(2)))
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    val ref = df
      .withColumn("cum", sum(col("v").cast(dec)).over(w).cast(dec))
      .withColumn("peak", max(col("cum")).over(w))
      .select(col("k"), col("cum"), col("peak"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDecimal(1), r.getDecimal(2)))
    assert(got.length == 500)
    assert(got.toSeq == ref.toSeq)
  }

  test("prefixScan (decimal, keyed) + peak matches the per-key window " +
      "bit-exactly") {
    val s = spark
    import s.implicits._
    // uneven key sizes (1, ~40, ~460) so one key spans several range
    // partitions while another occupies a fraction of one — both offset
    // paths (null peak seed, cross-partition peak carry)
    val rnd = new scala.util.Random(13)
    val rows = (1 to 500).map { i =>
      val g = if (i == 1) "solo" else if (i % 12 == 0) "mid" else "big"
      (g, i.toLong, rnd.nextDouble() * 2 - 1)
    }
    val df = rows.toDF("g", "k", "v")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    def tuples(d: org.apache.spark.sql.DataFrame) =
      d.select(col("g"), col("k"), col("cum"), col("peak"))
        .orderBy("g", "k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2),
          r.getDecimal(3))).toSeq
    val got = tuples(Wins.prefixScan(df, Seq("g"), Seq(col("k")), col("v"),
      "cum", outPeak = Some("peak")))
    val w = Window.partitionBy("g").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, 0)
    val ref = tuples(df
      .withColumn("cum", sum(col("v").cast(dec)).over(w).cast(dec))
      .withColumn("peak", max(col("cum")).over(w)))
    assert(got.length == 500)
    assert(got == ref)
  }

  test("prefixScan follows the window's null rule across range " +
      "partitions: nulls leading a later partition, an all-null key, " +
      "a one-row key") {
    val s = spark
    import s.implicits._
    // k 120..280 null spans the middle range boundary of 4 partitions,
    // so a later partition starts with nulls after non-null values in
    // the earlier ones; k 1..10 null leads the first partition
    val rnd = new scala.util.Random(17)
    val rows = (1 to 400).map { i =>
      val g = if (i == 7) "one" else if (i % 10 == 3) "nulls" else "big"
      val v = if (g == "nulls" || i <= 10 || (i >= 120 && i <= 280)) None
        else Some(rnd.nextInt(100).toLong - 40)
      (g, i.toLong, v)
    }
    val df = rows.toDF("g", "k", "v")
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val conf = spark.conf
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = conf.get(coalesceKey)
    conf.set(coalesceKey, "false")
    try {
      assert(df.repartitionByRange(col("k"))
        .select(spark_partition_id()).distinct().count() > 1,
        "expected more than one range partition")
      for ((keys, value) <- Seq((Nil, col("v")), (Seq("g"), col("v")),
          (Nil, col("v").cast(dec)), (Seq("g"), col("v").cast(dec)))) {
        val cols = Seq("g", "k", "cum", "peak", "rn")
        val got = Wins.prefixScan(df, keys, Seq(col("k")), value, "cum",
            outPeak = Some("peak"), outRank = Some("rn"))
          .select(cols.map(col): _*).orderBy("k").collect().toSeq
        val byKey = Window.partitionBy(keys.map(col): _*).orderBy("k")
        val w = byKey.rowsBetween(Window.unboundedPreceding, 0)
        val ref = df
          .withColumn("cum", sum(value).over(w))
          .withColumn("peak", max(col("cum")).over(w))
          .withColumn("rn", row_number().over(byKey).cast("long"))
          .select(cols.map(col): _*).orderBy("k").collect().toSeq
        assert(got.length == 400)
        assert(got == ref, s"keys=$keys value=$value drifted")
        assert(got.exists(r => r.isNullAt(2)), "expected a null prefix")
      }
    } finally conf.set(coalesceKey, old)
  }

  test("prefixScan submits as many jobs for 16 keys as for 1") {
    val s = spark
    import s.implicits._
    def jobs(nKeys: Int) = {
      val df = (1 to 320).map(i => ((i % nKeys).toString, i.toLong,
        (i % 7).toLong)).toDF("g", "k", "v")
      Jobs.count(spark) {
        Wins.prefixScan(df, Seq("g"), Seq(col("k")), col("v"), "cum",
          outPeak = Some("peak"), outRank = Some("rn")).collect()
      }
    }
    assert(jobs(1) == jobs(16))
  }
}
