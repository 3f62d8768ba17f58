package graft.ops

import graft.ops.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window combinators — SURVEY.md §2.5. The dominant operator family of the
  * reference: every feature builder is `expr.over(partitionBy(key) orderBy
  * time)`.
  *
  * Critical semantic: Polars `rolling_*(window_size=n, min_samples=m)` yields
  * null until m non-null samples are inside the frame
  * (ref: src/mf_etl/silver/features_base.py:174-198). Spark's frame aggs
  * return partial-window values instead, so every rolling helper here takes a
  * `minSamples` guard implemented as `when(count(x) over frame >= m, agg)`.
  * `count` skips nulls, matching Polars' definition of "samples".
  */
object Wins {

  /** Trailing row frame of length n ending at the current row. */
  def trailing(w: WindowSpec, n: Int): WindowSpec = w.rowsBetween(1L - n, 0)

  /** Cumulative frame: unbounded preceding → current row. */
  def cum(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, 0)

  private def guarded(c: Column, w: WindowSpec, n: Int, minSamples: Int)(
      agg: Column => Column): Column = {
    val f = trailing(w, n)
    if (minSamples <= 1) agg(c).over(f)
    else when(count(c).over(f) >= minSamples, agg(c).over(f))
  }

  def rollingMean(c: Column, w: WindowSpec, n: Int, minSamples: Int): Column =
    guarded(c, w, n, minSamples)(avg)

  /** Population std (ddof=0) — the reference always uses ddof=0. */
  def rollingStd(c: Column, w: WindowSpec, n: Int, minSamples: Int): Column =
    guarded(c, w, n, minSamples)(stddev_pop)

  def rollingMin(c: Column, w: WindowSpec, n: Int, minSamples: Int): Column =
    guarded(c, w, n, minSamples)(min)

  def rollingMax(c: Column, w: WindowSpec, n: Int, minSamples: Int): Column =
    guarded(c, w, n, minSamples)(max)

  def rollingSum(c: Column, w: WindowSpec, n: Int, minSamples: Int): Column =
    guarded(c, w, n, minSamples)(sum)

  /** Exact rolling median (ref: dollar-vol liquidity floor,
    * src/mf_etl/backtest/execution_realism.py:166-183). Spark's `median`
    * refuses window frames; `percentile(x, 0.5)` is the same exact
    * interpolated statistic and is frame-capable. */
  def rollingMedian(c: Column, w: WindowSpec, n: Int, minSamples: Int): Column =
    guarded(c, w, n, minSamples)(x => percentile(x, lit(0.5)))

  /** 1-based position of the row within its partition (ordered). */
  def rowIdx(w: WindowSpec): Column = row_number().over(w)

  /** Bars since the last row where `event` was true (inclusive of the event
    * row = 0); null before the first event.
    * Ref: src/mf_etl/gold/event_grammar_v1.py:32-46.
    *
    * Two window levels: the `row_number()` is nested inside the cumulative
    * `last(...)`, so Spark plans an inner Window operator for the row number
    * and an outer one for the `last`, wherever this is used (in a
    * `withColumn` chain, a pair per counter). The overload below takes a
    * row-number column computed once in an earlier projection, so all the
    * counters of one later projection share a single level. */
  def barsSince(event: Column, w: WindowSpec): Column =
    barsSince(event, w, row_number().over(w))

  /** [[barsSince]] over `rowNum`, the partition's 1-based row number under
    * `w` (`row_number().over(w)`, or a column holding it). */
  def barsSince(event: Column, w: WindowSpec, rowNum: Column): Column =
    rowNum - last(when(event, rowNum), ignoreNulls = true).over(cum(w))

  /** Gaps-and-islands run id: increments whenever `value` changes (first row
    * of the partition starts run 1).
    * Ref: src/mf_etl/gold/features_v1.py:290-313.
    *
    * Two window levels: the `lag` inside [[runStart]] is nested inside the
    * cumulative `sum`. A caller that plans its windows by dependency level
    * computes [[runStart]] in one projection and sums it in the next. */
  def runId(value: Column, w: WindowSpec): Column =
    sum(runStart(value, w)).over(cum(w))

  /** 1 on the first row of a run of equal `value`s (and on the partition's
    * first row), else 0: the flag [[runId]] sums. */
  def runStart(value: Column, w: WindowSpec): Column =
    when(lag(value, 1).over(w).isNull || value =!= lag(value, 1).over(w), 1)
      .otherwise(0)

  /** Forward fill: last non-null value at or before the current row. */
  def forwardFill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true).over(cum(w))

  /** State transition code prev*base + cur (null on the first row).
    * Ref: src/mf_etl/gold/features_v1.py:306-311. */
  def transitionCode(state: Column, w: WindowSpec, base: Int = 10): Column =
    lag(state, 1).over(w) * base + state

  /** Zero-cross up: x > 0 while previous x <= 0
    * (ref: src/mf_etl/silver/indicators_twiggs.py:162-163). */
  def zeroCrossUp(c: Column, w: WindowSpec): Column =
    c > 0 && lag(c, 1).over(w) <= 0

  def zeroCrossDown(c: Column, w: WindowSpec): Column =
    c < 0 && lag(c, 1).over(w) >= 0

  /** 3-bar pivot low: lag2 > lag1 && lag1 < current
    * (ref: src/mf_etl/gold/event_grammar_v1.py:148-165). */
  def pivotLow(c: Column, w: WindowSpec): Column =
    lag(c, 2).over(w) > lag(c, 1).over(w) && lag(c, 1).over(w) < c

  def pivotHigh(c: Column, w: WindowSpec): Column =
    lag(c, 2).over(w) < lag(c, 1).over(w) && lag(c, 1).over(w) > c

  /** Duplicate-within-key flag (ref: src/mf_etl/validate/rules.py:144-150). */
  def isDuplicated(partition: Seq[Column]): Column =
    count(lit(1)).over(Window.partitionBy(partition: _*)) > 1

  /** Global rank / prefix columns over a BOUNDED (report-sized) frame
    * WITHOUT the unpartitioned `Window.orderBy(...)` Spark executes as
    * one task holding the whole input: the rank of a row is a COUNT of
    * what sorts strictly before it, so a groupBy over the order key +
    * one broadcast inequality self-join of the key table computes
    * every rank fully in parallel, with no global sort, no single
    * partition and no eager job (unlike the two-pass [[globalCumSum]],
    * this stays a lazy plan). O(k²) key pairs — for post-aggregation
    * report frames only (≤ a few thousand rows, the callers' shape);
    * corpus-sized inputs should use [[globalCumSum]].
    *
    * `order` is the total-order spec as (valueColumn, ascending?)
    * pairs with Spark's default null placement (asc → nulls first,
    * desc → nulls last). Outputs are bit-identical to the window
    * forms: `outRow` = row_number() (REQUIRES the order to be total —
    * duplicate keys would share a rank), `outDense` = dense_rank(),
    * `outPct` = percent_rank() (same integer operands into the same
    * double division, 0.0 at n = 1), `cumSum` = (value, outCol) for
    * `sum(value).over(orderBy…)` — inclusive of ALL peer rows, i.e.
    * the default RANGE frame (equal to the ROWS frame when the order
    * is total). */
  def boundedRanks(df: DataFrame, order: Seq[(Column, Boolean)],
      outRow: Option[String] = None, outDense: Option[String] = None,
      outPct: Option[String] = None,
      cumSum: Option[(Column, String)] = None): DataFrame = {
    val n = order.length
    val aks = (0 until n).map(i => s"__br_a$i")
    val bks = (0 until n).map(i => s"__br_b$i")
    // per-key table: rows per key (+ the key's summed cumSum value)
    val keyed = df.groupBy(order.map(_._1).zip(aks).map {
        case (c, a) => c.as(a) }: _*)
      .agg(count(lit(1)).as("__br_cnt"),
        cumSum.map { case (v, _) =>
          sum(v).as("__br_val") }.getOrElse(lit(0L).as("__br_val")))
    val before = keyed.select(bks.zip(aks).map { case (b, a) =>
        col(a).as(b) } :+ col("__br_cnt").as("__br_bcnt")
        :+ col("__br_val").as("__br_bval"): _*)
    // "b sorts strictly before a": lexicographic over the order spec,
    // each level direction- and null-aware (Spark's default placement)
    def lt(b: Column, a: Column, asc: Boolean): Column =
      if (asc) (b.isNull && a.isNotNull) || (b < a)
      else (a.isNull && b.isNotNull) || (b > a)
    val strictlyBefore = (0 until n).map { i =>
      val eqPrefix = (0 until i).map(j => col(bks(j)) <=> col(aks(j)))
        .reduceOption(_ && _).getOrElse(lit(true))
      eqPrefix && lt(col(bks(i)), col(aks(i)), order(i)._2)
    }.reduce(_ || _)
    val ranked = keyed.join(broadcast(before), strictlyBefore, "left")
      .groupBy((aks.map(col) :+ col("__br_cnt") :+ col("__br_val")): _*)
      .agg(coalesce(sum("__br_bcnt"), lit(0L)).as("__br_rb"),
        count(col("__br_bcnt")).as("__br_kb"),
        sum("__br_bval").as("__br_vb"))
    val tot = df.agg(count(lit(1)).as("__br_n"))
    val withN =
      if (outPct.isDefined) ranked.crossJoin(broadcast(tot)) else ranked
    val out0 = df.join(broadcast(withN),
      order.map(_._1).zip(aks).map { case (c, a) => c <=> col(a) }
        .reduce(_ && _))
    val out1 = outRow.fold(out0)(o =>
      out0.withColumn(o, (col("__br_rb") + 1).cast("int")))
    val out2 = outDense.fold(out1)(o =>
      out1.withColumn(o, (col("__br_kb") + 1).cast("int")))
    val out3 = outPct.fold(out2)(o =>
      out2.withColumn(o, when(col("__br_n") > 1,
        col("__br_rb").cast("double")
          / (col("__br_n") - 1).cast("double")).otherwise(0.0)))
    // first key has no befores (__br_vb null from the join miss)
    val out4 = cumSum.fold(out3) { case (_, o) =>
      out3.withColumn(o,
        coalesce(col("__br_vb") + col("__br_val"), col("__br_val"))) }
    out4.drop((aks :+ "__br_cnt" :+ "__br_val" :+ "__br_rb"
      :+ "__br_kb" :+ "__br_vb" :+ "__br_n"): _*)
  }

  /** Distributed global cumulative sum (and optional global rank) over a
    * total order — the scale-safe replacement for an unpartitioned
    * `Window.orderBy(...)`, which Spark executes as ONE task holding the
    * entire input. Two-pass distributed prefix sum instead:
    *
    *   1. range-partition on the order columns (the same parallel exchange
    *      a global sort uses) and stamp `spark_partition_id()`;
    *   2. aggregate per-partition value sums + row counts — ONE tiny row
    *      per partition — and scan them on the driver into exclusive
    *      prefix offsets (bounded by the partition count, not the data);
    *   3. broadcast the offsets back and add a partition-LOCAL cumulative
    *      window (`partitionBy(pid)` — embarrassingly parallel).
    *
    * Output is identical to the single-task window for any total order
    * (range partition ids are monotone in the order columns). The
    * repartitioned input is localCheckpoint'ed so the offsets job and the
    * downstream consumer read the SAME materialized partitioning —
    * range-partition sampling is otherwise re-evaluated per job and the
    * pid↔offset pairing could drift between the two passes.
    *
    * `valueCol` is summed as LONG (the callers accumulate token counts);
    * `outRank` additionally emits the 1-based global row number.
    */
  def globalCumSum(df: DataFrame, orderCols: Seq[Column], valueCol: Column,
      outCum: String, outRank: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pid = "__gcs_pid"
    val v = "__gcs_v"
    val parts = df
      .withColumn(v, valueCol.cast("long"))
      .repartitionByRange(orderCols: _*)
      .withColumn(pid, spark_partition_id())
      .graftCheckpoint()
    val totals = parts.groupBy(col(pid))
      .agg(coalesce(sum(v), lit(0L)).as("s"), count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var accS = 0L
    var accC = 0L
    val offsets = totals.map { case (p, s, c) =>
      val row = (p, accS, accC); accS += s; accC += c; row
    }.toSeq
    val offsDf = offsets.toDF(pid, "__gcs_soff", "__gcs_roff")
    val wLoc = Window.partitionBy(col(pid)).orderBy(orderCols: _*)
    val withCum = parts.join(broadcast(offsDf), Seq(pid))
      .withColumn(outCum, sum(col(v)).over(cum(wLoc)) + col("__gcs_soff"))
    outRank.fold(withCum) { rn =>
      withCum.withColumn(rn,
        row_number().over(wLoc).cast("long") + col("__gcs_roff"))
    }.drop(pid, v, "__gcs_soff", "__gcs_roff")
  }

  /** Distributed global cumulative sum PLUS running maximum of that sum,
    * exact in DECIMAL(38,18) — the scale-safe replacement for the
    * equity-curve shape `sum(x) over (order by t)` + `max(cum) over
    * (order by t)` (both single-task as unpartitioned windows). Same
    * two-pass structure as [[globalCumSum]]; decimal arithmetic makes the
    * result independent of the partition layout (double summation would
    * re-associate across partition boundaries).
    *
    * `valueCol` must be non-null (cast to DECIMAL(38,18) internally);
    * `outCum` is the global prefix sum, `outPeak` its running max.
    *
    * NOTE: like [[globalCumSum]] this is EAGER — the checkpoint and the
    * per-partition-totals collect run at DataFrame-construction time
    * (inherent to the two-pass shape). Callers constructing many of
    * these (per-combo metrics) pay one small distributed job pair each.
    */
  def globalCumSumMax(df: DataFrame, orderCols: Seq[Column],
      valueCol: Column, outCum: String, outPeak: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pid = "__gcs_pid"
    val v = "__gcs_v"
    val lc = "__gcs_lc"
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val zero = java.math.BigDecimal.ZERO.setScale(18)
    val mlc = "__gcs_mlc"
    val wLoc = Window.partitionBy(col(pid)).orderBy(orderCols: _*)
    // checkpoint AFTER the local windows so (a) the offsets job and the
    // output pass read the same materialized range partitioning and
    // (b) the per-partition sort+scan runs exactly once. The local
    // running max rides the same window stage: running-max(lc + soff)
    // = running-max(lc) + soff, so no post-checkpoint window is needed.
    val local = df
      .withColumn(v, coalesce(valueCol.cast(dec), lit(zero).cast(dec)))
      .repartitionByRange(orderCols: _*)
      .withColumn(pid, spark_partition_id())
      .withColumn(lc, sum(col(v)).over(cum(wLoc)))
      .withColumn(mlc, max(col(lc)).over(cum(wLoc)))
      .graftCheckpoint()
    val totals = local.groupBy(col(pid))
      .agg(sum(col(v)).as("s"), max(col(lc)).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getDecimal(1), r.getDecimal(2)))
      .sortBy(_._1)
    // driver prefix scan over one tiny row per partition: exclusive sum
    // offset + exclusive peak (max completed cum over earlier partitions)
    var accS = java.math.BigDecimal.ZERO
    var peak: java.math.BigDecimal = null
    val offsets = totals.map { case (p, s, m) =>
      val row = (p, accS, peak)
      val partPeak = accS.add(m)
      if (peak == null || partPeak.compareTo(peak) > 0) peak = partPeak
      accS = accS.add(s)
      row
    }.toSeq
    val offsDf = offsets.toDF(pid, "__gcs_soff", "__gcs_poff")
    // adding two DECIMAL(38,18)s would need precision 39, so Spark
    // rounds the sum to (38,17) — a real 1e-18-level error. Cast the
    // operands down to (37,18) (18 integer digits of headroom is far
    // beyond any accumulated magnitude here) so the addition is exact
    // in (38,18).
    val dec37 = org.apache.spark.sql.types.DecimalType(37, 18)
    def plus(a: Column, b: Column): Column =
      (a.cast(dec37) + b.cast(dec37)).cast(dec)
    val withCum = local.join(broadcast(offsDf), Seq(pid))
      .withColumn(outCum, plus(col(lc), col("__gcs_soff")))
      .withColumn(outPeak,
        when(col("__gcs_poff").isNull,
          plus(col(mlc), col("__gcs_soff")))
          .otherwise(greatest(plus(col(mlc), col("__gcs_soff")),
            col("__gcs_poff").cast(dec)))
          .cast(dec))
    withCum.drop(pid, v, lc, mlc, "__gcs_soff", "__gcs_poff")
  }

  /** Grouped [[globalCumSumMax]]: an independent exact DECIMAL(38,18)
    * prefix sum + running max per `groupCol` value, with ALL groups
    * computed in ONE two-pass distributed job — the batched replacement
    * for constructing many single-group scans (which cost one eager
    * checkpoint + offsets collect EACH). Range-partitions on
    * (group, order) so a large group still spans many partitions; the
    * per-(group, partition) totals collected to the driver stay bounded
    * by #groups × #partitions, and each group's offsets are scanned
    * independently. Output values are bit-identical to running
    * [[globalCumSumMax]] once per group (same decimal arithmetic, same
    * cast points). */
  def groupedCumSumMax(df: DataFrame, groupCol: String,
      orderCols: Seq[Column], valueCol: Column, outCum: String,
      outPeak: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pid = "__gcs_pid"
    val v = "__gcs_v"
    val lc = "__gcs_lc"
    val mlc = "__gcs_mlc"
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val zero = java.math.BigDecimal.ZERO.setScale(18)
    val wLoc = Window.partitionBy(col(groupCol), col(pid))
      .orderBy(orderCols: _*)
    val local = df
      .withColumn(v, coalesce(valueCol.cast(dec), lit(zero).cast(dec)))
      .repartitionByRange(col(groupCol) +: orderCols: _*)
      .withColumn(pid, spark_partition_id())
      .withColumn(lc, sum(col(v)).over(cum(wLoc)))
      .withColumn(mlc, max(col(lc)).over(cum(wLoc)))
      .graftCheckpoint()
    val totals = local.groupBy(col(groupCol), col(pid))
      .agg(sum(col(v)).as("s"), max(col(lc)).as("m"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDecimal(2),
        r.getDecimal(3)))
    val offsets = totals.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      var accS = java.math.BigDecimal.ZERO
      var peak: java.math.BigDecimal = null
      rows.sortBy(_._2).map { case (_, p, s, m) =>
        val row = (g, p, accS, peak)
        val partPeak = accS.add(m)
        if (peak == null || partPeak.compareTo(peak) > 0) peak = partPeak
        accS = accS.add(s)
        row
      }
    }
    val offsDf = offsets.toDF(groupCol, pid, "__gcs_soff", "__gcs_poff")
    val dec37 = org.apache.spark.sql.types.DecimalType(37, 18)
    def plus(a: Column, b: Column): Column =
      (a.cast(dec37) + b.cast(dec37)).cast(dec)
    val withCum = local.join(broadcast(offsDf), Seq(groupCol, pid))
      .withColumn(outCum, plus(col(lc), col("__gcs_soff")))
      .withColumn(outPeak,
        when(col("__gcs_poff").isNull,
          plus(col(mlc), col("__gcs_soff")))
          .otherwise(greatest(plus(col(mlc), col("__gcs_soff")),
            col("__gcs_poff").cast(dec)))
          .cast(dec))
    withCum.drop(pid, v, lc, mlc, "__gcs_soff", "__gcs_poff")
  }

  /** Rolling mode with most-recent tiebreak over a trailing window
    * (ref: HMM display smoothing,
    * src/mf_etl/apps/overlay_viewer/hmm_display.py:47-70): argmax of
    * (count, recency) over the frame values — pure array expressions. */
  def rollingModeRecent(c: Column, w: WindowSpec, n: Int): Column = {
    val vals = collect_list(c).over(trailing(w, n))
    array_max(transform(array_distinct(vals), v =>
      struct(
        size(filter(vals, x => x === v)).as("cnt"),
        (-array_position(reverse(vals), v)).as("npos"),
        v.as("v")))).getField("v")
  }
}
