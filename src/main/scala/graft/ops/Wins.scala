package graft.ops

import graft.ops.Ckpt._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

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
    * partition and no eager job (unlike the two-pass [[prefixScan]],
    * this stays a lazy plan). O(k²) key pairs — for post-aggregation
    * report frames only (≤ a few thousand rows, the callers' shape);
    * corpus-sized inputs should use [[prefixScan]].
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

  /** Distributed ordered prefix scan per key — the scale-safe form of
    * `sum(value)`, its running `max` and `row_number()` over
    * `Window.partitionBy(keys).orderBy(order)` with a cumulative ROWS
    * frame. With `keys = Nil` that window is unpartitioned, and Spark runs
    * it as ONE task holding the entire input. Local partials per range
    * partition, then one global merge instead:
    *
    *   1. range-partition on `keys ++ order` (the same parallel exchange
    *      a global sort uses), stamp `spark_partition_id()` and
    *      checkpoint, so the totals job and the output pass read the same
    *      materialized partitioning (range sampling would otherwise re-run
    *      per job and the pid↔offset pairing could drift);
    *   2. one window stage over `partitionBy(keys :+ pid)` computes the
    *      local cumulative sum, its running max and the row number;
    *   3. one collect of per-(key, partition) totals — bounded by
    *      #keys × #partitions, not the data — is scanned on the driver
    *      into each key's exclusive sum, peak and row-count offsets;
    *   4. one broadcast join attaches the offsets.
    *
    * Output equals the reference window for any total order within a key
    * (range partition ids are monotone in `keys ++ order`), whatever the
    * layout, because every sum is exact: an integral value sums as LONG,
    * any other numeric as DECIMAL(38,18) (a double sum would re-associate
    * across partition boundaries). Nulls follow the window: a null adds
    * nothing, and `outCum` (and `outPeak`) is null only until the key's
    * first non-null value. `outPeak` is the running max of `outCum`,
    * `outRank` the 1-based row number within the key (LONG).
    *
    * EAGER: the checkpoint and the totals collect run when the DataFrame
    * is built. The jobs they submit do not grow with the number of keys. */
  def prefixScan(df: DataFrame, keys: Seq[String], order: Seq[Column],
      value: Column, outCum: String, outPeak: Option[String] = None,
      outRank: Option[String] = None): DataFrame = {
    val (pid, v, lc, lm, rn) =
      ("__ps_pid", "__ps_v", "__ps_lc", "__ps_lm", "__ps_rn")
    val dt: DataType = df.select(value).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case _ => DecimalType(38, 18)
    }
    // adding two DECIMAL(38,18)s would need precision 39, so Spark rounds
    // the sum to (38,17) — a real 1e-18-level error. The operands are cast
    // down to (37,18) (18 integer digits of headroom is far beyond any
    // accumulated magnitude here), so the addition is exact in (38,18).
    def plus(a: Column, b: Column): Column = dt match {
      case LongType => a + b
      case _ => (a.cast(DecimalType(37, 18)) + b.cast(DecimalType(37, 18)))
        .cast(dt)
    }
    val w = Window.partitionBy(keys.map(col) :+ col(pid): _*)
      .orderBy(order: _*)
    val local = df
      .withColumn(v, value.cast(dt))
      .repartitionByRange(keys.map(col) ++ order: _*)
      .withColumn(pid, spark_partition_id())
      .graftCheckpoint()
      .withColumn(lc, sum(col(v)).over(cum(w)))
      .withColumn(rn, row_number().over(w))
      .withColumn(lm, max(col(lc)).over(cum(w)))
    val n = keys.length
    val totals = local.groupBy(keys.map(col) :+ col(pid): _*)
      .agg(sum(col(v)), max(col(lc)), count(lit(1)))
      .collect()
    // per key, in partition order: the exclusive sum (null until the
    // key's first non-null value), the exclusive peak (max completed cum
    // of the earlier partitions) and the exclusive row count
    def big(x: Any): java.math.BigDecimal = x match {
      case l: Long => java.math.BigDecimal.valueOf(l)
      case d: java.math.BigDecimal => d
      case _ => null
    }
    def typed(x: java.math.BigDecimal): Any =
      if (x == null || dt != LongType) x else x.longValueExact()
    val offsets = totals.groupBy(r => (0 until n).map(r.get)).values
      .flatMap { rows =>
        var accS: java.math.BigDecimal = null
        var peak: java.math.BigDecimal = null
        var accC = 0L
        rows.sortBy(_.getInt(n)).map { r =>
          val row = Row.fromSeq((0 to n).map(r.get) ++
            Seq(typed(accS), typed(peak), accC))
          val (s, m) = (big(r.get(n + 1)), big(r.get(n + 2)))
          if (m != null) {
            val partPeak = if (accS == null) m else accS.add(m)
            if (peak == null || partPeak.compareTo(peak) > 0) peak = partPeak
          }
          if (s != null) accS = if (accS == null) s else accS.add(s)
          accC += r.getLong(n + 3)
          row
        }
      }.toSeq
    val ks = keys.indices.map(i => s"__ps_k$i")
    val keyFields = keys.zip(ks).map { case (k, o) =>
      df.schema(k).copy(name = o) }
    val offsDf = df.sparkSession.createDataFrame(offsets.asJava,
      StructType(keyFields ++ Seq(StructField("__ps_opid", IntegerType),
        StructField("__ps_soff", dt), StructField("__ps_poff", dt),
        StructField("__ps_roff", LongType))))
    val on = keys.zip(ks).map { case (k, o) => col(k) <=> col(o) }
      .foldLeft(col(pid) === col("__ps_opid"))(_ && _)
    val (soff, poff) = (col("__ps_soff"), col("__ps_poff"))
    val joined = local.join(broadcast(offsDf), on)
      .withColumn(outCum, coalesce(plus(col(lc), soff), col(lc), soff))
    val withPeak = outPeak.fold(joined)(o => joined.withColumn(o,
      greatest(poff, coalesce(plus(col(lm), soff), col(lm))).cast(dt)))
    val withRank = outRank.fold(withPeak)(o => withPeak.withColumn(o,
      col(rn).cast("long") + col("__ps_roff")))
    withRank.drop(Seq(pid, v, lc, lm, rn, "__ps_opid", "__ps_soff",
      "__ps_poff", "__ps_roff") ++ ks: _*)
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
