package graft.backtest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Walk-forward evaluation (ref: the walk-forward runner layered on the
  * grid, src/mf_etl/backtest/ — driver loop over rolling train/test
  * windows): indicators/states are causal, so they are computed once over
  * the full history; each signal row is tagged with the split whose test
  * window holds it, and every split is one cell of ONE keyed simulation
  * and one grouped summary — the job count does not grow with the
  * number of splits.
  */
object WalkForward {

  case class Split(idx: Int, testStartTs: Long, testEndTs: Long)

  /** Rolling, non-overlapping test windows covering (minTs, maxTs]. */
  def splits(minTs: Long, maxTs: Long, nSplits: Int): Seq[Split] = {
    require(nSplits > 0 && maxTs > minTs)
    val step = (maxTs - minTs) / nSplits
    (0 until nSplits).map { i =>
      val start = minTs + i * step
      val end = if (i == nSplits - 1) maxTs else minTs + (i + 1) * step
      Split(i, start, end)
    }
  }

  /** `signals` with `split_idx`, the split whose test window
    * (testStartTs, testEndTs] holds the row's bar_ts; rows outside every
    * split are dropped. */
  def tagSplits(signals: DataFrame, ss: Seq[Split]): DataFrame = {
    val idx = ss.foldLeft(lit(null).cast("int")) { (acc, sp) =>
      when(col("bar_ts") > sp.testStartTs && col("bar_ts") <= sp.testEndTs,
        lit(sp.idx)).otherwise(acc)
    }
    signals.withColumn("split_idx", idx).filter(col("split_idx").isNotNull)
  }

  /** Per-split trade summaries: signals computed on the full (causal)
    * state frame, each split simulated on its own test window (bar
    * numbering restarts per split, as a per-split filter would give). */
  def run(signals: DataFrame, ss: Seq[Split],
      cfg: Engine.Config): DataFrame = {
    val spark = signals.sparkSession
    val trades = Engine.simulate(
      tagSplits(signals, ss).withColumn("cell", col("split_idx")),
      ss.map(_.idx.toString -> cfg).toMap)
    val meta = spark.createDataFrame(ss.map(sp =>
        (sp.idx.toString, sp.idx, sp.testStartTs, sp.testEndTs)))
      .toDF("cell", "split_idx", "test_start_ts", "test_end_ts")
    Metrics.perCell(meta, Metrics.summary(trades, Seq("cell")))
  }
}
