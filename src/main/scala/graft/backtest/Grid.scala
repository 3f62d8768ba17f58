package graft.backtest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sensitivity grid runner
  * (ref: src/mf_etl/backtest/sensitivity_runner.py:494-…,
  * configs/settings.yaml backtest_sensitivity.max_combos=500): the
  * reference loops over parameter combos on the driver; here every combo
  * is one cell of ONE keyed simulation. Signals are generated once per
  * distinct (mode, confirm) variant, each signal row is tagged with the
  * cells of its variant's combos, and one grouped summary reports every
  * cell — the job count does not grow with the number of combos.
  */
object Grid {

  case class Combo(mode: String, confirmBars: Int, holdBars: Int,
    feeBps: Double) {
    def config: Engine.Config = Engine.Config(holdBars, feeBps)
  }

  /** The default combo of the single-combo backtests. */
  val Default: Combo = Combo("state_entry", 2, 10, 5.0)

  /** `backtest_sensitivity.max_combos` via Settings (yaml default 500). */
  def MaxCombos: Int = graft.Settings.sensitivity.maxCombos

  /** Cartesian combo expansion, capped like the reference. */
  def combos(modes: Seq[String], confirms: Seq[Int], holds: Seq[Int],
      fees: Seq[Double]): Seq[Combo] = {
    val all = for {
      m <- modes; c <- confirms; h <- holds; f <- fees
    } yield Combo(m, c, h, f)
    all.take(MaxCombos)
  }

  /** A sweep's cells: each combo keyed by its index in `cs`. */
  def cells(cs: Seq[Combo]): Seq[(String, Combo)] =
    cs.zipWithIndex.map { case (c, i) => (i.toString, c) }

  /** Signal rows of one (mode, confirm) variant, one copy per cell of
    * `cells` (all combos of that variant), the copy's id in `cell`. */
  def tagCells(sig: DataFrame, cells: Seq[(String, Combo)]): DataFrame =
    sig.withColumn("cell", explode(array(cells.map(c => lit(c._1)): _*)))

  /** Every cell's trades from one keyed simulation: `signalsOf` builds
    * the signal frame of a (mode, confirm) variant, once per variant. */
  def trades(cells: Seq[(String, Combo)])(
      signalsOf: (String, Int) => DataFrame): DataFrame = {
    val variants = cells.map(c => (c._2.mode, c._2.confirmBars)).distinct
    val tagged = variants.map { case (m, cb) =>
      tagCells(signalsOf(m, cb), cells.filter(c =>
        c._2.mode == m && c._2.confirmBars == cb))
    }
    Engine.simulate(tagged.reduce(_.unionByName(_)),
      cells.map { case (id, c) => id -> c.config }.toMap)
  }

  /** One headline-summary row per cell of `cells`, over the keyed
    * `trades` of that sweep, with the combo's columns after it. */
  def summarize(trades: DataFrame, cells: Seq[(String, Combo)]): DataFrame = {
    val spark = trades.sparkSession
    val meta = spark.createDataFrame(cells.map { case (id, c) =>
        (id, c.mode, c.confirmBars, c.holdBars, c.feeBps) })
      .toDF("cell", "mode", "confirm_bars", "hold_bars", "fee_bps")
    Metrics.perCell(meta, Metrics.summary(trades, Seq("cell")))
  }

  /** Run every combo: signals → trades → headline summary, one row per
    * combo. `gram` is the state-labeled bar frame (cache it upstream). */
  def run(gram: DataFrame, cs: Seq[Combo]): DataFrame = {
    val cl = cells(cs)
    summarize(trades(cl)(Signals.generate(gram, _, _)), cl)
  }
}
