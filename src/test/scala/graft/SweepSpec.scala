package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.backtest.{Engine, Grid, Metrics, Signals, WalkForward}

/** The backtest sweeps run as one keyed simulation: the jobs Grid.run and
  * WalkForward.run submit do not grow with their number of cells, and a
  * cell without trades keeps its row, equal to the global summary of an
  * empty trade frame (n_trades = 0, the ratios and means null). */
class SweepSpec extends SparkSpec {

  // the smallest fixture, beside the harness's scale-factor directory
  private lazy val dir = java.nio.file.Paths.get(Harness.sfDir)
    .resolveSibling("sf0.001").toString

  /** State-labeled bars of the fixture, checkpointed as the registered
    * queries' slim grammar stage is. */
  private lazy val gram: DataFrame = etl.EventGrammar.build(
      etl.Indicators.twiggs(etl.MarketData.barsFromEvents(
        spark.read.parquet(s"$dir/events.parquet"))))
    .select("ticker", "bar_ts", "bar_id", "open", "high", "low", "close",
      "flow_state_code")
    .localCheckpoint()

  private lazy val signals = Signals.generate(gram, "state_entry", 2)
    .localCheckpoint()

  private lazy val span = {
    val b = signals.agg(min("bar_ts"), max("bar_ts")).head
    (b.getLong(0), b.getLong(1))
  }

  private val grid = Grid.combos(Seq("state_entry", "state_transition_entry"),
    Seq(1, 2), Seq(5, 10), Seq(5.0))

  /** The summary columns of a sweep row, as the global summary of no
    * trades gives them. */
  private lazy val emptySummary: Row = {
    val s = spark
    import s.implicits._
    Metrics.summary(s.emptyDataset[Engine.Trade].toDF(), Seq.empty).head
  }
  private def summaryOf(r: Row): Row =
    Row.fromSeq(emptySummary.schema.fieldNames.map(r.getAs[Any](_)).toSeq)

  test("Grid.run submits as many jobs for 8 combos as for 2") {
    val two = Seq(grid(0), grid(6))
    val g = gram
    def jobs(cs: Seq[Grid.Combo]) =
      Jobs.count(spark) { Grid.run(g, cs).collect() }
    assert(grid.size == 8)
    assert(jobs(two) == jobs(grid))
  }

  test("WalkForward.run submits as many jobs for 6 splits as for 2") {
    val (sig, (lo, hi)) = (signals, span)
    def jobs(n: Int) = Jobs.count(spark) {
      WalkForward.run(sig, WalkForward.splits(lo, hi, n),
        Grid.Default.config).collect()
    }
    assert(jobs(2) == jobs(6))
  }

  test("Metrics.maxDrawdownByCell submits as many jobs for 8 cells as " +
      "for 2") {
    val s = spark
    import s.implicits._
    def jobs(nCells: Int) = {
      val trades = (0 until nCells * 60).map { i =>
        (s"c${i % nCells}", (i / nCells % 30).toLong,
          ((i * 37) % 23 - 11) / 100.0)
      }.toDF("cell", "exit_rn", "net_ret")
      Jobs.count(spark) { Metrics.maxDrawdownByCell(trades).collect() }
    }
    assert(jobs(2) == jobs(8))
  }

  test("a combo that never enters keeps its grid row at zero trades") {
    val never = Grid.Combo("state_transition_entry", 100000, 10, 5.0)
    val rows = Grid.run(gram, Seq(Grid.Default, never)).collect()
    assert(rows.length == 2)
    val r = rows.find(_.getAs[Int]("confirm_bars") == 100000).get
    assert(summaryOf(r) == emptySummary)
    assert(emptySummary.getAs[Long]("n_trades") == 0L)
    assert(emptySummary.isNullAt(emptySummary.fieldIndex("expectancy")))
    val d = rows.find(_.getAs[Int]("confirm_bars") == 2).get
    assert(d.getAs[Long]("n_trades") > 0)
  }

  test("a split without bars keeps its walk-forward row at zero trades") {
    val (lo, hi) = span
    val ss = Seq(WalkForward.Split(0, lo, hi),
      WalkForward.Split(1, hi + 1000L, hi + 2000L))
    val rows = WalkForward.run(signals, ss, Grid.Default.config)
      .orderBy("split_idx").collect()
    assert(rows.map(_.getAs[Int]("split_idx")).toSeq == Seq(0, 1))
    assert(rows(0).getAs[Long]("n_trades") > 0)
    assert(summaryOf(rows(1)) == emptySummary)
    assert(rows(1).getAs[Long]("test_start_ts") == hi + 1000L)
  }
}
