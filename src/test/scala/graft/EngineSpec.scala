package graft

import graft.backtest.Engine
import graft.backtest.Engine.{Config, SimBar}
import org.apache.spark.sql.functions.{col, struct}

/** Trade simulator kernel unit tests — pure function, no Spark
  * (ref contract: src/mf_etl/backtest/engine.py:106-292, see Engine
  * scaladoc for the per-bar processing order). */
class EngineSpec extends SparkSpec {

  private def bar(i: Int, open: Double, close: Double, state: Int,
      signal: Boolean = false, side: Int = 0): SimBar =
    SimBar("T", i.toLong, i.toLong, open, math.max(open, close) + 1,
      math.min(open, close) - 1, close, state, signal, side)

  private val cfg = Config(holdBars = 3, feeBps = 10.0)

  test("entry executes at next bar open; horizon exit at next open") {
    val bars = IndexedSeq(
      bar(1, 100, 101, 2, signal = true, side = 1), // signal
      bar(2, 102, 103, 2),                          // entry at open=102
      bar(3, 104, 105, 2),
      bar(4, 106, 107, 2),
      bar(5, 108, 109, 2),                          // held 3 → pend HORIZON
      bar(6, 110, 111, 2),                          // exit at open=110
      bar(7, 112, 113, 0))
    val ts = Engine.simulateTicker("T", bars, cfg)
    assert(ts.size == 1)
    val t = ts.head
    assert(t.entry_rn == 2 && t.entry_price == 102.0)
    assert(t.exit_reason == "HORIZON" && t.exit_rn == 6
      && t.exit_price == 110.0)
    assert(t.hold_bars == 4)
    assert(math.abs(t.gross_ret - (110.0 / 102 - 1)) < 1e-12)
    assert(math.abs(t.net_ret - (t.gross_ret - 0.002)) < 1e-12)
  }

  test("state flip forces STATE_EXIT before horizon") {
    val bars = IndexedSeq(
      bar(1, 100, 101, 2, signal = true, side = 1),
      bar(2, 102, 103, 2),
      bar(3, 104, 105, 3), // supply state against long → pend STATE_EXIT
      bar(4, 99, 98, 3),   // exit at open=99
      bar(5, 97, 96, 0))
    val ts = Engine.simulateTicker("T", bars, cfg)
    assert(ts.size == 1)
    assert(ts.head.exit_reason == "STATE_EXIT" && ts.head.exit_price == 99.0)
  }

  test("open position force-closes at last close with END_OF_DATA") {
    val bars = IndexedSeq(
      bar(1, 100, 101, 2, signal = true, side = 1),
      bar(2, 102, 103, 2),
      bar(3, 104, 105, 2))
    val ts = Engine.simulateTicker("T", bars, cfg)
    assert(ts.size == 1)
    assert(ts.head.exit_reason == "END_OF_DATA"
      && ts.head.exit_price == 105.0 && ts.head.exit_rn == 3)
  }

  test("no overlapping positions; repeated signals ignored while open") {
    val bars = IndexedSeq(
      bar(1, 100, 101, 2, signal = true, side = 1),
      bar(2, 102, 103, 2, signal = true, side = 1),
      bar(3, 104, 105, 2, signal = true, side = 1),
      bar(4, 106, 107, 2),
      bar(5, 108, 109, 2),
      bar(6, 110, 111, 2),
      bar(7, 112, 113, 2, signal = true, side = 1),
      bar(8, 114, 115, 2),
      bar(9, 116, 117, 2))
    val ts = Engine.simulateTicker("T", bars, cfg)
    // entry rn2, horizon at rn5, exit open rn6; signals at rn2/rn3 are
    // ignored while positioned; fresh signal at rn7 → re-entry at rn8
    assert(ts.map(_.entry_rn) == Seq(2, 8))
    assert(ts.head.exit_rn == 6)
    assert(ts(1).exit_reason == "END_OF_DATA")
  }

  test("MFE/MAE track extremes between entry and exit decision") {
    val bars = IndexedSeq(
      bar(1, 100, 100, 2, signal = true, side = 1),
      bar(2, 100, 120, 2), // high 121, low 99
      bar(3, 80, 80, 2),   // low 79
      bar(4, 90, 90, 2),
      bar(5, 91, 91, 2),   // horizon pend
      bar(6, 92, 92, 0))   // exit open 92
    val t = Engine.simulateTicker("T", bars, cfg).head
    assert(math.abs(t.mfe - (121.0 / 100 - 1)) < 1e-12)
    assert(math.abs(t.mae - (79.0 / 100 - 1)) < 1e-12)
  }

  test("short side: state exit on demand states, returns negated") {
    val bars = IndexedSeq(
      bar(1, 100, 99, 4, signal = true, side = -1),
      bar(2, 98, 97, 4),  // entry short at 98
      bar(3, 96, 95, 1),  // demand → STATE_EXIT pend
      bar(4, 94, 93, 1))  // exit at open 94
    val t = Engine.simulateTicker("T", bars, cfg).head
    assert(t.side == -1 && t.exit_reason == "STATE_EXIT")
    assert(math.abs(t.gross_ret - -(94.0 / 98 - 1)) < 1e-12)
  }

  test("distributed simulate matches kernel on a tiny frame") {
    val s = spark
    import s.implicits._
    val bars = IndexedSeq(
      bar(1, 100, 101, 2, signal = true, side = 1),
      bar(2, 102, 103, 2),
      bar(3, 104, 105, 2))
    val df = bars.toDF()
      .withColumnRenamed("state_code", "flow_state_code")
    val got = Engine.simulate(df, cfg).collect().toSeq
    assert(got == Engine.simulateTicker("T", bars, cfg))
  }

  test("keyed simulate equals the pure kernel on dirty input") {
    val s = spark
    import s.implicits._
    // 3 cells × distinct (hold, fee) configs over the same random 4-ticker
    // series, dirtied: NaN open/high/low bars, null entry_signal and
    // null signal_side, pairs of bars sharing bar_ts (bar_id breaks the
    // tie) fed in shuffled order; plus a single-bar ticker and a cell
    // whose rows never signal. Each (cell, ticker) output must equal
    // simulateTicker on that cell's sorted, null-coalesced bars.
    val rnd = new scala.util.Random(41)
    def nanOr(x: Double) = if (rnd.nextInt(25) == 0) Double.NaN else x
    val series = for {
      tk <- Seq("A", "B", "C", "D"); i <- 1 to 120
    } yield {
      val open = 100 + rnd.nextDouble() * 20
      val close = open + rnd.nextDouble() * 4 - 2
      val signal = if (rnd.nextInt(9) == 0) None
        else Some(rnd.nextInt(6) == 0)
      val side = if (rnd.nextInt(9) == 0) None
        else Some(1 - 2 * rnd.nextInt(2))
      SimRow("", tk, (i / 2).toLong, i.toLong, nanOr(open),
        nanOr(math.max(open, close) + rnd.nextDouble()),
        nanOr(math.min(open, close) - rnd.nextDouble()), close,
        rnd.nextInt(5), signal, side)
    }
    val single = SimRow("", "E", 1L, 1L, 100.0, 101.0, 99.0, 100.5, 2,
      Some(true), Some(1))
    val cfgs = Map("c0" -> Config(2, 5.0), "c1" -> Config(4, 10.0),
      "c2" -> Config(7, 0.0), "quiet" -> Config(3, 5.0))
    val rows = rnd.shuffle(
      Seq("c0", "c1", "c2").flatMap(c =>
        (series :+ single).map(_.copy(cell = c))) ++
      series.map(_.copy(cell = "quiet", entry_signal = Some(false))))
    val got = Engine.simulate(rows.toDF(), cfgs)
    def bits(t: Engine.Trade) = t.productIterator.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case x => x
    }.toList
    val want = rows.groupBy(r => (r.cell, r.ticker)).toSeq.flatMap {
      case ((cell, tk), rs) =>
        Engine.simulateTicker(tk, rs.sortBy(r => (r.bar_ts, r.bar_id))
          .map(r => SimBar(r.ticker, r.bar_ts, r.bar_id, r.open, r.high,
            r.low, r.close, r.flow_state_code,
            r.entry_signal.getOrElse(false), r.signal_side.getOrElse(0)))
          .toIndexedSeq, cfgs(cell)).map(t => (cell, bits(t)))
    }
    val gotRows = got.select(col("cell"),
        struct(got.columns.filter(_ != "cell").map(col): _*).as("t"))
      .as[(String, Engine.Trade)].collect().toSeq
      .map { case (cell, t) => (cell, bits(t)) }
    assert(want.nonEmpty && want.exists(_._1 == "c0"))
    assert(!want.exists(_._1 == "quiet"))
    assert(gotRows.sortBy(_.toString) == want.sortBy(_.toString))
  }
}

/** A signal row of a keyed simulation, with nullable signal columns. */
case class SimRow(cell: String, ticker: String, bar_ts: Long, bar_id: Long,
  open: Double, high: Double, low: Double, close: Double,
  flow_state_code: Int, entry_signal: Option[Boolean],
  signal_side: Option[Int])
