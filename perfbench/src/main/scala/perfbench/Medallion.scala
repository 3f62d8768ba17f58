package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.backtest.{Engine, Grid, Metrics, Signals, WalkForward}
import graft.etl.{Bronze, EventGrammar, ForwardLabels, GoldFeatures,
  Indicators, Silver}
import graft.ml.{Hmm, LloydKmeans}

/** The medallion chain, raw stooq TXT to backtest metrics, one layer per
  * call. Every layer writes its output as parquet and the next layer reads
  * it back, as the reference persists each layer's artifact.
  *
  * `checkFrames`, `fits` and `oracleSql` serve the output checks after
  * the timed pass: Spark projections of the written layers in the shape
  * of their oracle SQL, what the fits' row counts depend on, and the
  * oracle SQL itself. */
final class Medallion(spark: SparkSession, raw: String, work: String) {

  // the fit and backtest parameters are the ones the engine's settings
  // give; the signal mode and confirmation have no setting and are the
  // default combo of the registered backtests
  private val Mode = "state_entry"
  private val Confirm = 2
  private val Cfg = Engine.Config(graft.Settings.backtest.holdBars,
    graft.Settings.backtest.feeBpsPerSide)
  private val Combos = Grid.combos(
    Seq("state_entry", "state_transition_entry"), Seq(Confirm),
    Seq(Cfg.holdBars), Seq(Cfg.feeBps))
  private def nSplits = graft.Settings.walkForward.nSplits

  private val ClusterFeatures = Seq("tmf_21", "tmf_slope_5",
    "tti_proxy_v1_21", "delta_flow_20", "flow_activity_20", "flow_bias_20")
  private val HmmFeatures = Seq("tmf_21", "delta_flow_20")

  private def path(layer: String) = s"$work/$layer"
  private def read(layer: String): DataFrame = spark.read.parquet(path(layer))
  private def write(df: DataFrame, layer: String): Unit =
    df.write.mode("overwrite").parquet(path(layer))

  /** Layer names in chain order, each with the call that builds it. */
  val layers: Seq[(String, () => Unit)] = Seq(
    "etl.bronze" -> bronze _,
    "etl.silver" -> (() => write(Silver.baseFeatures(bars), "silver")),
    "etl.indicators" -> (() =>
      write(Indicators.twiggs(read("silver")), "indicators")),
    "etl.grammar" -> (() =>
      write(EventGrammar.build(read("indicators")), "grammar")),
    "etl.gold" -> (() => write(GoldFeatures.build(read("grammar")), "gold")),
    "etl.labels" -> (() =>
      write(ForwardLabels.build(read("gold")), "labels")),
    "ml.kmeans" -> kmeans _,
    "ml.hmm" -> hmm _,
    "backtest.signals" -> (() =>
      write(Signals.generate(read("labels"), Mode, Confirm), "signals")),
    "backtest.engine" -> (() =>
      write(Engine.simulate(read("signals"), Cfg).toDF(), "trades")),
    "backtest.grid" -> (() => write(Grid.run(read("labels"), Combos), "grid")),
    "backtest.walkforward" -> walkForward _,
    "backtest.metrics" -> (() => {
      val trades = read("trades")
      write(Metrics.summary(trades, Seq("ticker")), "summary")
      write(Metrics.portfolio(trades), "portfolio")
    }))

  /** Raw lines as the reference's TXT reader yields them: one row per
    * non-blank line that is not the `<TICKER>,...` header, tagged with its
    * file and the exchange taken from the discovered manifest. */
  def lines: DataFrame = {
    // the listing and the reader spell local URIs differently (file:/x
    // vs file:///x); join on the bare path
    def bare(c: String) = regexp_replace(col(c), "^file:/+", "/")
    val manifest = Bronze.discoverFiles(spark, raw)
      .select(bare("source_file").as("source_path"), col("exchange"))
    spark.read.text(raw + "/*/*.txt")
      .select(col("value").as("line"),
        col("_metadata.file_path").as("source_file"))
      .filter(length(trim(col("line"))) > 0
        && !col("line").startsWith("<TICKER>"))
      .withColumn("source_path", bare("source_file"))
      .join(broadcast(manifest), Seq("source_path"))
  }

  private def bronze(): Unit =
    Bronze.writePartitioned(Bronze.qualityFlags(Bronze.parseLines(lines)),
      path("bronze"))

  /** Valid Bronze rows as the bar frame the feature layers expect. */
  private def bars: DataFrame = read("bronze").filter(col("is_valid_row"))
    .select(col("ticker"), unix_micros(col("trade_dt")).as("bar_ts"),
      unix_date(col("trade_date")).cast("long").as("bar_id"),
      col("open"), col("high"), col("low"), col("close"), col("volume"))

  private def vectors(cols: Seq[String]): DataFrame = read("labels")
    .filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
    .select(col("ticker"), col("bar_ts"), col("bar_id"),
      array(cols.map(c => col(c).cast("double")): _*).as("vec"))

  // k of the registered Lloyd fit; the settings have no key for it
  private val K = 4

  /** Lloyd k-means (the settings' k-means rounds, seeded from the first K
    * ids) over the gold feature vectors; the ids are row ids of the labels
    * layer as read. */
  private def kmeans(): Unit = write(LloydKmeans.fit(
    vectors(ClusterFeatures).withColumn("pid", monotonically_increasing_id()),
    "pid", "vec", k = K,
    iters = graft.Settings.researchClustering.kmeansMaxIter)._1, "clusters")

  private def hmm(): Unit = {
    val rh = graft.Settings.researchHmm
    val ev = vectors(HmmFeatures).select(col("ticker").as("key"),
      col("bar_ts").as("ts"), col("vec").as("features"))
    val fit = Hmm.fitResultDistributed(ev, rh.nComponentsDefault,
      nIter = rh.nIter, minLen = rh.minSequenceLength)
    write(Hmm.decode(ev, fit.model), "hmm_states")
  }

  private def walkForward(): Unit = {
    val sig = read("signals")
    val b = sig.agg(min("bar_ts"), max("bar_ts")).head
    write(WalkForward.run(sig,
      WalkForward.splits(b.getLong(0), b.getLong(1), nSplits), Cfg),
      "walkforward")
  }

  /** Spark-side outputs in the shape of each oracle query, for the layers
    * whose oracle shape rounds; the other layers' written outputs are
    * compared as they are (see [[oracleSql]]). */
  def checkFrames: Seq[(String, () => DataFrame)] = Seq(
    "silver" -> (() => Silver.oracleProjection(read("silver"))),
    "twiggs" -> (() => Indicators.oracleProjection(read("indicators"))),
    "grammar" -> (() => EventGrammar.oracleProjection(read("grammar"))),
    "gold" -> (() => GoldFeatures.oracleProjection(read("gold"))),
    "fwd" -> (() => ForwardLabels.oracleProjection(read("labels"))),
    "trades" -> (() => read("trades").select(col("ticker"), col("pos_seq"),
      col("side"), col("entry_rn"), col("exit_rn"), col("entry_ts"),
      col("exit_ts"), col("entry_price"), col("exit_price"),
      col("exit_reason"), col("hold_bars"),
      round(col("gross_ret"), 9).as("gross_ret"),
      round(col("net_ret"), 9).as("net_ret"),
      round(col("mfe"), 9).as("mfe"), round(col("mae"), 9).as("mae"))))

  /** What the row-count checks of the fitted layers, which have no
    * oracle, need to know: the feature columns a labels row must have
    * non-null to be fitted, and k. */
  def fits: Map[String, Any] = Map("k" -> K,
    "clusters" -> ClusterFeatures, "hmm_states" -> HmmFeatures)

  /** The oracle as DuckDB evaluates it: `fragments` are the layers' public
    * SQL, CTE lists in dependency order over a `bars` CTE of the valid input
    * rows (table `input_bars`); `selects` give, per check, the query over
    * those CTEs that mirrors the Spark output, as the registered queries
    * build theirs. A check not in [[checkFrames]] compares the written
    * layer of its name, restricted to the select's columns. */
  def oracleSql: Map[String, Any] = {
    val grid = Combos.map { c =>
      s"""
        (WITH RECURSIVE
         ${Signals.sql(c.mode, c.confirmBars)},
         ${Engine.tradesSql(Engine.Config(c.holdBars, c.feeBps))},
         ${Metrics.summarySql(Seq.empty)}
         SELECT '${c.mode}' AS mode, ${c.confirmBars} AS confirm_bars,
                ${c.holdBars} AS hold_bars,
                CAST(${c.feeBps} AS DOUBLE) AS fee_bps,
                n_trades, win_rate, expectancy, profit_factor
         FROM summary)"""
    }
    val splits = (0 until nSplits).map { i =>
      val end = if (i == nSplits - 1) "hi" else s"lo + ${i + 1} * step"
      s"""
        (WITH RECURSIVE
         win AS (
           SELECT s.* FROM signals s, wb
           WHERE s.bar_ts > wb.lo + $i * wb.step
             AND s.bar_ts <= wb.$end),
         ${Engine.tradesSql(Cfg, src = "win")},
         ${Metrics.summarySql(Seq.empty)}
         SELECT $i AS split_idx,
                (SELECT lo + $i * step FROM wb) AS test_start_ts,
                (SELECT $end FROM wb) AS test_end_ts,
                n_trades, win_rate, expectancy
         FROM summary)"""
    }
    Map(
      "fragments" -> Seq(
        """bars AS (
          SELECT ticker, bar_ts, bar_id, open, high, low, close, volume
          FROM input_bars)""",
        Silver.featuresSql, ForwardLabels.sql, Indicators.twiggsSql,
        EventGrammar.grammarSql, GoldFeatures.goldSql,
        Signals.sql(Mode, Confirm), Engine.tradesSql(Cfg),
        Metrics.summarySql(Seq("ticker")), Metrics.portfolioSql),
      "written" -> Seq("signals", "summary", "portfolio", "grid",
        "walkforward"),
      "selects" -> Map(
        "silver" -> "SELECT * FROM silver",
        "fwd" -> "SELECT * FROM fwd",
        "twiggs" -> "SELECT * FROM twiggs",
        "grammar" -> "SELECT * FROM grammar",
        "gold" -> "SELECT * FROM gold",
        "signals" -> """SELECT ticker, bar_ts, bar_id, flow_state_code, side,
          signal_eligible, state_streak, entry_signal, signal_side
          FROM signals""",
        "trades" -> """SELECT ticker, pos_seq, side, entry_rn, exit_rn,
          entry_ts, exit_ts, entry_price, exit_price, exit_reason, hold_bars,
          round(gross_ret, 9) AS gross_ret, round(net_ret, 9) AS net_ret,
          round(mfe, 9) AS mfe, round(mae, 9) AS mae
          FROM trades""",
        "summary" -> "SELECT * FROM summary",
        "portfolio" -> "SELECT * FROM portfolio",
        "grid" -> s"SELECT * FROM (${grid.mkString(" UNION ALL ")})",
        "walkforward" -> s"""WITH wb AS (
            SELECT min(bar_ts) AS lo, max(bar_ts) AS hi,
                   (max(bar_ts) - min(bar_ts)) // $nSplits AS step
            FROM signals)
          SELECT * FROM (${splits.mkString(" UNION ALL ")})"""))
  }
}
