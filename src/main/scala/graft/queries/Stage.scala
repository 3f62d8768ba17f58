package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one memo for shared artifacts: every fit, codebook, merge
  * table and cached pipeline stage that several registered queries
  * consume goes through [[memo]] (or [[cached]], which is `memo` plus a
  * checkpoint), so its key, lifetime and concurrency are decided here
  * and nowhere else. Mirrors the reference's staged-artifact reuse
  * (each layer persisted once, consumed many times).
  *
  * Only SLIM projections are cached: the wide grammar frame stays
  * uncached so per-query column pruning still reaches the scan; the
  * cached frames are a handful of narrow columns (keys + state + close),
  * which is what every downstream consumer actually reads. `clear()` is
  * the per-run eviction hook (called by the Bench, Verify, PlanDump and
  * ScaleStress mains) so a long-lived session doesn't accumulate
  * persisted frames or keep fits made under stale Settings.
  */
object Stage {

  /** Per-key build latch: `lazy val` gives exactly-once evaluation
    * under arbitrary concurrency (losers of the putIfAbsent race block
    * on the winner's monitor instead of double-building a multi-second
    * artifact). `forced` guards [[clear]] from triggering a build just
    * to release it. */
  private final class Memo(build: () => Any) {
    @volatile private var forced = false
    lazy val value: Any = { val v = build(); forced = true; v }
    def ifForced: Option[Any] = if (forced) Some(value) else None
  }

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String),
      Memo]

  /** Memoized artifact, built at most once per (session, dir, name)
    * until the next [[clear]]. Concurrent consumers of one key share a
    * single build; a builder that needs another unbuilt key builds it
    * or waits on its running builder, so dependency order needs no
    * choreography from callers. Names share one namespace with
    * [[cached]] stages. */
  def memo[T](spark: SparkSession, dir: String, name: String)(
      build: => T): T = {
    val m = new Memo(() => build)
    cache.putIfAbsent((System.identityHashCode(spark), dir, name), m)
      .getOrElse(m).value.asInstanceOf[T]
  }

  /** Memoized, lineage-truncated stage. localCheckpoint (eager,
    * MEMORY_AND_DISK blocks) instead of persist(): a persisted frame
    * keeps its FULL logical plan, so every downstream transformation
    * re-analyzes the whole upstream chain and wide consumers (hardening,
    * candidate rerun) were spending 10s+ of pure driver-side analysis
    * per query build. Checkpointing collapses the stage to a LogicalRDD
    * leaf — consumers plan against an O(1) tree, and CacheManager
    * plan-matching cost disappears with it. (Routed through
    * [[graft.ops.Ckpt]]: GRAFT_RELIABLE_CHECKPOINT=<dir> swaps the
    * local blocks for a reliable checkpoint on a real cluster.)
    *
    * Strictly per-session: every run (bench, verify, oracle) recomputes
    * all stages from the parquet inputs — nothing is persisted across
    * JVM invocations. */
  def cached(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    import graft.ops.Ckpt._
    // GRAFT_STAGE_LAZY=1 (PlanDump only): skip the checkpoint so a
    // dumped query plan INLINES its stage subtrees instead of showing
    // LogicalRDD leaves — plan-evidence mode, never set by the
    // bench/verify/driver paths (still memoized, under a disjoint key)
    if (sys.env.get("GRAFT_STAGE_LAZY").contains("1"))
      memo(spark, dir, "lazy:" + name)(build)
    else memo(spark, dir, name)(build.graftCheckpoint())
  }

  /** Drop every memoized artifact (end-of-run eviction). Forced
    * DataFrame stages are unpersisted — checkpointed block storage is
    * released by the ContextCleaner once the dropped references are
    * GC'd, and unpersist() additionally clears any CacheManager entries
    * (e.g. the CC edge cache); fits and other values are just dropped.
    * Never-forced memos are dropped without building them. */
  def clear(): Unit = {
    cache.values.foreach(_.ifForced.foreach {
      case ds: Dataset[_] => ds.unpersist(blocking = false)
      case _ =>
    })
    cache.clear()
    graft.ops.CacheReg.clear()
  }

  /** Slim grammar projection shared by the validation/research/ML
    * harness (~12 queries): one hash exchange on ticker builds the
    * indicators→grammar chain ONCE; consumers prune from seven narrow
    * columns instead of re-running the chain per query. */
  def slimGrammar(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "slim_grammar") {
      graft.etl.EventGrammar.build(graft.etl.Indicators.twiggs(
        graft.etl.MarketData.barsFromEvents(
          spark.read.parquet(s"$dir/events.parquet"))))
        .select("ticker", "bar_ts", "bar_id", "flow_state_code",
          "flow_state_label", "tmf_event_activity_20", "close")
    }

  /** Slim forward-label projection (keys + fwd_ret_10), shared by the
    * profile/bootstrap/hardening queries. */
  def slimFwd(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "slim_fwd") {
      val bars = graft.etl.MarketData.barsFromEvents(
        spark.read.parquet(s"$dir/events.parquet"))
      graft.etl.ForwardLabels.oracleProjection(
          graft.etl.ForwardLabels.build(bars))
        .select("ticker", "bar_ts", "bar_id", "fwd_ret_10")
    }

  /** Slim signal frame for the default combo (Grid.Default), built over
    * the cached slim grammar stage — shared by walk-forward, the
    * run-compare family and the default variant of the grid sweeps. */
  def slimSignals(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "signals_slim") {
      val d = graft.backtest.Grid.Default
      graft.backtest.Signals.generate(
          BacktestQueries2.gramSlim(spark, dir), d.mode, d.confirmBars)
        .select("ticker", "bar_ts", "bar_id", "open", "high", "low",
          "close", "flow_state_code", "entry_signal", "signal_side")
    }
}
