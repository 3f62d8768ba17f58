package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-session memo of shared pipeline stages (grammar frame, trade
  * frame): several registered queries consume the same upstream chain;
  * without this each query re-runs indicators + grammar + the simulator.
  * Mirrors the reference's staged-artifact reuse (each layer persisted
  * once, consumed many times) — here as cached in-memory stages.
  *
  * Only SLIM projections are cached: the wide grammar frame stays
  * uncached so per-query column pruning still reaches the scan; the
  * cached frames are a handful of narrow columns (keys + state + close),
  * which is what every downstream consumer actually reads. `clear()` is
  * the per-run eviction hook (called by the Bench, Verify, PlanDump and
  * ScaleStress mains) so a long-lived session doesn't accumulate
  * persisted frames.
  */
object Stage {

  /** Per-key build latch: `lazy val` gives exactly-once evaluation
    * under arbitrary concurrency (losers of the putIfAbsent race block
    * on the winner's monitor instead of double-building a multi-second
    * stage — TrieMap.getOrElseUpdate alone evaluates a contended thunk
    * in every racing thread). `forced` guards [[clear]] from
    * triggering a build just to unpersist it. */
  private final class Memo(build: () => DataFrame) {
    @volatile private var forced = false
    lazy val value: DataFrame = { val v = build(); forced = true; v }
    def ifForced: Option[DataFrame] = if (forced) Some(value) else None
  }

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String),
      Memo]

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
    * JVM invocations. Concurrent consumers of the same key build it
    * exactly ONCE (see [[Memo]]) — no pre-touch choreography needed. */
  def cached(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    import graft.ops.Ckpt._
    // GRAFT_STAGE_LAZY=1 (PlanDump only): skip the checkpoint so a
    // dumped query plan INLINES its stage subtrees instead of showing
    // LogicalRDD leaves — plan-evidence mode, never set by the
    // bench/verify/driver paths (still memoized, under a disjoint key)
    val (key, thunk) =
      if (sys.env.get("GRAFT_STAGE_LAZY").contains("1"))
        ((System.identityHashCode(spark), dir, "lazy:" + name),
          () => build)
      else ((System.identityHashCode(spark), dir, name),
        () => build.graftCheckpoint())
    val memo = new Memo(thunk)
    cache.putIfAbsent(key, memo).getOrElse(memo).value
  }

  /** Drop every memoized stage (end-of-run eviction). Checkpointed
    * block storage is released by the ContextCleaner once the dropped
    * DataFrame references are GC'd; unpersist() additionally clears any
    * CacheManager entries (e.g. the CC edge cache). Never-forced memos
    * are dropped without building them. */
  def clear(): Unit = {
    cache.values.foreach(_.ifForced.foreach(_.unpersist(blocking = false)))
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

  /** Slim signal frame for the default combo (state_entry, confirm 2),
    * built over the cached slim grammar stage — shared by walk-forward
    * and the run-compare family. */
  def slimSignals(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "signals_slim") {
      graft.backtest.Signals.generate(
          BacktestQueries2.gramSlim(spark, dir), "state_entry", 2)
        .select("ticker", "bar_ts", "bar_id", "open", "high", "low",
          "close", "flow_state_code", "entry_signal", "signal_side")
    }
}
