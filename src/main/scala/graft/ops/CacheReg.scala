package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry of LIBRARY-INTERNAL cached frames (the shingle table,
  * MinHash signatures, component edge list, SimHash signatures inside
  * `graft.text.Dedup`). These frames back LAZY results — the caller's
  * DataFrame still references them, so the building function cannot
  * unpersist on exit the way a driver-materialized fit
  * (Similarity.kmeansCodebook's try/finally) can. Left as bare
  * `.cache()` they outlived every eviction hook: repeated invocation
  * under changed Settings (the shared-stage memoization caveat)
  * accumulated orphaned cached frames on executors. Routing them here
  * keeps the intra-query reuse (the whole point of the cache: the
  * shingle table feeds sizes + frequency prune + holder lists in one
  * build) while `release()` / `clear()` — the latter wired into
  * `queries.Stage.clear()`, which the Bench, Verify, PlanDump and
  * ScaleStress mains call per run — returns the memory. */
object CacheReg {

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Cache `df` and track it for end-of-run eviction. */
  def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    tracked.add(c)
    c
  }

  /** Early release for a tracked frame whose consumers are done
    * (e.g. the component edge list once label propagation converges). */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    tracked.remove(df)
  }

  /** Unpersist every tracked frame (called from Stage.clear()). */
  def clear(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = tracked.poll()
    }
  }
}
