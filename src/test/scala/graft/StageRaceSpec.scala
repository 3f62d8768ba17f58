package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._

/** Stage.memo / Stage.cached concurrency contract: a contended key
  * builds exactly ONCE (the per-key lazy-val latch), losers block and
  * read the winner's value — no pre-touch choreography required of callers
  * (the Pools.awaitAll arm fan-outs rely on this). */
class StageRaceSpec extends SparkSpec {

  test("two concurrent consumers of one un-prewarmed stage share a " +
      "single build") {
    val builds = new AtomicInteger(0)
    val key = s"race_test_${System.nanoTime()}"
    def consume(): Long = graft.queries.Stage.cached(
        spark, "/tmp/race-test-dir", key) {
      builds.incrementAndGet()
      // a real (small) distributed build, so the latch is exercised
      // across the checkpoint too
      spark.range(1000).withColumn("x", col("id") * 2).toDF()
    }.count()
    val results = graft.ops.Pools.awaitAll(
      Seq(() => consume(), () => consume(), () => consume(),
        () => consume()))
    assert(results.forall(_ == 1000L))
    assert(builds.get() == 1,
      s"expected exactly one build, got ${builds.get()}")
  }

  test("a non-DataFrame memo builds once under contention and again " +
      "after clear()") {
    val builds = new AtomicInteger(0)
    val key = s"race_memo_${System.nanoTime()}"
    def consume(): Seq[Int] = graft.queries.Stage.memo(
        spark, "/tmp/race-test-dir", key) {
      builds.incrementAndGet()
      // hold the latch long enough that every consumer contends
      Thread.sleep(200)
      Seq(1, 2, 3)
    }
    val results = graft.ops.Pools.awaitAll(
      Seq(() => consume(), () => consume(), () => consume(),
        () => consume()))
    assert(results.forall(_ == Seq(1, 2, 3)))
    assert(builds.get() == 1,
      s"expected exactly one build, got ${builds.get()}")
    assert(consume() == Seq(1, 2, 3) && builds.get() == 1)
    graft.queries.Stage.clear()
    assert(consume() == Seq(1, 2, 3))
    assert(builds.get() == 2, "clear() must drop non-DataFrame memos")
  }

  test("distinct keys still build independently") {
    val builds = new AtomicInteger(0)
    val base = s"race_keys_${System.nanoTime()}"
    def consume(i: Int): Long = graft.queries.Stage.cached(
        spark, "/tmp/race-test-dir", s"${base}_$i") {
      builds.incrementAndGet()
      spark.range(10 + i).toDF()
    }.count()
    val results = graft.ops.Pools.awaitAll(
      Seq(() => consume(0), () => consume(1)))
    assert(results.sorted == Seq(10L, 11L))
    assert(builds.get() == 2)
  }
}
