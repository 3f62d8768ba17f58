package graft.ops

import scala.concurrent.ExecutionContext

/** Bounded driver-side pool for submitting concurrent Spark jobs (seeded
  * fits, stage warmup, independent sims). A bounded pool keeps the
  * scheduler fed without oversubscribing the task slots — unbounded
  * concurrency (one job per seed × 32 tasks each) measurably thrashes GC
  * in a single-JVM run and would flood a cluster scheduler the same way.
  */
object Pools {
  lazy val jobs: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-jobs")
        t.setDaemon(true)
        t
      }))

  /** Run independent driver-side tasks concurrently and wait for all.
    * Each call gets its OWN short-lived pool (bounded at 8): orchestration
    * tasks that themselves call awaitAll (warmup → stage builders
    * → per-sim builds) therefore never compete for a shared thread pool —
    * a parent blocked in awaitAll can never starve its children of
    * threads, which a shared fixed pool would allow once every worker is
    * a blocked parent. Threads here only orchestrate; the real
    * parallelism is the Spark jobs they submit. */
  def awaitAll[T](tasks: Seq[() => T], width: Int = 8): Seq[T] = {
    if (tasks.isEmpty) return Nil
    val exec = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, math.max(1, width)), r => {
        val t = new Thread(r, "graft-await")
        t.setDaemon(true)
        t
      })
    try {
      import scala.jdk.CollectionConverters._
      val futures = exec.invokeAll(
        tasks.map(t => new java.util.concurrent.Callable[T] {
          override def call(): T = t()
        }).asJava)
      try futures.asScala.map(_.get()).toSeq
      catch {
        // surface the task's own exception, as Future.traverse would
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      }
    } finally exec.shutdown()
  }
}
