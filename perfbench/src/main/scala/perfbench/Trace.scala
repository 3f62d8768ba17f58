package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Counters of one benchmark call, summed from Spark's listener buses. */
final case class Counters(jobs: Int, planS: Double, shuffleMb: Double,
    spillMb: Double, writeMb: Double, skew: Double)

/** Attributes Spark work to the benchmark's calls. Every call runs under
  * a job group named after it, so jobs, stages and tasks are keyed by the
  * group their job carried, and SQL executions by the group recorded at
  * their start. Planning time comes from each execution's
  * `QueryExecution.tracker`.
  *
  * The query-execution listener is handed the `QueryExecution` but not
  * its execution id. Both listeners sit on Spark's shared listener queue,
  * which hands each event to its listeners in registration order, so when
  * this tracer is registered with the session's listener manager before
  * it is added as a Spark listener, the `QueryExecution` of an execution's
  * end arrives immediately before that end's execution id. Read the
  * counters only after the session has stopped, when every event has been
  * delivered. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class Acc {
    var jobs = 0
    var planNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var writeBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val accs = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val sinks = mutable.ArrayBuffer.empty[(String, StructType)]
  private var ended: Option[QueryExecution] = None

  private def acc(group: String): Acc = accs.getOrElseUpdate(group, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      acc(group).jobs += 1
      e.stageIds.foreach(stageGroup(_) = group)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { group =>
      val a = acc(group)
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.foreach(execGroup(s.executionId) = _)
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      ended.foreach(record(e.executionId, _))
      ended = None
    }
    case _ =>
  }

  private def record(executionId: Long, qe: QueryExecution): Unit =
    execGroup.get(executionId).foreach { group =>
      val phases = qe.tracker.phases
      acc(group).planNs += Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs * 1000000L).sum
      qe.executedPlan.collectFirst { case w: V2TableWriteExec => w }
        .foreach(w => sinks += (group -> w.query.schema))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { ended = Some(qe) }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized { ended = Some(qe) }

  /** Registers with the session in the order the pairing above needs. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
  }

  /** Counters summed over every group `keep` accepts. Skew is max/median
    * task time of the largest stage (by summed task time) among them. */
  def counters(keep: String => Boolean): Counters = synchronized {
    val sel = accs.collect { case (g, a) if keep(g) => a }
    val stages = sel.flatMap(_.stageTaskMs.values).toSeq
    val skew =
      if (stages.isEmpty) 0.0
      else {
        val ts = stages.maxBy(_.sum).sorted
        val med = ts(ts.length / 2)
        if (med > 0) ts.last.toDouble / med else 1.0
      }
    Counters(sel.map(_.jobs).sum, sel.map(_.planNs).sum / 1e9,
      sel.map(_.shuffleBytes).sum / 1e6, sel.map(_.spillBytes).sum / 1e6,
      sel.map(_.writeBytes).sum / 1e6, skew)
  }

  /** Output schemas of the sink writes made under `group`. */
  def sinkSchemas(group: String): Seq[StructType] =
    synchronized(sinks.collect { case (g, s) if g == group => s }.toSeq)
}
