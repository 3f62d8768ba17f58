package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block submits, seen by a `SparkListener`. */
object Jobs {

  /** Run `body` under a fresh job group (whose description is
    * `description`) and return the properties of every job it submitted,
    * in submission order. Listener events arrive asynchronously, so a
    * sentinel job in a second group flushes the queue before the count
    * is read. */
  def during(spark: SparkSession, description: String = "jobs under test")(
      body: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Properties]
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) seen.add(e.properties)
        else if (g == s"$group-flush") flushed.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, description)
      body
      sc.setJobGroup(s"$group-flush", "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener queue not flushed")
      seen.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Number of jobs `body` submits. */
  def count(spark: SparkSession)(body: => Unit): Int = during(spark)(body).size
}
