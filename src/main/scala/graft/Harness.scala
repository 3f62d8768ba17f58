package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** What every engine main (Bench, Verify, PlanDump, ScaleStress, Smoke)
  * and the test suite share: how a local session is built and how a
  * query is timed. */
object Harness {

  /** SPARK_GRAFT_CPUS (default 32, the local[32] deployment host):
    * the local master's width and the shuffle partition count. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32)

  /** SPARK_GRAFT_SF_DIR, the fixture directory the queries read. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The one session builder: `local[cpus]` with the engine's confs.
    * ANSI stays off (queries rely on null-on-zero-division), parquet
    * NANOS timestamps read as LONG (graft.etl.EventTime dispatches on
    * the type), and shuffle/spill go to tmpfs when there is one: local
    * shuffle files on the root disk are the first thing to degrade
    * under back-to-back heavy runs. */
  def session(cpus: Int): SparkSession = {
    val localDir =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
      else System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `df` to completion through Spark's noop sink, which computes
    * every output column. `count()` would let Catalyst prune unused
    * projections and windows, so a timed count measures a smaller plan
    * than the query's. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body`, or the failure's message. A failure is
    * never given a time. */
  def timed(body: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case NonFatal(e) =>
      Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }
  }
}
