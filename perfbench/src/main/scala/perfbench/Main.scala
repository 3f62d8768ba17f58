package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One pass of one workload in a fresh JVM, started by `run.py`.
  *
  * The pass is one closed loop with one client: each call (a medallion
  * layer or a registered query) runs under a job group named after it and
  * is timed from the call until its output is materialized. A call that
  * throws is recorded as failed with its error and is never timed. After
  * the timed pass, outside any timing, the pass writes the files the
  * output checks read, then `result.json`. */
object Main {

  final case class Step(layer: String, name: String, ok: Boolean,
      busyS: Double, error: String)

  /** The registry families the registry workload draws its queries from;
    * each is one layer of the trace. */
  val Families: Seq[graft.queries.QueryModule] = {
    import graft.queries._
    Seq(ResearchQueries, MlQueries, ValidationQueries, CompareQueries,
      BacktestQueries2, TextQueries, DedupQueries, AnnQueries,
      MultimodalQueries, CurationQueries)
  }

  private def familyName(m: graft.queries.QueryModule): String =
    m.getClass.getSimpleName.stripSuffix("$")

  /** The one action a registry query is timed with: every column of every
    * row is computed and handed to the [[Capture]] sink under `key`. */
  def materialize(df: DataFrame, key: String): Unit =
    df.write.format(Capture.Format).option("key", key).mode("overwrite")
      .save()

  /** CPU time this JVM has used so far, all threads, in seconds. */
  private def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident memory of this JVM so far, in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def writeJson(path: String, value: Any): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val input = opt("input")
    val out = opt("out")
    val traced = opt.get("trace").contains("1")
    val cpus = opt("cpus")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    if (traced) tracer.attach(spark)
    // inputs resolved: every input file is listed before the clock stops
    val nInputFiles = Files.walk(Paths.get(input)).iterator.asScala
      .count(p => Files.isRegularFile(p))
    require(nInputFiles > 0, s"no input files under $input")
    val setupS = (System.currentTimeMillis() - opt("t0-ms").toLong) / 1e3

    val steps = mutable.ArrayBuffer.empty[Step]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val expected = mutable.Map.empty[String, StructType]
    val passStart = System.nanoTime()
    val passCpu = cpuS()
    def call(layer: String, name: String)(body: => Unit): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$layer|$name", name, interruptOnCancel = false)
      val t = System.nanoTime()
      val err =
        try { body; None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${
          String.valueOf(e.getMessage).linesIterator.take(3)
            .mkString(" ").take(400)}") }
        finally sc.clearJobGroup()
      val end = System.nanoTime()
      System.err.println(f"[perfbench] $name%s ${(end - t) / 1e9}%.3f s " +
        err.getOrElse("ok"))
      steps += Step(layer, name, err.isEmpty,
        if (err.isEmpty) (end - t) / 1e9 else Double.NaN, err.getOrElse(""))
      spans += Map("name" -> name, "layer" -> layer, "parent" -> "pass",
        "start_s" -> (t - passStart) / 1e9, "end_s" -> (end - passStart) / 1e9,
        "ok" -> err.isEmpty)
    }

    val checks = mutable.Map.empty[String, Any]
    val checkDir = s"$out/check"
    def dumpCheck(name: String, df: => DataFrame): Unit =
      try df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] check output $name: $e") }

    // the end of the timed pass: run.py may start on its own checks now
    def timedEnd(extra: => Map[String, Any]): Unit = {
      checks("wall_s") = (System.nanoTime() - passStart) / 1e9
      checks("cpu_s") = cpuS() - passCpu
      checks("peak_rss_mb") = peakRssMb()
      writeJson(s"$out/timed.json.tmp", extra)
      Files.move(Paths.get(s"$out/timed.json.tmp"),
        Paths.get(s"$out/timed.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    val layerNames: Seq[String] = workload match {
      case "medallion" =>
        val m = new Medallion(spark, input, s"$out/layers")
        m.layers.foreach { case (name, run) => call(name, name)(run()) }
        timedEnd(Map("oracle_sql" -> m.oracleSql, "fits" -> m.fits))
        m.checkFrames.foreach { case (name, df) => dumpCheck(name, df()) }
        m.layers.map(_._1)
      case "registry" =>
        val mods = Families
        val family = mods.flatMap(m => m.all.map(_.name -> familyName(m)))
          .toMap
        val registry = graft.SparkEntry.queries
        val queries = opt("queries").split(",").toSeq
        queries.foreach { q =>
          call(s"queries.${family(q)}", q) {
            val df = registry(q)(spark, input)
            expected(q) = df.schema
            materialize(df, q)
          }
        }
        timedEnd(Map.empty)
        val oracle = graft.SparkEntry.oracleSql
        checks("oracle_sql") = queries.flatMap(q => oracle.get(q).map(q -> _))
          .toMap
        steps.filter(_.ok).foreach { s =>
          dumpCheck(s.name, Capture.take(spark, s.name, expected(s.name)))
        }
        mods.map(m => s"queries.${familyName(m)}")
    }

    // the sink self-check: the timed write's executed query must output
    // the frame's full schema, or the timing skipped columns
    val probe = new Tracer
    probe.attach(spark)
    val probeDf = spark.range(1000).toDF("id")
      .withColumn("w", sum("id").over(
        org.apache.spark.sql.expressions.Window.orderBy("id")))
      .withColumn("s", concat(col("id").cast("string"), lit("x")))
    spark.sparkContext.setJobGroup("sink-probe", "sink-probe")
    materialize(probeDf, "sink-probe")
    spark.sparkContext.clearJobGroup()
    graft.queries.Stage.clear()
    spark.stop()

    def sameCols(a: StructType, b: StructType) =
      a.fields.map(f => (f.name, f.dataType)).toSeq ==
        b.fields.map(f => (f.name, f.dataType)).toSeq
    val sinkErrors = mutable.ArrayBuffer.empty[String]
    if (!probe.sinkSchemas("sink-probe").exists(sameCols(_, probeDf.schema)))
      sinkErrors += "sink-probe"
    if (traced) expected.foreach { case (q, schema) =>
      val g = steps.find(_.name == q).map(s => s"${s.layer}|$q").get
      val seen = tracer.sinkSchemas(g)
      if (seen.isEmpty || !seen.forall(sameCols(_, schema))) sinkErrors += q
    }
    checks("sink_errors") = sinkErrors.toSeq

    val trace: Map[String, Any] =
      if (!traced) Map.empty
      else {
        def layerStats(layer: String): Map[String, Double] = {
          val c = tracer.counters(g => g.startsWith(layer + "|"))
          val busy = steps.filter(s => s.layer == layer && s.ok)
            .map(_.busyS).sum
          Map("busy_s" -> busy, "plan_s" -> c.planS, "jobs" -> c.jobs.toDouble,
            "shuffle_mb" -> c.shuffleMb, "spill_mb" -> c.spillMb,
            "write_mb" -> c.writeMb, "skew" -> c.skew)
        }
        val total = tracer.counters(g => g != "sink-probe")
        Map(
          "layers" -> layerNames.map(l => l -> layerStats(l)).toMap,
          "calls" -> steps.map { s =>
            val c = tracer.counters(_ == s"${s.layer}|${s.name}")
            s.name -> Map("busy_s" -> s.busyS, "plan_s" -> c.planS,
              "jobs" -> c.jobs.toDouble, "shuffle_mb" -> c.shuffleMb,
              "spill_mb" -> c.spillMb, "skew" -> c.skew)
          }.toMap,
          "total" -> Map("plan_s" -> total.planS,
            "jobs" -> total.jobs.toDouble, "shuffle_mb" -> total.shuffleMb,
            "spill_mb" -> total.spillMb),
          "spans" -> spans.toSeq)
      }

    writeJson(s"$out/result.json", Map(
      "setup_s" -> setupS,
      "steps" -> steps.map(s => Map("layer" -> s.layer, "name" -> s.name,
        "ok" -> s.ok, "busy_s" -> (if (s.ok) s.busyS else null),
        "error" -> s.error)).toSeq,
      "checks" -> checks.toMap,
      "trace" -> trace))
  }
}
