package graft

/** One timed pass over the registry: prewarm the shared stages, then
  * every registered query once through [[Harness.materialize]]. Prints
  * one full JSON line and a compact last line that fits a ~2000-char
  * tail capture; exits 1 when the prewarm or any query failed.
  * Failures are named, never timed. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session(Harness.cpus)
    var warmBuilds = Seq.empty[(String, Double)]
    val warm = Harness.timed {
      warmBuilds = graft.queries.Warmup.prewarm(spark, sfDir) }
    val runs = SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> Harness.timed(Harness.materialize(fn(spark, sfDir)))
    }
    val failed = (("warmup_shared_stages" -> warm) +: runs)
      .collect { case (name, Left(msg)) =>
        System.err.println(s"[bench] $name failed: $msg")
        name
      }
    val secs = runs.collect { case (name, Right(t)) => name -> t }
    val querySum = secs.map(_._2).sum

    def r3(v: Double) = math.round(v * 1000) / 1000.0
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => "\"" + k + "\":" + r3(v) }
    // the first `budget` chars' worth of entries (each plus a comma)
    def fit(entries: Seq[String], budget: Int): Seq[String] = {
      var used = 0
      entries.takeWhile { e => used += e.length + 1; used <= budget }
    }
    val names = failed.map("\"" + _ + "\"")
    val head = s""""metric":"total","value":${r3(warm.getOrElse(0.0) + querySum)},"unit":"sec","warmup_s":${warm.fold(_ => "null", r3(_).toString)},"query_sum":${r3(querySum)},"n_queries":${runs.size},"n_failed":${failed.size},"sf":"$sfDir""""
    // per-build warmup times: top 12 by wall, the ranking signal for the
    // next prewarm decision
    println(s"""{$head,"failed":${names.mkString("[", ",", "]")},"warmup_builds":${obj(warmBuilds.sortBy(-_._2).take(12)).mkString("{", ",", "}")},"queries":${obj(secs).mkString("{", ",", "}")}}""")
    // compact last line: the headline fields first, then as many failed
    // names and slowest queries as keep the line under 1,800 chars
    val shown = fit(names, 600)
    val left = 1800 - head.length - shown.map(_.length + 1).sum - 40
    val top = fit(obj(secs.sortBy(-_._2)), left)
    println(s"""{$head,"failed":${shown.mkString("[", ",", "]")},"queries":${top.mkString("{", ",", "}")}}""")
    graft.queries.Stage.clear()
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
