package graft

/** Write `.explain("formatted")` output for named queries (or every
  * registered query with `--all`) to a directory — the round's plan
  * evidence (`plans/r15/<query>_<tag>.txt`) — and print each query's
  * non-single-partition Exchange count and Window-operator count, so a
  * change of operator shape shows as a one-line diff. Usage:
  *   runMain graft.PlanDump <outDir> <tag> [--all | name...]
  * Builds its session through [[Harness.session]], like Bench, so plan
  * choices (AQE, shuffle partitions, broadcast thresholds) match the
  * measured runs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> [--all|names]")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val sfDir = Harness.sfDir
    val spark = Harness.session(Harness.cpus)
    java.nio.file.Files.createDirectories(outDir)
    val qs = SparkEntry.queries
    val names =
      if (args(2) == "--all") qs.keys.toSeq.sorted else args.drop(2).toSeq
    for (n <- names) {
      val df = qs(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        outDir.resolve(s"${n}_$tag.txt"), plan)
      val (exchanges, windows) = counts(df)
      println(s"[plandump] $n -> ${n}_$tag.txt (${plan.length} chars, " +
        s"$exchanges non-single-partition exchanges, $windows windows)")
    }
    graft.queries.Stage.clear()
    spark.stop()
  }

  /** Non-single-partition Exchange and Window operator counts of a
    * frame's physical plan. */
  def counts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val executed = df.queryExecution.executedPlan.toString
    ("Exchange (?!SinglePartition)".r.findAllIn(executed).length,
      "Window \\[".r.findAllIn(executed).length)
  }
}
