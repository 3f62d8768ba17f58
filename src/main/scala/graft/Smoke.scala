package graft

/** Driver-contract smoke: runs SparkEntry.entry (flagship query) exactly as
  * the harness does and prints the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n")
    spark.stop()
  }
}
