package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gate-survival layout (r14: the round's CORRECTNESS artifact came
  * back empty after the verification surface's fixed cost grew past
  * the driver's window — protect partial evidence):
  *   1. oracle_sql.json is written FIRST, before prewarm and the dump
  *      loop, so a timeout mid-dump still leaves the compare runnable
  *      over whatever queries finished;
  *   2. ledger.jsonl gets one appended+flushed line per query as it
  *      dumps ({"name","ok","secs"[,"err"]}) — an incremental record
  *      that survives any driver-side kill;
  *   3. the dump loop itself runs width-bounded concurrent (the
  *      queries are independent jobs; serial dumping left the cluster
  *      idle between tiny coalesce(1) writes — measured 302 s serial).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet // optional query-name filter (local dev)
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val ledger = Paths.get(s"$outDir/ledger.jsonl")
    Files.deleteIfExists(ledger)
    def ledgerLine(line: String): Unit = synchronized {
      Files.writeString(ledger, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    // build shared stage caches with all cores before the dump loop
    // (skipped when a query filter is given — dev runs shouldn't pay a
    // full warmup)
    if (only.isEmpty) {
      val w0 = System.nanoTime()
      try {
        graft.queries.Warmup.prewarm(spark, sfDir)
        ledgerLine(s"""{"name":"_warmup","ok":true,"secs":${
          (System.nanoTime() - w0) / 1e9}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] prewarm failed: ${e.getMessage}")
        ledgerLine(s"""{"name":"_warmup","ok":false,"secs":${
          (System.nanoTime() - w0) / 1e9},"err":${q(
          String.valueOf(e.getMessage).take(200))}}""")
      }
    }
    val dumps = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .map { case (name, fn) =>
        () => {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            ledgerLine(s"""{"name":${q(name)},"ok":true,"secs":${
              math.round((System.nanoTime() - t0) / 1e6) / 1e3}}""")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            ledgerLine(s"""{"name":${q(name)},"ok":false,"secs":${
              math.round((System.nanoTime() - t0) / 1e6) / 1e3},"err":${
              q(String.valueOf(e.getMessage).take(200))}}""")
          }
          ()
        }
      }
    graft.ops.Pools.awaitAll(dumps, width = 4)
    graft.queries.Stage.clear()
    spark.stop()
  }
}
