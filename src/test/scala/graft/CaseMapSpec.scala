package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Bronze
import graft.functions.CaseMap

/** `CaseMap.upper` is `functions.upper` bit for bit, and keeps an
  * all-ASCII pass off `CollationAwareUTF8String`'s static initializer
  * (the ICU title-case table over every code point). */
class CaseMapSpec extends SparkSpec {

  private val IcuKey = "spark.sql.icu.caseMappings.enabled"

  /** Run `body` with the given SQL confs set, then restore them (the
    * session is shared by every suite of the run). */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Every ASCII character alone, the empty string, null, the Unicode
    * case-mapping corners (one-to-many, title-case digraphs, dotless
    * and dotted i, final sigma, a ligature, combining marks, a
    * supplementary-plane letter), ASCII next to non-ASCII, and invalid
    * UTF-8. */
  private val inputs: Seq[Array[Byte]] =
    (0 until 128).map(c => Array(c.toByte)) ++ Seq(
      Array.emptyByteArray, null,
      utf8("ß"), utf8("straße"), utf8("ŉ"), utf8("ǆ"), utf8("ǅ"),
      utf8("ǳ"), utf8("ı"), utf8("İ"), utf8("istanbul ıİ"),
      utf8("λόγος"), utf8("ς"), utf8("ﬃ"), utf8("é"),
      utf8("ạ̇"), utf8("ǰ"), utf8("𐐨"),
      utf8("<bäyer.de>"), utf8("msft.us"),
      Array(0xff.toByte), Array('a'.toByte, 0xff.toByte, 'b'.toByte),
      Array(0xc3.toByte, 0x28.toByte), Array(0x80.toByte),
      Array(0xc0.toByte, 0xaf.toByte), Array(0xed.toByte, 0xa0.toByte,
        0x80.toByte), Array(0xf4.toByte, 0x90.toByte, 0x80.toByte,
        0x80.toByte))

  /** One row per input, over an RDD so that no optimizer rule folds the
    * projection: the expressions run in the executed plan. */
  private def frame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      inputs.zipWithIndex.map { case (b, i) => Row(i, b) }, 3),
    StructType(Seq(StructField("id", IntegerType, false),
      StructField("b", BinaryType, true))))
    .withColumn("s", col("b").cast("string"))

  /** (id, hex of Spark's upper, hex of CaseMap.upper) for `s`, plus the
    * executed plan's text and generated code. */
  private def compare(s: Column): (Array[Row], String) = {
    val df = frame.select(col("id"),
      hex(upper(s).cast("binary")).as("spark"),
      hex(CaseMap.upper(s).cast("binary")).as("ours"),
      upper(s).isNull.as("spark_null"),
      CaseMap.upper(s).isNull.as("ours_null"))
    val code = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    (df.collect(), code)
  }

  private def diverged(r: Row): Boolean =
    r.get(1) != r.get(2) || r.get(3) != r.get(4)

  for (icu <- Seq("true", "false"); codegen <- Seq(true, false)) {
    val mode = if (codegen) "codegen" else "interpreted"
    test(s"CaseMap.upper equals functions.upper bit for bit " +
        s"($mode, $IcuKey=$icu)") {
      val confs =
        if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
        else Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withConfs((IcuKey -> icu) +: confs: _*) {
        val (rows, code) = compare(col("s"))
        assert(rows.length == inputs.length)
        val bad = rows.filter(diverged)
        assert(bad.isEmpty, s"diverged: ${bad.mkString(", ")}")
        // the null input maps to null on both sides
        assert(rows.count(_.getBoolean(4)) == 1)
        // the generated code calls the ASCII-first path; the
        // interpreted plan generates none
        assert(code.contains("toUpperCaseAscii()") == codegen, code)
        // a non-ASCII value took Spark's own mapping, not the ASCII one
        val sharp = inputs.indexWhere(b =>
          b != null && new String(b, "UTF-8") == "ß")
        assert(rows.find(_.getInt(0) == sharp).get.getString(2) == "5353",
          "ß must upper-case to SS")
      }
    }
  }

  test("CaseMap.upper follows a collated input's collation like upper") {
    for (coll <- Seq("UTF8_LCASE", "UNICODE", "UNICODE_CI")) {
      val (rows, _) = compare(collate(col("s"), coll))
      val bad = rows.filter(diverged)
      assert(bad.isEmpty, s"$coll diverged: ${bad.mkString(", ")}")
    }
  }

  /** Bronze.parseLines as it was before CaseMap: the reference the
    * routed program must reproduce column for column. */
  private def parseLinesReference(df: DataFrame): DataFrame = {
    val parts = split(col("line"), java.util.regex.Pattern.quote(","))
    def f(i: Int): Column = element_at(parts, i + 1)
    df
      .withColumn("n_fields", size(parts))
      .withColumn("q_parse_error", col("n_fields") =!= Bronze.NFields)
      .withColumn("ticker",
        upper(trim(translate(f(0), "<>", ""))))
      .withColumn("timeframe",
        when(upper(f(1)) === "D", "D1").otherwise("UNKNOWN"))
      .withColumn("trade_date", to_date(f(2), "yyyyMMdd"))
      .withColumn("trade_dt",
        to_timestamp(concat(f(2), lpad(coalesce(f(3), lit("0")), 6, "0")),
          "yyyyMMddHHmmss"))
      .withColumn("open", f(4).cast("double"))
      .withColumn("high", f(5).cast("double"))
      .withColumn("low", f(6).cast("double"))
      .withColumn("close", f(7).cast("double"))
      .withColumn("volume", f(8).cast("double"))
      .withColumn("openint", f(9).cast("long"))
  }

  test("Bronze.parseLines through CaseMap equals the functions.upper " +
      "program on every output column of a dirty line set") {
    val tail = ",20240102,000000,10,11,9,10.5,100,0"
    val lines = Seq("AAPL.US,D" + tail, "aapl.us,d" + tail,
      "<msft.us>,D" + tail, " <Msft.Us> ,d" + tail, "<bäyer.de>,D" + tail,
      "straße.de,D" + tail, "ıstanbul.tr,d" + tail, "ǆemal.ba,ǅ" + tail,
      "ﬃ.us,ß" + tail, "𐐨.us,D" + tail, "café,dd" + tail,
      "<>,D" + tail, ",D" + tail, "x,<d>" + tail, "BAD,D,20240102",
      "only-one-field", "", "é.fr,D" + tail)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(lines.map(Row(_)), 2),
      StructType(Seq(StructField("line", StringType, true))))
    val got = Bronze.qualityFlags(Bronze.parseLines(df))
    val want = Bronze.qualityFlags(parseLinesReference(df))
    assert(got.schema == want.schema)
    assert(got.count() == lines.length)
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
    // the corpus does reach the non-ASCII mapping
    assert(got.filter(col("ticker") === "STRASSE.DE").count() == 1)
    assert(got.filter(col("timeframe") === "D1").count() == 12)
  }

  test("an all-ASCII Bronze pass never initializes " +
      "CollationAwareUTF8String; plain upper afterwards does") {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g",
      "-Xlog:class+init=info", "-Dspark.ui.enabled=false") ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.CaseMapInitProbe")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    val out = new java.io.ByteArrayOutputStream
    val pump = new Thread(() => p.getInputStream.transferTo(out))
    pump.start()
    val ended = p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    if (!ended) p.destroyForcibly()
    pump.join(10000)
    val lines = out.toString("UTF-8").linesIterator.toVector
    def tailLog = lines.takeRight(40).mkString("\n")
    assert(ended && p.exitValue() == 0, s"probe failed:\n$tailLog")
    val marker = lines.indexWhere(_ == CaseMapInitProbe.Marker)
    val inits = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Initializing " +
          "'org/apache/spark/sql/catalyst/util/CollationAwareUTF8String'") => i
    }
    assert(marker >= 0, s"no marker:\n$tailLog")
    assert(lines.exists(_.contains(CaseMapInitProbe.Done)), tailLog)
    assert(inits.nonEmpty, "plain upper must initialize the class (the " +
      s"lock's positive control):\n$tailLog")
    assert(inits.forall(_ > marker),
      s"initialized before the marker at line(s) ${inits.mkString(",")}")
  }
}

/** Child JVM of the init-lock test: a local[1] session runs Bronze's
  * parse and flag battery over ASCII lines, materializing every column,
  * prints [[Marker]], then runs plain `functions.upper` once. */
object CaseMapInitProbe {
  val Marker = "[casemap] bronze pass done"
  val Done = "[casemap] plain upper done"

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(1)
    import spark.implicits._
    val lines = Seq(
      "AAPL.US,D,20240102,000000,185.64,186.95,183.82,185.14,52164500,0",
      "<msft.us>,d,20240102,000000,400,401,399,400.5,1000,0",
      "aapl.us,D,20240103,000000,186,187,184,185,1000,0",
      "BAD,D,20240102")
    val df = lines.toDF("line").repartition(1)
    Harness.materialize(Bronze.qualityFlags(Bronze.parseLines(df)))
    println(Marker)
    System.out.flush()
    Harness.materialize(df.select(upper(col("line"))))
    println(Done)
    System.out.flush()
    spark.stop()
  }
}
