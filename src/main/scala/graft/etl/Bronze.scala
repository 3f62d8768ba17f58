package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.CaseMap
import graft.ops.{Cols, Wins}
import org.apache.spark.sql.expressions.Window

/** Bronze ingest layer: delimited-text OHLCV parsing with reject
  * side-output, normalization, and the 10-flag row-quality battery
  * (ref: src/mf_etl/ingest/read_txt.py:73-186,
  * src/mf_etl/transform/normalize.py:92-145,
  * src/mf_etl/validate/rules.py:84-196).
  *
  * The reference reads one file per symbol in a Python loop; here the whole
  * universe is one DataFrame of raw lines (any source: spark.read.text,
  * a staged table, a synthesized column) and the parse/normalize/validate
  * program is set-level — no driver loops, fully codegen'd.
  */
object Bronze {

  /** Expected field count of a stooq-style line:
    * TICKER,PER,DATE,TIME,OPEN,HIGH,LOW,CLOSE,VOL,OPENINT. */
  val NFields = 10

  /** Recursive raw-file discovery (ref: src/mf_etl/ingest/discover.py:
    * 21-62): all *.txt under root, exchange inferred from the path,
    * ticker hint from the filename, size/mtime for the fingerprint.
    * Driver-side Hadoop FS listing — the manifest is small (one row per
    * file); the heavy read happens later in one spark.read over the
    * selected paths. The walk is `listStatus`, depth first in listing
    * order (the order `listFiles(root, true)` yields): `listFiles`
    * builds a `LocatedFileStatus` per entry, which reads the entry's
    * permissions, and without native Hadoop IO that forks one `ls -ld`
    * per file and directory. */
  def discoverFiles(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import spark.implicits._
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Long, Long)]
    def walk(st: FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
      else {
        val p = st.getPath.toString
        if (p.endsWith(".txt")) {
          val name = st.getPath.getName
          val lower = p.toLowerCase
          val exchange =
            if (lower.contains("nasdaq")) "NASDAQ"
            else if (lower.contains("nyse")) "NYSE"
            else "UNKNOWN"
          val tickerHint = name.stripSuffix(".txt").toUpperCase
          rows += ((p, name, exchange, tickerHint, st.getLen,
            st.getModificationTime))
        }
      }
    walk(fs.getFileStatus(new Path(root)))
    rows.toSeq.toDF("source_file", "source_file_name", "exchange",
        "ticker_hint", "file_size_bytes", "file_mtime_ms")
      .withColumn("fingerprint",
        concat_ws("|", col("source_file"), col("file_size_bytes"),
          col("file_mtime_ms")))
  }

  /** Parse raw delimited lines (already split-ready) into typed bronze
    * rows + quality columns. Input: `line` string column + any passthrough
    * identity columns. Malformed rows (wrong field count) are kept with
    * `q_parse_error` set and nulls padded — the reject side-output is a
    * simple filter on that flag, preserving the reference's
    * pad-null/truncate semantics. */
  def parseLines(df: DataFrame, delimiter: String = ","): DataFrame = {
    val parts = split(col("line"), java.util.regex.Pattern.quote(delimiter))
    def f(i: Int): Column = element_at(parts, i + 1)
    df
      .withColumn("n_fields", size(parts))
      .withColumn("q_parse_error", col("n_fields") =!= NFields)
      // normalize (transform/normalize.py:100-132): strip <>, upper,
      // non-strict casts → null on failure. translate (a char-map scan)
      // instead of regexp_replace: same semantics for fixed chars,
      // ~2× cheaper in the hot parse path. CaseMap.upper keeps ASCII
      // values off ICU's title-case table build (its scaladoc)
      .withColumn("ticker",
        CaseMap.upper(trim(translate(f(0), "<>", ""))))
      .withColumn("timeframe",
        when(CaseMap.upper(f(1)) === "D", "D1").otherwise("UNKNOWN"))
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

  /** Row-quality flag battery (validate/rules.py:84-196): 8 hard errors +
    * 2 warnings, counts, and is_valid_row. Expects parsed bronze columns
    * and (ticker, trade_date) identity. */
  def qualityFlags(df: DataFrame,
      tiebreak: Seq[String] = Seq.empty): DataFrame = {
    val ord = (Seq("trade_date") ++ tiebreak).map(col)
    val w = Window.partitionBy("ticker").orderBy(ord: _*)
    val prices = Seq("open", "high", "low", "close").map(col)
    val flagged = df
      .withColumn("q_missing_field",
        prices.map(_.isNull).reduce(_ || _) || col("volume").isNull
          || col("trade_date").isNull || Cols.nullOrBlank(col("ticker")))
      .withColumn("q_bad_timeframe", col("timeframe") === "UNKNOWN")
      .withColumn("q_nonpositive_price",
        prices.map(p => p <= 0).reduce(_ || _))
      .withColumn("q_high_lt_low", col("high") < col("low"))
      .withColumn("q_ohlc_outside_hl",
        col("open") > col("high") || col("open") < col("low")
          || col("close") > col("high") || col("close") < col("low"))
      .withColumn("q_negative_volume", col("volume") < 0)
      .withColumn("q_duplicate_ticker_date",
        count(lit(1)).over(
          Window.partitionBy("ticker", "trade_date")) > 1)
      .withColumn("q_suspicious_bar",
        (col("high") - col("low"))
          > col("close") * graft.Settings.validation.suspiciousRangePct)
      .withColumn("q_gap_in_calendar",
        coalesce(datediff(col("trade_date"),
          lag("trade_date", 1).over(w))
            > graft.Settings.validation.gapDaysWarn, lit(false)))
    val hardFlags = Seq("q_parse_error", "q_missing_field",
      "q_bad_timeframe", "q_nonpositive_price", "q_high_lt_low",
      "q_ohlc_outside_hl", "q_negative_volume", "q_duplicate_ticker_date")
    val warnFlags = Seq("q_suspicious_bar", "q_gap_in_calendar")
    def cnt(flags: Seq[String]) = flags
      .map(fl => when(coalesce(col(fl), lit(false)), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    flagged
      .withColumn("quality_error_count", cnt(hardFlags))
      .withColumn("quality_warn_count", cnt(warnFlags))
      .withColumn("is_valid_row", col("quality_error_count") === 0)
  }

  /** Manifest classification (ingest/manifest.py:155-199): current file
    * listing vs previous ledger → NEW/CHANGED/UNCHANGED by fingerprint,
    * previous side deduped keep-last. */
  def classifyManifest(current: DataFrame, previous: DataFrame): DataFrame = {
    val w = Window.partitionBy("source_file")
      .orderBy(col("discovered_ts").desc)
    val prevLatest = previous
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source_file"),
        col("fingerprint").as("prev_fingerprint"))
    current.join(prevLatest, Seq("source_file"), "left")
      .withColumn("manifest_status",
        when(col("prev_fingerprint").isNull, "NEW")
          .when(col("prev_fingerprint") =!= col("fingerprint"), "CHANGED")
          .otherwise("UNCHANGED"))
  }

  /** Incremental selection (bronze/pipeline.py:98-117
    * _select_files_for_processing): classified manifest sorted by
    * source_file; a single-status filter wins over the default
    * NEW+CHANGED incremental filter; `full` processes everything;
    * optional head-limit after sorting (deterministic). */
  def selectForProcessing(classified: DataFrame,
      onlyStatus: Option[String] = None, full: Boolean = false,
      limit: Option[Int] = None): DataFrame = {
    val base = classified.orderBy("source_file")
    val filtered = onlyStatus match {
      case Some(st) => base.filter(col("manifest_status") === st)
      case None if !full =>
        base.filter(col("manifest_status").isin("NEW", "CHANGED"))
      case None => base
    }
    limit.map(filtered.limit).getOrElse(filtered)
  }

  /** Stable-manifest promotion (ingest/manifest.py:247-262 +
    * bronze/pipeline.py:147-151 _should_promote_manifest): the classified
    * current manifest becomes the next stable ledger, but ONLY on
    * complete runs — partial (limit) or filtered (only_status) or
    * dry runs must not mark unprocessed files up-to-date. */
  def promoteManifest(classified: DataFrame, dryRun: Boolean = false,
      limit: Option[Int] = None,
      onlyStatus: Option[String] = None): Option[DataFrame] =
    if (!dryRun && limit.isEmpty && onlyStatus.isEmpty)
      Some(classified.drop("prev_fingerprint"))
    else None

  /** Partitioned bronze sink: exchange/prefix/ticker hive layout
    * (ref: bronze/writer.py:221-228) — partition pruning makes
    * single-ticker reads free. */
  def writePartitioned(df: DataFrame, root: String): Unit =
    df.withColumn("prefix", substring(col("ticker"), 1, 1))
      .write.mode("overwrite")
      .partitionBy("exchange", "prefix", "ticker")
      .option("compression", "zstd")
      .parquet(root)
}
