package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Bronze

/** Bronze ingest surface (SURVEY §2.1 S2, §2.2 P7-P9/P18, §2.3 J1):
  * delimited-line parsing with pad/truncate reject semantics, non-strict
  * casts, normalization, the 10-flag quality battery, and manifest
  * NEW/CHANGED/UNCHANGED classification — all oracle-checked against
  * stooq-style lines synthesized deterministically from `lineitem` (the
  * same synthesis runs on both engines, including corruption variants:
  * <>-wrapped tickers, bad timeframes, negative volume, swapped high/low,
  * missing fields).
  */
object IngestQueries extends QueryModule {

  /** Spark-side line synthesis from lineitem. */
  private def rawLines(li: DataFrame): DataFrame = {
    val t0 = concat(lit("S"), col("l_suppkey") % 100)
    val t = when(col("l_orderkey") % 7 === 0, concat(lit("<"), t0, lit(">")))
      .otherwise(t0)
    val per = when(col("l_orderkey") % 13 === 0, lit("W")).otherwise(lit("D"))
    val d = date_format(col("l_shipdate"), "yyyyMMdd")
    val tm = lit("000000")
    // integer-cent price strings via floor: printf('%.2f') rounds exact
    // halves differently across engines (Java HALF_UP vs C half-even)
    val base = col("l_extendedprice") / 100
    def cents(m: Double) =
      floor(base * m).cast("long").cast("string")
    val o = cents(100); val h0 = cents(102); val l0 = cents(98)
    val c = cents(101)
    val swap = col("l_orderkey") % 31 === 0
    val h = when(swap, l0).otherwise(h0)
    val l = when(swap, h0).otherwise(l0)
    val v = when(col("l_orderkey") % 89 === 0, lit("-100"))
      .otherwise((col("l_quantity") * 100).cast("long").cast("string"))
    val full = concat_ws(",", t, per, d, tm, o, h, l, c, v, lit("0"))
    val short = concat_ws(",", t, per, d, tm, o, h, l, c, v)
    // (l_orderkey, l_linenumber) is NOT unique in the testdata (dup rows
    // exist); salt the line number with a content hash so the ordering key
    // is total — identical lines collide harmlessly (identical output).
    li.select(
      when(col("l_orderkey") % 97 === 0, short).otherwise(full).as("line"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("ln0"))
      .select(col("line"),
        (col("ln0") * 1000000007L
          + graft.text.TextOps.hashMod(col("line"))).as("source_line_no"))
  }

  /** SQL mirror of rawLines → CTE `lines`. */
  private val linesSql = """
    lines0 AS (
      SELECT l_orderkey * 8 + l_linenumber AS ln0,
             CASE WHEN l_orderkey % 97 = 0
               THEN concat_ws(',', t, per, d, tm, o, h, l, c, v)
               ELSE concat_ws(',', t, per, d, tm, o, h, l, c, v, '0')
             END AS line
      FROM (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_orderkey % 7 = 0 THEN '<' || t0 || '>'
                    ELSE t0 END AS t,
               CASE WHEN l_orderkey % 13 = 0 THEN 'W' ELSE 'D' END AS per,
               strftime(l_shipdate, '%Y%m%d') AS d, '000000' AS tm,
               CAST(CAST(floor(l_extendedprice / 100 * 100) AS BIGINT)
                 AS VARCHAR) AS o,
               CASE WHEN l_orderkey % 31 = 0
                 THEN CAST(CAST(floor(l_extendedprice / 100 * 98) AS BIGINT)
                   AS VARCHAR)
                 ELSE CAST(CAST(floor(l_extendedprice / 100 * 102) AS BIGINT)
                   AS VARCHAR)
               END AS h,
               CASE WHEN l_orderkey % 31 = 0
                 THEN CAST(CAST(floor(l_extendedprice / 100 * 102) AS BIGINT)
                   AS VARCHAR)
                 ELSE CAST(CAST(floor(l_extendedprice / 100 * 98) AS BIGINT)
                   AS VARCHAR)
               END AS l,
               CAST(CAST(floor(l_extendedprice / 100 * 101) AS BIGINT)
                 AS VARCHAR) AS c,
               CASE WHEN l_orderkey % 89 = 0 THEN '-100'
                 ELSE CAST(CAST(l_quantity * 100 AS BIGINT) AS VARCHAR)
               END AS v
        FROM (SELECT *, 'S' || (l_suppkey % 100) AS t0 FROM lineitem))),
    lines AS (
      SELECT line,
             ln0 * 1000000007
               + ('0x' || substring(md5(line), 1, 15))::BIGINT % 1000000007
               AS source_line_no
      FROM lines0)"""

  /** SQL mirror of Bronze.parseLines + qualityFlags → CTE `bronze`.
    * A `def` so the interpolated validation thresholds track Settings
    * overrides exactly like the engine side. */
  private def parseSql = s"""
    p0 AS (
      SELECT source_line_no, string_split(line, ',') AS parts FROM lines),
    p1 AS (
      SELECT source_line_no,
             len(parts) AS n_fields,
             len(parts) <> 10 AS q_parse_error,
             upper(trim(translate(parts[1], '<>', '')))
               AS ticker,
             CASE WHEN upper(parts[2]) = 'D' THEN 'D1' ELSE 'UNKNOWN' END
               AS timeframe,
             CAST(try_strptime(parts[3], '%Y%m%d') AS DATE) AS trade_date,
             epoch_us(try_strptime(parts[3]
               || lpad(coalesce(parts[4], '0'), 6, '0'),
               '%Y%m%d%H%M%S')) AS trade_dt_us,
             TRY_CAST(parts[5] AS DOUBLE) AS open,
             TRY_CAST(parts[6] AS DOUBLE) AS high,
             TRY_CAST(parts[7] AS DOUBLE) AS low,
             TRY_CAST(parts[8] AS DOUBLE) AS close,
             TRY_CAST(parts[9] AS DOUBLE) AS volume,
             TRY_CAST(parts[10] AS BIGINT) AS openint
      FROM p0),
    p2 AS (
      SELECT *,
             (open IS NULL OR high IS NULL OR low IS NULL OR close IS NULL
              OR volume IS NULL OR trade_date IS NULL
              OR ticker IS NULL OR trim(ticker) = '') AS q_missing_field,
             timeframe = 'UNKNOWN' AS q_bad_timeframe,
             (open <= 0 OR high <= 0 OR low <= 0 OR close <= 0)
               AS q_nonpositive_price,
             high < low AS q_high_lt_low,
             (open > high OR open < low OR close > high OR close < low)
               AS q_ohlc_outside_hl,
             volume < 0 AS q_negative_volume,
             count(*) OVER (PARTITION BY ticker, trade_date) > 1
               AS q_duplicate_ticker_date,
             (high - low) > close * ${graft.Settings.validation.suspiciousRangePct} AS q_suspicious_bar,
             coalesce(date_diff('day',
               lag(trade_date) OVER (PARTITION BY ticker
                 ORDER BY trade_date, source_line_no), trade_date)
                 > ${graft.Settings.validation.gapDaysWarn},
               false) AS q_gap_in_calendar
      FROM p1),
    bronze AS (
      SELECT *,
             (CASE WHEN coalesce(q_parse_error, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_missing_field, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_bad_timeframe, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_nonpositive_price, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_high_lt_low, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_ohlc_outside_hl, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_negative_volume, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_duplicate_ticker_date, false) THEN 1 ELSE 0 END
             )::BIGINT AS quality_error_count,
             (CASE WHEN coalesce(q_suspicious_bar, false) THEN 1 ELSE 0 END
              + CASE WHEN coalesce(q_gap_in_calendar, false) THEN 1 ELSE 0 END
             )::BIGINT AS quality_warn_count
      FROM p2)"""

  private val outCols = Seq("source_line_no", "n_fields", "ticker",
    "timeframe", "trade_date", "trade_dt_us", "open", "high", "low",
    "close", "volume", "openint", "q_parse_error", "q_missing_field",
    "q_bad_timeframe", "q_nonpositive_price", "q_high_lt_low",
    "q_ohlc_outside_hl", "q_negative_volume", "q_duplicate_ticker_date",
    "q_suspicious_bar", "q_gap_in_calendar", "quality_error_count",
    "quality_warn_count")

  // Stage-cached: the three bronze consumers (parse / sanity / quality
  // report) all read essentially the full parsed row, and the parse is
  // the expensive part (line synthesis + split + casts + a per-line md5
  // ordering salt). Re-running it per query cost 3 full passes per
  // bench run; one checkpoint is bounded by lineitem cardinality and
  // mirrors the reference's bronze layer — persisted once, consumed by
  // every downstream validator (ref bronze/sanity_checks.py reads the
  // written bronze parquet, it never re-parses).
  private[queries] def bronzeDf(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "bronze_parsed") {
      Bronze.qualityFlags(
        Bronze.parseLines(rawLines(t(s, dir, "lineitem"))),
        tiebreak = Seq("source_line_no"))
        .withColumn("trade_dt_us", unix_micros(col("trade_dt")))
    }

  def all: Seq[Q] = Seq(

    // S5/S8 CSV reader + writer, oracled end-to-end: write a typed
    // frame (long/string/double/date) through the CSV sink, read it
    // back through the CSV source with an EXPLICIT schema + ISO date
    // parsing, and hash-compare against the parquet original. Doubles
    // survive because Spark writes shortest-round-trip decimal text;
    // a lossy writer or a mis-parsed date flips the driver hash.
    Q("q_csv_roundtrip", Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      FROM orders ORDER BY o_orderkey""")) { (s, dir) =>
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      val out = sys.props("java.io.tmpdir") +
        s"/graft_csv_rt_${math.abs(dir.hashCode)}"
      src.write.mode("overwrite").option("header", "true")
        .option("dateFormat", "yyyy-MM-dd").csv(out)
      s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, " +
          "o_orderdate DATE, o_orderpriority STRING")
        .option("header", "true").option("dateFormat", "yyyy-MM-dd")
        .csv(out)
        .orderBy("o_orderkey")
    },

    // S6/S7 hive-partitioned zstd parquet sink, oracled end-to-end:
    // write year-partitioned, read the directory tree back (partition
    // values come from directory names), and hash-compare against the
    // source. A wrong partition encoding, a dropped row, or a
    // compression/precision mishap in the sink flips the hash.
    Q("q_sink_roundtrip", Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(year(o_orderdate) AS INT) AS o_year
      FROM orders ORDER BY o_orderkey""")) { (s, dir) =>
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).cast("int").as("o_year"))
      val out = sys.props("java.io.tmpdir") +
        s"/graft_sink_rt_${math.abs(dir.hashCode)}"
      src.write.mode("overwrite").partitionBy("o_year")
        .option("compression",
          graft.Settings.parquet.compression)
        .parquet(out)
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_year").cast("int").as("o_year"))
        .orderBy("o_orderkey")
    },

    // S1 file discovery + exchange inference, oracled end-to-end: a
    // deterministic raw tree is synthesized from the nation table (one
    // .txt per nation under nasdaq/nyse/other subtrees, plus a decoy
    // non-txt file that must be ignored), then Bronze.discoverFiles
    // walks it — recursive listing, path-based exchange inference,
    // filename ticker hints, byte sizes — and the manifest is
    // hash-compared against the same derivation straight off parquet.
    // (source_file paths and mtimes are machine-local → excluded.)
    Q("q_discover_files", Some("""
      SELECT lower(replace(n_name, ' ', '_')) || '.txt'
               AS source_file_name,
             CASE WHEN n_nationkey % 3 = 0 THEN 'NASDAQ'
                  WHEN n_nationkey % 3 = 1 THEN 'NYSE'
                  ELSE 'UNKNOWN' END AS exchange,
             upper(replace(n_name, ' ', '_')) AS ticker_hint,
             CAST(length(n_name) + 1 AS BIGINT) AS file_size_bytes
      FROM nation ORDER BY source_file_name""")) { (s, dir) =>
      import java.nio.file.{Files, Paths}
      val root = Paths.get(sys.props("java.io.tmpdir"),
        s"graft_discover_${math.abs(dir.hashCode)}")
      // rebuild the tree from scratch so stale files can't leak in
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p))
          Files.list(p).forEach(rm(_))
        Files.deleteIfExists(p)
      }
      rm(root)
      val nations = t(s, dir, "nation")
        .select("n_nationkey", "n_name").collect() // 25-row dim
      nations.foreach { r =>
        val sub = (r.getAs[Number](0).longValue % 3) match {
          case 0 => "nasdaq stocks/1"
          case 1 => "nyse stocks/1"
          case _ => "other/1"
        }
        val d = root.resolve(sub)
        Files.createDirectories(d)
        val name = r.getString(1).toLowerCase.replace(" ", "_") + ".txt"
        Files.write(d.resolve(name),
          (r.getString(1) + "\n").getBytes("UTF-8"))
      }
      Files.write(root.resolve("ignore_me.csv"),
        "decoy\n".getBytes("UTF-8"))
      graft.etl.Bronze.discoverFiles(s, root.toString)
        .select("source_file_name", "exchange", "ticker_hint",
          "file_size_bytes")
        .orderBy("source_file_name")
    },

    // S9 JSON run artifacts, oracled end-to-end: the run-summary rows
    // (per-event-type counts + exact-decimal value totals) are rendered
    // through RunArtifacts' JSON writer (escaping, shortest-round-trip
    // doubles, atomic tmp+move), read back with spark.read.json, and
    // hash-compared against the same aggregation straight off parquet —
    // a lossy renderer or a broken escape flips the hash.
    Q("q_artifact_roundtrip", Some("""
      SELECT event_type, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(38,18))) AS DOUBLE), 6)
               AS total_value
      FROM events GROUP BY 1 ORDER BY event_type""")) { (s, dir) =>
      val summary = t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(38,18)")).cast("double"), 6)
            .as("total_value"))
        .orderBy("event_type")
        .collect() // k-row report table (bounded: #event types)
      val out = sys.props("java.io.tmpdir") +
        s"/graft_json_rt_${math.abs(dir.hashCode)}.json"
      graft.etl.RunArtifacts.writeText(out, summary.map { r =>
        graft.etl.RunArtifacts.writeJsonLine(Map(
          "event_type" -> r.getString(0), "n" -> r.getLong(1),
          "total_value" -> r.getDouble(2)))
      }.mkString("\n"))
      s.read
        .schema("event_type STRING, n BIGINT, total_value DOUBLE")
        .json(out)
        .orderBy("event_type")
    },

    Q("q_bronze_parse", Some(s"""
      WITH $linesSql,
      $parseSql
      SELECT ${outCols.mkString(", ")},
             quality_error_count = 0 AS is_valid_row_chk
      FROM bronze ORDER BY source_line_no""")) { (s, dir) =>
      bronzeDf(s, dir)
        .withColumn("is_valid_row_chk", col("is_valid_row"))
        .select((outCols :+ "is_valid_row_chk").map(col): _*)
        .orderBy("source_line_no")
    },

    // Bronze sanity rollup (ref: bronze/sanity_checks.py:117-126):
    // per-ticker-year validity stats over the parsed output
    Q("q_bronze_sanity", Some(s"""
      WITH $linesSql,
      $parseSql
      SELECT ticker, CAST(year(trade_date) AS INT) AS yr,
             count(*) AS n_rows,
             count(CASE WHEN quality_error_count = 0 THEN 1 END) AS n_valid,
             count(CASE WHEN q_suspicious_bar THEN 1 END) AS n_suspicious,
             round(CAST(count(CASE WHEN quality_error_count = 0 THEN 1 END)
               AS DOUBLE) / count(*), 9) AS valid_rate
      FROM bronze
      WHERE trade_date IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, dir) =>
      import graft.ops.Cols.countIf
      bronzeDf(s, dir)
        .filter(col("trade_date").isNotNull)
        .groupBy(col("ticker"), year(col("trade_date")).as("yr"))
        .agg(count(lit(1)).as("n_rows"),
          countIf(col("quality_error_count") === 0).as("n_valid"),
          countIf(col("q_suspicious_bar")).as("n_suspicious"),
          round(countIf(col("quality_error_count") === 0).cast("double")
            / count(lit(1)), 9).as("valid_rate"))
        .orderBy("ticker", "yr")
    },

    // Ticker-level quality report (ref validate/reports.py:33-100
    // build_ticker_quality_report): the per-ticker validity/warning/
    // duplicate/suspicious/gap rollup + trade-date range the reference
    // writes per bronze file — here one aggregate pass over all tickers
    // (map-side combine; no per-file driver loop).
    Q("q_bronze_quality_report", Some(s"""
      WITH $linesSql,
      $parseSql
      SELECT ticker,
             count(*) AS rows_total,
             count(CASE WHEN quality_error_count = 0 THEN 1 END)
               AS rows_valid,
             count(CASE WHEN quality_error_count > 0 THEN 1 END)
               AS rows_invalid,
             CAST(sum(quality_warn_count) AS BIGINT) AS warnings_total,
             count(CASE WHEN q_duplicate_ticker_date THEN 1 END)
               AS duplicates_count,
             count(CASE WHEN q_suspicious_bar THEN 1 END)
               AS suspicious_bars_count,
             count(CASE WHEN q_gap_in_calendar THEN 1 END)
               AS gap_rows_count,
             min(trade_date) AS min_trade_date,
             max(trade_date) AS max_trade_date
      FROM bronze GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      import graft.ops.Cols.countIf
      bronzeDf(s, dir)
        .groupBy("ticker")
        .agg(count(lit(1)).as("rows_total"),
          countIf(col("quality_error_count") === 0).as("rows_valid"),
          countIf(col("quality_error_count") > 0).as("rows_invalid"),
          sum(col("quality_warn_count")).cast("long")
            .as("warnings_total"),
          countIf(col("q_duplicate_ticker_date")).as("duplicates_count"),
          countIf(col("q_suspicious_bar")).as("suspicious_bars_count"),
          countIf(col("q_gap_in_calendar")).as("gap_rows_count"),
          min(col("trade_date")).as("min_trade_date"),
          max(col("trade_date")).as("max_trade_date"))
        .orderBy("ticker")
    },

    // Parse-sample summary (ref cli.py:555-618 `parse_sample`): the
    // one-row readiness echo a bronze onboarding run prints — raw line
    // count, parsed vs rejected split (reject = wrong field count, the
    // reader's side-output contract), the delimiter, and the parsed
    // date bounds. header_skipped is constant false: the synthetic
    // line fixture carries no header row (the reference flag records
    // whether read_stock_txt_with_rejects dropped one).
    Q("q_parse_sample", Some(s"""
      WITH $linesSql,
      $parseSql
      SELECT count(*) AS raw_row_count,
             count(CASE WHEN NOT q_parse_error THEN 1 END)
               AS normalized_row_count,
             count(CASE WHEN q_parse_error THEN 1 END)
               AS rejected_row_count,
             false AS header_skipped,
             ',' AS delimiter,
             min(CASE WHEN NOT q_parse_error THEN trade_date END)
               AS min_trade_date,
             max(CASE WHEN NOT q_parse_error THEN trade_date END)
               AS max_trade_date
      FROM bronze""")) { (s, dir) =>
      import graft.ops.Cols.countIf
      val ok = !col("q_parse_error")
      bronzeDf(s, dir).agg(
        count(lit(1)).as("raw_row_count"),
        countIf(ok).as("normalized_row_count"),
        countIf(col("q_parse_error")).as("rejected_row_count"),
        lit(false).as("header_skipped"),
        lit(",").as("delimiter"),
        min(when(ok, col("trade_date"))).as("min_trade_date"),
        max(when(ok, col("trade_date"))).as("max_trade_date"))
    },

    // Problem-ticker listing (ref cli.py:470-508
    // `list_problem_tickers_cmd` over bronze/symbol_master.py:210-216):
    // per-ticker quality rollup filtered to tickers with any invalid or
    // warned rows, sorted worst-first (invalid desc, warn desc, rows
    // desc; ticker tiebreak for cross-engine determinism — the
    // reference relies on polars' stable sort), limit 50 (the CLI
    // default). invalid = rows failing any hard rule (NOT is_valid_row),
    // warn = rows with any warn flag — the symbol-master count
    // semantics verbatim. The bronze fixture carries no exchange
    // column (exchange inference is the discovery query's surface).
    Q("q_problem_tickers", Some(s"""
      WITH $linesSql,
      $parseSql,
      sm AS (
        SELECT ticker, count(*) AS row_count,
               count(CASE WHEN quality_error_count > 0 THEN 1 END)
                 AS invalid_row_count,
               count(CASE WHEN quality_warn_count > 0 THEN 1 END)
                 AS warn_row_count,
               min(trade_date) AS first_date,
               max(trade_date) AS last_date
        FROM bronze GROUP BY 1)
      SELECT * FROM sm
      WHERE invalid_row_count > 0 OR warn_row_count > 0
      ORDER BY invalid_row_count DESC, warn_row_count DESC,
               row_count DESC, ticker
      LIMIT 50""")) { (s, dir) =>
      import graft.ops.Cols.countIf
      bronzeDf(s, dir)
        .groupBy("ticker")
        .agg(count(lit(1)).as("row_count"),
          countIf(col("quality_error_count") > 0)
            .as("invalid_row_count"),
          countIf(col("quality_warn_count") > 0).as("warn_row_count"),
          min(col("trade_date")).as("first_date"),
          max(col("trade_date")).as("last_date"))
        .filter(col("invalid_row_count") > 0 || col("warn_row_count") > 0)
        .orderBy(col("invalid_row_count").desc,
          col("warn_row_count").desc, col("row_count").desc,
          col("ticker"))
        .limit(50)
    },

    // Small-files compaction planner: assign each file to a merge group
    // by the bin its global starting byte offset falls in (the
    // Iceberg/Delta bin-pack shape). The offset is a GLOBAL prefix sum
    // over a manifest that at 100 TB has millions of rows — computed
    // with the distributed two-pass Wins.prefixScan, never a
    // single-task window (plan-audited). Fixture manifest: one "file"
    // per document, bytes = n_chars, 4 KiB target groups.
    Q("q_compact_plan", Some("""
      WITH f AS (
        SELECT printf('f%06d.parquet', doc_id) AS path, n_chars AS bytes
        FROM documents),
      c AS (
        SELECT *, sum(bytes) OVER (ORDER BY path
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM f),
      g AS (
        SELECT path, bytes,
               CAST((cum - bytes) // 4096 AS BIGINT) AS group_id
        FROM c)
      SELECT path, bytes, group_id,
             count(*) OVER (PARTITION BY group_id) AS grp_files,
             CAST(sum(bytes) OVER (PARTITION BY group_id) AS BIGINT)
               AS grp_bytes
      FROM g ORDER BY path""")) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val target = 4096L
      val f = t(s, dir, "documents").select(
        format_string("f%06d.parquet", col("doc_id")).as("path"),
        col("n_chars").as("bytes"))
      val wG = Window.partitionBy("group_id")
      graft.ops.Wins.prefixScan(f, Nil, Seq(col("path")), col("bytes"), "cum")
        .select(col("path"), col("bytes"),
          floor((col("cum") - col("bytes")) / target).as("group_id"))
        .withColumn("grp_files", count(lit(1)).over(wG))
        .withColumn("grp_bytes", sum("bytes").over(wG).cast("long"))
        .orderBy("path")
    }
  )
}
