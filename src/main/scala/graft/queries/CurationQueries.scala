package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.text.{Export, TextOps}

/** Corpus-curation operators beyond the dedup/similarity families: eval-set
  * decontamination, stratified deterministic sampling, source-mixture
  * reweighting, PII scan/redaction, blocklist filtering, and
  * temperature-flattened language mixing — the remaining steps a
  * large-scale training-data pipeline runs between raw crawl and tokenizer.
  *
  * Scale shapes: decontamination is an equi-join of corpus n-grams against
  * a broadcast-sized benchmark n-gram set (eval suites are tiny next to the
  * corpus); stratified sampling is one per-stratum hash-ordered rank;
  * mixture reweighting is a per-source aggregate crossed with a one-row
  * broadcast total; PII and blocklist scans are pure per-doc column
  * programs (zero shuffles — they stream through the scan).
  */
object CurationQueries extends QueryModule {

  /** PII regexes — the common subset of Java regex (Spark) and RE2
    * (DuckDB): no back-references, no lookaround, so both engines match
    * identically. */
  // PII patterns shared with the streaming curation path
  private val EmailPat = graft.text.TextOps.EmailPat
  private val PhonePat = graft.text.TextOps.PhonePat
  private val Ipv4Pat = graft.text.TextOps.Ipv4Pat

  /** Blocklist for the C4-style bad-word gate (fixture terms drawn from
    * the synthetic vocabulary so the gate actually fires; production swaps
    * in the real denylist — semantics identical). */
  private val Blocked = Seq("slow", "big")

  /** Contamination n-gram width. 8-token grams make incidental collisions
    * vanishingly rare (GPT-3/Llama decontamination uses 8-13); any shared
    * gram ⇒ near-verbatim overlap with the benchmark. */
  private val ContamN = 8

  /** DuckDB 8-gram shingle CTE mirroring TextOps.shingles(text, 8):
    * list_transform over range(len-7) is empty for sub-8-token docs,
    * matching the Spark-side guard. */
  private val sh8Cte = {
    val joined = (1 to ContamN).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""
    sh8 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(len(t) - ${ContamN - 1}), i -> $joined))) AS sh
      FROM (SELECT doc_id, regexp_split_to_array(text, '[[:space:]]+') AS t FROM documents))"""
  }

  /** Portable 60-bit md5 hash mod prime, SQL side (TextOps.hashMod). */
  private def hsql(e: String) = graft.text.TextOps.hsqlMod(e)

  private def ExpShards = graft.Settings.export.nShards
  private def ExpSalt = graft.Settings.export.shardSalt

  /** Shared shard-assignment stage (Export.shardAssign at the live
    * `export.*` settings) — read by the assignment, manifest, and
    * balance queries so the hash pass runs once. */
  private[queries] def shardStage(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "export_shard_assign") {
      Export.shardAssign(t(s, dir, "documents"), ExpShards, ExpSalt)
    }

  /** DuckDB CTE mirroring Export.shardAssign at the live settings. */
  private def shardCte: String = s"""
      sa AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '[[:space:]]+')) AS BIGINT) AS n_tokens,
               ${hsql(s"'${ExpSalt}_' || doc_id")} % $ExpShards AS shard_id,
               md5('shuf_' || doc_id) AS shuf_key,
               ${hsql("'fp_' || text")} AS fp_h
        FROM documents)"""

  def all: Seq[Q] = Seq(

    // Training-data shard export, assignment grain: deterministic
    // hash-shard id (content-independent — a re-crawled doc keeps its
    // shard) + 1-based write position in portable shuffled order. The
    // position window partitions per shard: it IS the exchange +
    // in-partition sort a repartition(shard_id) writer performs, so
    // the plan is the write plan; no stage holds more than one shard.
    Q("q_t_shard_assign", Some(s"""
      WITH $shardCte
      SELECT doc_id, n_tokens, shard_id, shuf_key,
             CAST(row_number() OVER (PARTITION BY shard_id
               ORDER BY shuf_key, doc_id) AS BIGINT) AS pos
      FROM sa ORDER BY shard_id, pos""")) { (s, dir) =>
      shardStage(s, dir)
        .select("doc_id", "n_tokens", "shard_id", "shuf_key", "pos")
        .orderBy("shard_id", "pos")
    },

    // Rendezvous (HRW) shard assignment (Export.hrwShard — Thaler &
    // Ravishankar 1998): shard = argmax over s of H(salt:doc:s) —
    // map-only N-hash argmax per row, the consistent-assignment
    // alternative to mod-N.
    Q("q_t_shard_hrw", Some(s"""
      WITH hrww AS (
        SELECT d.doc_id, s.s,
               ${hsql(s"'$ExpSalt:' || doc_id || ':' || s")} AS w
        FROM documents d, range($ExpShards) s(s))
      SELECT doc_id, CAST(s AS BIGINT) AS shard_id FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY w DESC, s DESC) AS rn
        FROM hrww) WHERE rn = 1
      ORDER BY doc_id""")) { (s, dir) =>
      graft.text.Export.shardAssignHrw(t(s, dir, "documents"),
        ExpShards, ExpSalt).orderBy("doc_id")
    },

    // Reshard-movement A/B at N → N+1 (the 100 TB question: what
    // fraction of the corpus MOVES when a shard is added) — mod-N
    // remaps ~N/(N+1) of all docs, HRW only the docs whose argmax
    // becomes the new shard, ~1/(N+1). One graded row per strategy.
    Q("q_t_shard_reshard_ab", Some {
      def hrwCte(tag: String, n: Int) = s"""
      ${tag}w AS (
        SELECT d.doc_id, s.s,
               ${hsql(s"'$ExpSalt:' || doc_id || ':' || s")} AS w
        FROM documents d, range($n) s(s)),
      $tag AS (
        SELECT doc_id, s AS shard_id FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY w DESC, s DESC) AS rn
          FROM ${tag}w) WHERE rn = 1)"""
      s"""
      WITH ${hrwCte("ha", ExpShards)},
      ${hrwCte("hb", ExpShards + 1)},
      mv AS (
        SELECT 'mod' AS strategy,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN
                 ${hsql(s"'${ExpSalt}_' || doc_id")} % $ExpShards
                   <> ${hsql(s"'${ExpSalt}_' || doc_id")}
                     % ${ExpShards + 1}
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        FROM documents
        UNION ALL
        SELECT 'hrw',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN a.shard_id <> b.shard_id
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM ha a JOIN hb b USING (doc_id))
      SELECT strategy, n_docs, n_moved,
             round(CAST(n_moved AS DOUBLE) / n_docs, 9) AS frac_moved
      FROM mv ORDER BY strategy"""
    }) { (s, dir) =>
      graft.text.Export.reshardMovement(t(s, dir, "documents"),
        ExpShards, ExpSalt).orderBy("strategy")
    },

    // Per-shard manifest: doc/token counts + an order-insensitive
    // content checksum (sum of 31-bit text-hash residues mod the same
    // prime) — equal corpora produce equal manifests regardless of
    // partitioning, the verification record a shard consumer checks.
    Q("q_t_shard_manifest", Some(s"""
      WITH $shardCte
      SELECT shard_id, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(min(doc_id) AS BIGINT) AS min_doc,
             CAST(max(doc_id) AS BIGINT) AS max_doc,
             CAST(sum(fp_h) % 1000000007 AS BIGINT) AS content_checksum
      FROM sa GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      Export.shardManifest(shardStage(s, dir)).orderBy("shard_id")
    },

    // One-row shard balance report: how even the hash split came out
    // (the loader's straggler is the max shard; skew is max shard
    // tokens over the even-split share).
    Q("q_t_shard_balance", Some(s"""
      WITH $shardCte,
      m AS (
        SELECT shard_id, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM sa GROUP BY 1)
      SELECT count(*) AS n_shards,
             CAST(sum(n_docs) AS BIGINT) AS total_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(min(n_docs) AS BIGINT) AS min_shard_docs,
             CAST(max(n_docs) AS BIGINT) AS max_shard_docs,
             round(CAST(max(n_tokens) AS DOUBLE) * count(*)
               / sum(n_tokens), 9) AS max_token_skew
      FROM m""")) { (s, dir) =>
      Export.shardBalance(Export.shardManifest(shardStage(s, dir)))
    },


    // Cross-source duplication matrix: for every pair of sources that
    // share at least one verbatim 8-gram, the overlap of their distinct
    // gram sets (jaccard + containment) — how you detect one crawl/dump
    // re-serving another's content before mixing them. Scale shape: one
    // shuffle to distinct (source, gram), then a gram equi-join whose
    // per-gram fanout is bounded by #sources², never corpus size.
    Q("q_t_source_overlap", Some(s"""
      WITH $sh8Cte,
      ss AS (SELECT DISTINCT d.source, s.sh
             FROM sh8 s JOIN documents d USING (doc_id)),
      sizes AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1),
      inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM ss a JOIN ss b
          ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared,
             sa.n_sh AS n_a, sb.n_sh AS n_b,
             round(CAST(n_shared AS DOUBLE)
               / (sa.n_sh + sb.n_sh - n_shared), 9) AS jaccard,
             round(CAST(n_shared AS DOUBLE)
               / least(sa.n_sh, sb.n_sh), 9) AS containment
      FROM inter
      JOIN sizes sa ON source_a = sa.source
      JOIN sizes sb ON source_b = sb.source
      ORDER BY source_a, source_b""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // one gram-keyed collect_set replaces distinct + self-join: the
      // set is bounded by #sources (a constant), so even a gram in
      // every doc carries a tiny aggregation buffer — skew-immune —
      // and both the per-source sizes and the pair counts fall out of
      // the grouped frame map-side. Stage-managed (not a bare .cache())
      // so Stage.clear() releases it with the other shared artifacts
      // instead of leaving a dangling CacheManager entry per execution.
      val bySh = Stage.cached(s, dir, "source_overlap_by_gram") {
        docs.select(col("source"),
            explode(TextOps.shingles(col("text"), ContamN)).as("sh"))
          .groupBy("sh").agg(collect_set(col("source")).as("srcs"))
      }
      val sizes = bySh.select(explode(col("srcs")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n_sh"))
      val arr = sort_array(col("srcs"))
      val inter = bySh.filter(size(col("srcs")) >= 2)
        .select(explode(flatten(transform(arr, (a, i) =>
          transform(slice(arr, i + lit(2), size(arr)), b =>
            struct(a.as("sa"), b.as("sb")))))).as("p"))
        .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(sizes.select(col("source").as("source_a"),
          col("n_sh").as("n_a")), Seq("source_a"))
        .join(sizes.select(col("source").as("source_b"),
          col("n_sh").as("n_b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          round(col("n_shared").cast("double")
            / (col("n_a") + col("n_b") - col("n_shared")), 9)
            .as("jaccard"),
          round(col("n_shared").cast("double")
            / least(col("n_a"), col("n_b")), 9).as("containment"))
        .orderBy("source_a", "source_b")
    },

    // Eval-set decontamination: docs with doc_id % 20 == 0 stand in for a
    // held-out benchmark; every other doc is scored by how many of its
    // distinct 8-grams appear verbatim in the benchmark set. One shared
    // gram flags the doc (the GPT-3 rule). The gram equi-join is left to
    // the optimizer: a REAL eval suite is a fixed few-MB set that AQE
    // broadcasts (corpus streams through map-side, zero corpus-gram
    // shuffle); the fixture's %20 slice is corpus-proportional, where a
    // forced broadcast would be the wrong hint at scale.
    Q("q_t_decontaminate", Some(s"""
      WITH $sh8Cte,
      bench AS (SELECT DISTINCT sh FROM sh8 WHERE doc_id % 20 = 0),
      tr AS (SELECT * FROM sh8 WHERE doc_id % 20 <> 0),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1),
      hits AS (SELECT t.doc_id, count(*) AS n_hit
               FROM tr t JOIN bench b ON t.sh = b.sh GROUP BY 1)
      SELECT d.doc_id,
             coalesce(s.n_sh, 0) AS n_sh,
             coalesce(h.n_hit, 0) AS n_hit,
             CASE WHEN coalesce(s.n_sh, 0) > 0
               THEN round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_sh, 9)
             END AS contaminated_frac,
             coalesce(h.n_hit, 0) > 0 AS is_contaminated
      FROM documents d
      LEFT JOIN sizes s ON d.doc_id = s.doc_id
      LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 20 <> 0
      ORDER BY d.doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sh = docs.select(col("doc_id"),
        explode(TextOps.shingles(col("text"), ContamN)).as("sh"))
      val bench = sh.filter(col("doc_id") % 20 === 0)
        .select("sh").distinct()
      val train = sh.filter(col("doc_id") % 20 =!= 0)
      val sizes = train.groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"))
      val hits = train.join(bench, Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      docs.filter(col("doc_id") % 20 =!= 0).select("doc_id")
        .join(sizes, Seq("doc_id"), "left")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_sh"), lit(0L)).as("n_sh"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          when(coalesce(col("n_sh"), lit(0L)) > 0,
            round(coalesce(col("n_hit"), lit(0L)).cast("double")
              / col("n_sh"), 9)).as("contaminated_frac"),
          (coalesce(col("n_hit"), lit(0L)) > 0).as("is_contaminated"))
        .orderBy("doc_id")
    },

    // Stratified deterministic sampling: exactly k docs per language by
    // portable md5 order — reproducible across runs/clusters (no RNG, no
    // partition-order dependence). Two-phase top-k so no task ever holds
    // a whole stratum: phase 1 ranks within (input partition, lang) and
    // keeps k per cell — bounded by the partition size — phase 2 ranks
    // the <= k·numPartitions survivors per lang. Identical output to the
    // single-window form (phase 1 keeps a superset of the global top-k).
    // For FRACTION-based sampling the O(1) hash-threshold filter
    // (q_det_sample) is the scale path.
    Q("q_t_sample_strat", Some("""
      SELECT * FROM (
        SELECT doc_id, lang, source, md5('smp' || doc_id) AS smp_key,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5('smp' || doc_id), doc_id) AS rk
        FROM documents)
      WHERE rk <= 25
      ORDER BY lang, rk""")) { (s, dir) =>
      val key = md5(concat(lit("smp"), col("doc_id").cast("string"))
        .cast("binary"))
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          key.as("smp_key"), spark_partition_id().as("__p"))
      val w1 = Window.partitionBy(col("__p"), col("lang"))
        .orderBy(col("smp_key"), col("doc_id"))
      val w2 = Window.partitionBy(col("lang"))
        .orderBy(col("smp_key"), col("doc_id"))
      base
        .withColumn("__rk1", row_number().over(w1))
        .filter(col("__rk1") <= 25)
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= 25)
        .select("doc_id", "lang", "source", "smp_key", "rk")
        .orderBy("lang", "rk")
    },

    // Span-level duplicate detection (RefinedWeb-style): fingerprint
    // every non-overlapping 16-token block and flag blocks whose content
    // repeats anywhere in the corpus — the paragraph-dedup signal that
    // doc-level fingerprints miss (boilerplate headers, quoted chunks).
    // Blocks group on their md5 fingerprint (fixed 128-bit key, not the
    // span text) — one block-keyed shuffle, one doc-keyed aggregate.
    Q("q_t_span_dup", Some("""
      WITH b AS (
        SELECT doc_id, regexp_split_to_array(text, '[[:space:]]+') AS t FROM documents),
      blk AS (
        SELECT doc_id, md5(unnest(list_transform(range(len(t) // 16),
          i -> array_to_string(list_slice(t, i*16 + 1, i*16 + 16), ' '))))
          AS fp
        FROM b),
      cnt AS (SELECT fp, count(*) AS c FROM blk GROUP BY 1),
      per AS (
        SELECT k.doc_id, count(*) AS n_blocks,
               count(CASE WHEN c >= 2 THEN 1 END) AS n_dup_blocks
        FROM blk k JOIN cnt USING (fp) GROUP BY 1)
      SELECT d.doc_id,
             coalesce(n_blocks, 0) AS n_blocks,
             coalesce(n_dup_blocks, 0) AS n_dup_blocks,
             CASE WHEN coalesce(n_blocks, 0) > 0
               THEN round(CAST(coalesce(n_dup_blocks, 0) AS DOUBLE)
                 / n_blocks, 9) END AS dup_frac,
             coalesce(n_dup_blocks, 0) > 0 AS has_dup_span
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY d.doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = TextOps.tokens(col("text"))
      val nb = floor(size(toks) / lit(16)).cast("int")
      // sub-16-token docs have no blocks; sequence(0, -1) would count
      // down, so guard like TextOps.shingles does
      val blocks = when(nb >= 1,
        transform(sequence(lit(0), nb - 1),
          i => md5(concat_ws(" ", slice(toks, i * 16 + 1, lit(16)))
            .cast("binary")))).otherwise(array().cast("array<string>"))
      val blk = docs.select(col("doc_id"), explode(blocks).as("fp"))
      val cnt = blk.groupBy("fp").agg(count(lit(1)).as("c"))
      val per = blk.join(cnt, Seq("fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          count(when(col("c") >= 2, 1)).as("n_dup_blocks"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
          coalesce(col("n_dup_blocks"), lit(0L)).as("n_dup_blocks"),
          when(coalesce(col("n_blocks"), lit(0L)) > 0,
            round(coalesce(col("n_dup_blocks"), lit(0L)).cast("double")
              / col("n_blocks"), 9)).as("dup_frac"),
          (coalesce(col("n_dup_blocks"), lit(0L)) > 0).as("has_dup_span"))
        .orderBy("doc_id")
    },

    // Corpus observability battery: the one-row stats dashboard a
    // curation run reports — doc/token/vocab totals, exact interpolated
    // doc-length quantiles, type-token ratio. Two count shuffles (per-doc
    // lengths + vocab) feeding a global aggregate.
    Q("q_t_corpus_stats", Some("""
      WITH tk AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '[[:space:]]+')) AS tok
        FROM documents),
      per AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY 1),
      voc AS (SELECT count(DISTINCT tok) AS v,
                     CAST(count(*) AS BIGINT) AS total FROM tk)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             voc.total AS total_tokens,
             CAST(voc.v AS BIGINT) AS vocab_size,
             CAST(voc.total AS DOUBLE) / count(*) AS avg_doc_tokens,
             round(quantile_cont(n, 0.5), 9) AS p50_tokens,
             round(quantile_cont(n, 0.9), 9) AS p90_tokens,
             round(quantile_cont(n, 0.99), 9) AS p99_tokens,
             round(CAST(voc.v AS DOUBLE) / voc.total, 9)
               AS type_token_ratio
      FROM per, voc GROUP BY voc.total, voc.v""")) { (s, dir) =>
      val tk = t(s, dir, "documents").select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      val per = tk.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val voc = tk.agg(countDistinct(col("tok")).as("v"),
        count(lit(1)).as("total"))
      per.crossJoin(broadcast(voc))
        .groupBy("total", "v")
        .agg(count(lit(1)).as("n_docs"),
          round(percentile(col("n"), lit(0.5)), 9).as("p50_tokens"),
          round(percentile(col("n"), lit(0.9)), 9).as("p90_tokens"),
          round(percentile(col("n"), lit(0.99)), 9).as("p99_tokens"))
        .select(col("n_docs"), col("total").as("total_tokens"),
          col("v").as("vocab_size"),
          (col("total").cast("double") / col("n_docs"))
            .as("avg_doc_tokens"),
          col("p50_tokens"), col("p90_tokens"), col("p99_tokens"),
          round(col("v").cast("double") / col("total"), 9)
            .as("type_token_ratio"))
    },

    // Lang × source crosstab via pivot — the corpus-composition matrix
    // (one aggregate shuffle; the pivoted lang domain is fixed and
    // declared, so no extra distinct-values job runs).
    Q("q_t_lang_pivot", Some("""
      SELECT source,
             count(CASE WHEN lang = 'de' THEN 1 END) AS de,
             count(CASE WHEN lang = 'en' THEN 1 END) AS en,
             count(CASE WHEN lang = 'es' THEN 1 END) AS es,
             count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
             count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
      FROM documents GROUP BY 1 ORDER BY source""")) { (s, dir) =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val piv = t(s, dir, "documents")
        .groupBy("source").pivot("lang", langs)
        .agg(count(lit(1)))
      piv.select(col("source") +:
          langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
        .orderBy("source")
    },

    // Source-mixture reweighting: per-source token mass vs a uniform
    // target share → capped upsampling weight and expected post-resample
    // tokens (the "domain mixing" step before tokenization). Exact
    // long-count arithmetic throughout; the totals are a one-row
    // broadcast.
    Q("q_t_source_mix", Some("""
      WITH per_src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(regexp_split_to_array(text, '[[:space:]]+'))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT sum(n_tokens) AS tot_tokens,
                     count(*) AS n_sources FROM per_src)
      SELECT source, n_docs, n_tokens,
             round(CAST(n_tokens AS DOUBLE) / tot_tokens, 9) AS cur_share,
             round(1.0 / n_sources, 9) AS target_share,
             round(least(3.0, (1.0 / n_sources)
               / (CAST(n_tokens AS DOUBLE) / tot_tokens)), 9) AS weight,
             CAST(round(n_tokens * least(3.0, (1.0 / n_sources)
               / (CAST(n_tokens AS DOUBLE) / tot_tokens)), 0) AS BIGINT)
               AS exp_tokens
      FROM per_src, tot
      ORDER BY source""")) { (s, dir) =>
      val perSrc = t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).as("n_tokens"))
      val tot = perSrc.agg(sum("n_tokens").as("tot_tokens"),
        count(lit(1)).as("n_sources"))
      val curShare = col("n_tokens").cast("double") / col("tot_tokens")
      val targetShare = lit(1.0) / col("n_sources")
      val weight = least(lit(3.0), targetShare / curShare)
      perSrc.join(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(curShare, 9).as("cur_share"),
          round(targetShare, 9).as("target_share"),
          round(weight, 9).as("weight"),
          round(col("n_tokens") * weight, 0).cast("long").as("exp_tokens"))
        .orderBy("source")
    },

    // PII scan + redaction: per-doc counts of emails / phone numbers /
    // IPv4 addresses and the redacted text length — the privacy-scrub
    // step (Dolma/FineWeb style) every released corpus runs. The
    // synthetic corpus contains no PII, so a deterministic
    // fixture-enrichment step (identical expression on both sides)
    // plants patterns first; production runs the same scan on raw text.
    // Pure per-doc column program: zero shuffles, streams with the scan.
    Q("q_t_pii", Some(s"""
      WITH enr AS (
        SELECT doc_id,
               text
               || (CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id
                     || '@example.com' ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
                     || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                     || '-'
                     || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0 THEN ' host 10.'
                     || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
                     || '.' || ((doc_id * 7) % 256) ELSE '' END) AS etext
        FROM documents),
      sc AS (
        SELECT doc_id, etext,
               len(regexp_extract_all(etext, '$EmailPat')) AS n_emails,
               len(regexp_extract_all(etext, '$PhonePat')) AS n_phones,
               len(regexp_extract_all(etext, '$Ipv4Pat')) AS n_ips,
               regexp_replace(regexp_replace(regexp_replace(etext,
                 '$EmailPat', '<EMAIL>', 'g'),
                 '$PhonePat', '<PHONE>', 'g'),
                 '$Ipv4Pat', '<IP>', 'g') AS red
        FROM enr)
      SELECT doc_id,
             CAST(n_emails AS BIGINT) AS n_emails,
             CAST(n_phones AS BIGINT) AS n_phones,
             CAST(n_ips AS BIGINT) AS n_ips,
             CAST(n_emails + n_phones + n_ips AS BIGINT) AS n_pii,
             (n_emails + n_phones + n_ips) > 0 AS has_pii,
             length(etext) AS n_chars_raw,
             length(red) AS n_chars_redacted
      FROM sc ORDER BY doc_id""")) { (s, dir) =>
      val id = col("doc_id")
      val enriched = concat(col("text"),
        when(id % 5 === 0, concat(lit(" contact user"), id.cast("string"),
          lit("@example.com"))).otherwise(lit("")),
        when(id % 7 === 0, concat(lit(" call 555-"),
          lpad(((id * 7) % 1000).cast("string"), 3, "0"), lit("-"),
          lpad(((id * 31) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(id % 11 === 0, concat(lit(" host 10."),
          (id % 256).cast("string"), lit("."),
          ((id * 3) % 256).cast("string"), lit("."),
          ((id * 7) % 256).cast("string"))).otherwise(lit("")))
      val nEmails = regexp_count(col("etext"), lit(EmailPat))
      val nPhones = regexp_count(col("etext"), lit(PhonePat))
      val nIps = regexp_count(col("etext"), lit(Ipv4Pat))
      val redacted = regexp_replace(regexp_replace(regexp_replace(
        col("etext"), EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>"), Ipv4Pat, "<IP>")
      t(s, dir, "documents")
        .select(id, enriched.as("etext"))
        .select(id,
          nEmails.cast("long").as("n_emails"),
          nPhones.cast("long").as("n_phones"),
          nIps.cast("long").as("n_ips"),
          (nEmails + nPhones + nIps).cast("long").as("n_pii"),
          ((nEmails + nPhones + nIps) > 0).as("has_pii"),
          length(col("etext")).as("n_chars_raw"),
          length(redacted).as("n_chars_redacted"))
        .orderBy("doc_id")
    },

    // Blocklist (bad-word) gate: C4 drops any doc containing a denylist
    // term; per-doc hit count, ratio, and the first offending term for
    // explainability. The list is a tiny executor-local literal set —
    // an array filter beats a join (nothing to shuffle or broadcast).
    Q("q_t_blocklist", Some {
      val inSet = Blocked.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""
      WITH b AS (
        SELECT doc_id, regexp_split_to_array(text, '[[:space:]]+') AS t FROM documents),
      f AS (
        SELECT doc_id, len(t) AS n_tokens,
               list_filter(t, x -> x IN $inSet) AS bl
        FROM b)
      SELECT doc_id, n_tokens,
             len(bl) AS n_blocked,
             round(CAST(len(bl) AS DOUBLE) / n_tokens, 9) AS blocked_ratio,
             bl[1] AS first_blocked,
             len(bl) = 0 AS is_clean
      FROM f ORDER BY doc_id"""
    }) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val bl = filter(toks, x => x.isin(Blocked: _*))
      t(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_tokens"), bl.as("bl"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("bl")).cast("long").as("n_blocked"),
          round(size(col("bl")).cast("double") / col("n_tokens"), 9)
            .as("blocked_ratio"),
          get(col("bl"), lit(0)).as("first_blocked"),
          (size(col("bl")) === 0).as("is_clean"))
        .orderBy("doc_id")
    },

    // Weighted (PPS) sampling: include each doc with probability
    // k·w/W, w = token mass — the corpus-curation sampler that keeps
    // expected TOKEN coverage at k/|corpus| regardless of document
    // length skew. One broadcast total + a map-only inclusion test;
    // nothing global, no sort, no top-k — the truly scale-free shape
    // (Efraimidis-Spirakis top-k needs a global heap). The uniform is
    // the portable multiplicative hash (q_det_sample convention) and
    // the test uses only exact-int ops and IEEE mult/div — both engines
    // agree bit-for-bit, no transcendentals involved.
    Q("q_t_sample_weighted", Some("""
      WITH w AS (SELECT sum(n_chars) AS tot FROM documents)
      SELECT doc_id, n_chars,
             round(100.0 * n_chars / tot, 9) AS p_inc
      FROM documents, w
      WHERE CAST((doc_id * 2654435761) % 1000000007 AS DOUBLE)
            / 1000000007 < 100.0 * n_chars / tot
      ORDER BY doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tot = docs.agg(sum("n_chars").as("tot"))
      val u = ((col("doc_id") * 2654435761L) % 1000000007L)
        .cast("double") / 1000000007L
      val p = lit(100.0) * col("n_chars") / col("tot")
      docs.crossJoin(broadcast(tot))
        .filter(u < p)
        .select(col("doc_id"), col("n_chars"),
          round(p, 9).as("p_inc"))
        .orderBy("doc_id")
    },

    // Mergeable quantile sketch per language — percentile_approx is the
    // 100-TB quantile path (Greenwald-Khanna summaries merge
    // associatively across partitions; the exact `percentile` used by
    // the stats dashboard needs a per-group sort). At accuracy 10^6 the
    // rank error n/accuracy is < 1 for any group below a million rows,
    // so the sketch answer IS the exact inverse-empirical-CDF value at
    // 1-indexed rank ceil(p*n) — which the oracle computes directly.
    // Past that bound the sketch is only rank-±n/10^6 (still within
    // contract), so BOTH sides null the quantiles out above it: the
    // gate compares exact values exactly where exactness is guaranteed
    // and stays valid at any SF (ADVICE r4).
    Q("q_t_len_quantiles", Some("""
      WITH r AS (
        SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      SELECT lang, max(n) AS n_docs,
             CASE WHEN max(n) < 1000000 THEN
               max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                 THEN n_chars END) END AS q25,
             CASE WHEN max(n) < 1000000 THEN
               max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                 THEN n_chars END) END AS q50,
             CASE WHEN max(n) < 1000000 THEN
               max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                 THEN n_chars END) END AS q75,
             CASE WHEN max(n) < 1000000 THEN
               max(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                 THEN n_chars END) END AS q90
      FROM r GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val exact = col("n_docs") < 1000000
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          percentile_approx(col("n_chars"),
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)),
            lit(1000000)).as("qs"))
        .select(col("lang"), col("n_docs"),
          when(exact, element_at(col("qs"), 1)).as("q25"),
          when(exact, element_at(col("qs"), 2)).as("q50"),
          when(exact, element_at(col("qs"), 3)).as("q75"),
          when(exact, element_at(col("qs"), 4)).as("q90"))
        .orderBy("lang")
    },

    // Temperature-flattened language mixing (XLM-R/mT5 style): sampling
    // shares q_l ∝ p_l^α with α = 0.5 — sqrt is exactly rounded in IEEE
    // 754 on both engines, and the cross-language normalizer sums through
    // DECIMAL(38,9), so the result is bit-stable regardless of partition
    // or combine order (the SURVEY §7.5 money-sum convention applied to
    // a float normalizer). Tiny per-lang aggregate + one-row broadcast.
    Q("q_t_mix_temperature", Some("""
      WITH per AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(regexp_split_to_array(text, '[[:space:]]+'))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY 1),
      sq AS (
        SELECT lang, n_docs, n_tokens,
               CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 9)
                 AS DECIMAL(38,9)) AS sq
        FROM per),
      tot AS (SELECT sum(n_tokens) AS tot_tokens, sum(sq) AS tot_sq
              FROM sq)
      SELECT lang, n_docs, n_tokens,
             round(CAST(n_tokens AS DOUBLE) / tot_tokens, 9) AS cur_share,
             round(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE), 9)
               AS temp_share,
             round((CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE))
               / (CAST(n_tokens AS DOUBLE) / tot_tokens), 9) AS weight,
             CAST(round(n_tokens * ((CAST(sq AS DOUBLE)
               / CAST(tot_sq AS DOUBLE))
               / (CAST(n_tokens AS DOUBLE) / tot_tokens)), 0) AS BIGINT)
               AS exp_tokens
      FROM sq, tot ORDER BY lang""")) { (s, dir) =>
      val per = t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).as("n_tokens"))
        .withColumn("sq",
          round(sqrt(col("n_tokens").cast("double")), 9)
            .cast(DecimalType(38, 9)))
      val tot = per.agg(sum("n_tokens").as("tot_tokens"),
        sum("sq").as("tot_sq"))
      val curShare = col("n_tokens").cast("double") / col("tot_tokens")
      val tempShare = col("sq").cast("double") / col("tot_sq").cast("double")
      val weight = tempShare / curShare
      per.join(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          round(curShare, 9).as("cur_share"),
          round(tempShare, 9).as("temp_share"),
          round(weight, 9).as("weight"),
          round(col("n_tokens") * weight, 0).cast("long").as("exp_tokens"))
        .orderBy("lang")
    },

    // Per-source distribution drift: add-one-smoothed KL divergence of
    // each source's token distribution against the whole corpus — the
    // monitor that flags a crawl source whose content shifted (spam
    // injection, template change) before it pollutes the mix. Shape:
    // one (source, term) count shuffle + a sources × vocab grid
    // (bounded by #sources · |vocab|, never corpus size); the per-term
    // p·ln(p/q) contributions sum through DECIMAL(38,18) so the
    // 9-decimal KL is aggregation-order-free on both engines.
    Q("q_t_source_kl", Some("""
      WITH tk AS (
        SELECT source, unnest(regexp_split_to_array(text, '[[:space:]]+')) AS term
        FROM documents),
      vocab AS (SELECT DISTINCT term FROM tk),
      vv AS (SELECT count(*) AS v FROM vocab),
      ctot AS (SELECT count(*) AS tot_c FROM tk),
      ccnt AS (SELECT term, count(*) AS cnt_c FROM tk GROUP BY 1),
      stot AS (SELECT source, count(*) AS tot_s FROM tk GROUP BY 1),
      scnt AS (
        SELECT source, term, count(*) AS cnt_s FROM tk GROUP BY 1, 2),
      grid AS (
        SELECT st.source, vb.term, st.tot_s,
               coalesce(sc.cnt_s, 0) AS cnt_s, cc.cnt_c
        FROM stot st CROSS JOIN vocab vb
        JOIN ccnt cc ON vb.term = cc.term
        LEFT JOIN scnt sc ON sc.source = st.source
          AND sc.term = vb.term),
      terms AS (
        SELECT source,
               (CAST(cnt_s + 1 AS DOUBLE) / (tot_s + (SELECT v FROM vv)))
                 * ln((CAST(cnt_s + 1 AS DOUBLE)
                     / (tot_s + (SELECT v FROM vv)))
                   / (CAST(cnt_c + 1 AS DOUBLE)
                     / ((SELECT tot_c FROM ctot)
                       + (SELECT v FROM vv)))) AS kt
        FROM grid),
      kl AS (
        SELECT source,
               round(CAST(sum(CAST(kt AS DECIMAL(38,18))) AS DOUBLE),
                 9) AS kl_vs_corpus
        FROM terms GROUP BY 1)
      SELECT k.source, s.tot_s AS n_tokens, k.kl_vs_corpus,
             CAST(row_number() OVER (ORDER BY k.kl_vs_corpus DESC,
               k.source) AS INT) AS rnk
      FROM kl k JOIN stot s USING (source) ORDER BY rnk""")) {
      (s, dir) =>
      val tk = t(s, dir, "documents").select(col("source"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val vocab = tk.select("term").distinct()
      val vv = vocab.agg(count(lit(1)).as("v"))
      val ctot = tk.agg(count(lit(1)).as("tot_c"))
      val ccnt = tk.groupBy("term").agg(count(lit(1)).as("cnt_c"))
      val stot = tk.groupBy("source").agg(count(lit(1)).as("tot_s"))
      val scnt = tk.groupBy("source", "term")
        .agg(count(lit(1)).as("cnt_s"))
      val grid = stot.crossJoin(broadcast(vocab))
        .join(broadcast(ccnt), Seq("term"))
        .join(scnt, Seq("source", "term"), "left")
        .select(col("source"), col("term"), col("tot_s"),
          coalesce(col("cnt_s"), lit(0L)).as("cnt_s"), col("cnt_c"))
        .crossJoin(broadcast(vv)).crossJoin(broadcast(ctot))
      val ps = (col("cnt_s") + 1).cast("double") / (col("tot_s") + col("v"))
      val pc = (col("cnt_c") + 1).cast("double") / (col("tot_c") + col("v"))
      val terms = grid.select(col("source"),
        (ps * log(ps / pc)).as("kt"))
      val kl = terms.groupBy("source")
        .agg(round(sum(col("kt").cast("decimal(38,18)")).cast("double"),
          9).as("kl_vs_corpus"))
      kl.join(stot, Seq("source"))
        .select(col("source"), col("tot_s").as("n_tokens"),
          col("kl_vs_corpus"))
        // global rank WITHOUT the single-task unpartitioned window
        // (Wins.boundedRanks over the one-row-per-source table —
        // total order, bit-identical row_number)
        .transform(df => graft.ops.Wins.boundedRanks(df,
          Seq((col("kl_vs_corpus"), false), (col("source"), true)),
          outRow = Some("rnk")))
        .orderBy("rnk")
    },

    // DSIR per-doc importance weights (Xie et al., NeurIPS 2023): how
    // target-like is each pool document under hashed-n-gram unigram
    // models of the target slice vs the raw pool. The model is the
    // broadcast ≤ n_buckets log-ratio table (text.Dsir scaladoc) —
    // featurization and scoring are map-shaped, the two model fits are
    // bucket-keyed aggregates that map-side-combine to O(n_buckets)
    // rows; nothing in the plan grows with corpus size except the
    // streams themselves.
    Q("q_t_dsir_weights", Some(s"""
      WITH $dsirCtes
      SELECT doc_id, lang, (lang = '$DsirLang') AS is_target, n_grams,
             round(logw, 6) AS logw
      FROM dlw ORDER BY doc_id""")) { (s, dir) =>
      dsirWeights(s, dir)
        .select(col("doc_id"), col("lang"),
          (col("lang") === DsirLang).as("is_target"), col("n_grams"),
          round(col("logw"), 6).as("logw"))
        .orderBy("doc_id")
    },

    // DSIR Gumbel-top-k resample: sampling without replacement with
    // probability ∝ the importance weight ≡ ranking on
    // log ŵ + Gumbel(0,1), with the Gumbel draw derived from an md5
    // hash of the doc id — deterministic, so the paper's stochastic
    // resampling step is itself hash-checked. The engine plan is
    // TakeOrdered(k) over the shared weight stage (no global sort
    // materializes); the k survivors are ranked by a broadcast rank
    // join, with no unpartitioned window.
    Q("q_t_dsir_sample", Some(s"""
      WITH $dsirCtes,
      dsc AS (
        SELECT doc_id, lang, logw,
               -ln(-ln((${hsql("'dsirg_' || doc_id")} + 0.5)
                 / 1000000007.0)) AS gk
        FROM dlw),
      dsr AS (
        SELECT doc_id, lang, logw, gk,
               round(logw + gk, 6) AS score
        FROM dsc),
      drk AS (
        SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
                 AS smp_rank
        FROM dsr)
      SELECT CAST(smp_rank AS INT) AS smp_rank, doc_id, lang,
             round(logw, 6) AS logw, round(gk, 6) AS gumbel, score
      FROM drk WHERE smp_rank <= $DsirK ORDER BY smp_rank""")) {
      (s, dir) =>
      val sc = dsirWeights(s, dir)
        .select(col("doc_id"), col("lang"), col("logw"),
          graft.text.Dsir.gumbel(col("doc_id")).as("gk"))
        .withColumn("score", round(col("logw") + col("gk"), 6))
      // doc_id is unique in the weight stage (one group per doc), so
      // (score desc, doc_id) is a total order and boundedRanks'
      // row_number equals the window's
      sc.orderBy(col("score").desc, col("doc_id")).limit(DsirK)
        .transform(df => graft.ops.Wins.boundedRanks(df,
          Seq((col("score"), false), (col("doc_id"), true)),
          outRow = Some("smp_rank")))
        .select(col("smp_rank"), col("doc_id"), col("lang"),
          round(col("logw"), 6).as("logw"),
          round(col("gk"), 6).as("gumbel"), col("score"))
        .orderBy("smp_rank")
    },

    // Trained quality classifier, FIT (text.QualityClf scaladoc): the
    // fastText-style logistic model over hashed unigram+bigram buckets,
    // trained by full-batch GD with every iteration pinned — the oracle
    // unrolls one (margin, err, grad, weights) CTE block per round, so
    // the TRAINED WEIGHTS themselves are hash-checked, not just a
    // frozen scoring pass. Positive class = the heuristic battery's
    // top band (weak supervision — the GPT-3/CCNet reference-corpus
    // pattern); the classifier is the quality filter, DSIR the domain
    // filter. Engine: one aggregate action per GD round over the
    // cached doc-partitioned feature frame; model state ≤ B+1 doubles.
    Q("q_t_quality_clf_fit", Some(s"""
      WITH $qclfCtes
      SELECT CAST(bk AS INT) AS bk, round(w, 9) AS weight
      FROM qcw$QcIters ORDER BY bk""")) { (s, dir) =>
      val w = qclfWeights(s, dir)
      s.createDataFrame(w.toSeq.sortBy(_._1)).toDF("bk", "w")
        .select(col("bk").cast("int").as("bk"),
          round(col("w"), 9).as("weight"))
        .orderBy("bk")
    },

    // Trained quality classifier, per-doc scores under the fitted
    // weights: margin (exact-decimal dot product), probability, the
    // keep/drop prediction, and agreement with the training label.
    // The scoring pass is the serving-side cost model: broadcast B+1
    // weights into one map-shaped pass over the corpus.
    Q("q_t_quality_clf", Some(s"""
      WITH $qclfCtes,
      qcmf AS (
        SELECT f.doc_id,
               CAST(sum(CAST(f.x * w.w AS DECIMAL(38,18))) AS DOUBLE)
                 AS margin
        FROM qcf f JOIN qcw$QcIters w USING (bk) GROUP BY 1)
      SELECT m.doc_id, (y.y = 1.0) AS label,
             round(m.margin, 6) AS margin,
             round(1.0 / (1.0 + exp(-m.margin)), 6) AS prob,
             m.margin > 0 AS pred,
             (m.margin > 0) = (y.y = 1.0) AS correct
      FROM qcmf m JOIN qcy y USING (doc_id) ORDER BY doc_id""")) {
      (s, dir) =>
      graft.text.QualityClf.score(qclfFeatY(s, dir), qclfWeights(s, dir))
        .select(col("doc_id"), (col("y") === 1.0).as("label"),
          round(col("margin"), 6).as("margin"),
          round(col("prob"), 6).as("prob"), col("pred"),
          (col("pred") === (col("y") === 1.0)).as("correct"))
        .orderBy("doc_id")
    },

    // Trained quality classifier, training-fit report: confusion
    // counts and accuracy/precision/recall/F1 — the numbers a curation
    // run logs before promoting the model. Counts are exact integers;
    // the ratios are single IEEE divisions of exact counts (bit-exact
    // cross-engine), zero-guarded like the r10 distortion fix.
    Q("q_t_quality_clf_report", Some(s"""
      WITH $qclfCtes,
      qcmf AS (
        SELECT f.doc_id,
               CAST(sum(CAST(f.x * w.w AS DECIMAL(38,18))) AS DOUBLE)
                 AS margin
        FROM qcf f JOIN qcw$QcIters w USING (bk) GROUP BY 1),
      qcj AS (
        SELECT m.margin > 0 AS pred, y.y = 1.0 AS label
        FROM qcmf m JOIN qcy y USING (doc_id)),
      qcc AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos,
               CAST(sum(CASE WHEN pred THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pred_pos,
               CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END)
                 AS BIGINT) AS tp,
               CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct
        FROM qcj)
      SELECT n_docs, n_pos, n_pred_pos, tp, n_correct,
             round(CAST(n_correct AS DOUBLE) / n_docs, 9) AS accuracy,
             round(CASE WHEN n_pred_pos > 0
               THEN CAST(tp AS DOUBLE) / n_pred_pos END, 9) AS prec,
             round(CASE WHEN n_pos > 0
               THEN CAST(tp AS DOUBLE) / n_pos END, 9) AS rec
      FROM qcc""")) { (s, dir) =>
      graft.text.QualityClf.score(qclfFeatY(s, dir), qclfWeights(s, dir))
        .select(col("pred"), (col("y") === 1.0).as("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("pred"), 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when(col("pred") && col("label"), 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("n_docs"), col("n_pos"), col("n_pred_pos"),
          col("tp"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n_docs"), 9)
            .as("accuracy"),
          round(when(col("n_pred_pos") > 0,
            col("tp").cast("double") / col("n_pred_pos")), 9).as("prec"),
          round(when(col("n_pos") > 0,
            col("tp").cast("double") / col("n_pos")), 9).as("rec"))
    },

    // Trained quality classifier, HELD-OUT evaluation — the honest ML
    // report: the same pinned GD fitted ONLY on the train slice
    // (doc_id % 5 ≠ 0, the family's standing batch convention),
    // frozen, then scored on the 20% it never saw. train_acc vs
    // heldout_acc is the generalization gap a curation run reads
    // before promoting the model (q_t_quality_clf_report's accuracy
    // is train-resubstitution by design). Counts exact; ratios single
    // IEEE divisions of exact counts.
    Q("q_t_quality_clf_heldout", Some(s"""
      WITH $qclfHoCtes,
      qcmf AS (
        SELECT f.doc_id,
               CAST(sum(CAST(f.x * w.w AS DECIMAL(38,18))) AS DOUBLE)
                 AS margin
        FROM qcf f JOIN qcw$QcIters w USING (bk) GROUP BY 1),
      qcj AS (
        SELECT m.doc_id, m.doc_id % 5 = 0 AS ho,
               m.margin > 0 AS pred, y.y = 1.0 AS label
        FROM qcmf m JOIN qcy y USING (doc_id)),
      qcc AS (
        SELECT CAST(sum(CASE WHEN NOT ho THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_train,
               CAST(sum(CASE WHEN ho THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_heldout,
               CAST(sum(CASE WHEN NOT ho AND pred = label THEN 1
                 ELSE 0 END) AS BIGINT) AS tr_correct,
               CAST(sum(CASE WHEN ho AND pred = label THEN 1
                 ELSE 0 END) AS BIGINT) AS ho_correct,
               CAST(sum(CASE WHEN ho AND label THEN 1 ELSE 0 END)
                 AS BIGINT) AS ho_pos,
               CAST(sum(CASE WHEN ho AND pred THEN 1 ELSE 0 END)
                 AS BIGINT) AS ho_pred_pos,
               CAST(sum(CASE WHEN ho AND pred AND label THEN 1
                 ELSE 0 END) AS BIGINT) AS ho_tp
        FROM qcj)
      SELECT n_train, n_heldout,
             round(CAST(tr_correct AS DOUBLE) / n_train, 9)
               AS train_acc,
             round(CAST(ho_correct AS DOUBLE) / n_heldout, 9)
               AS heldout_acc,
             ho_pos, ho_pred_pos, ho_tp,
             round(CASE WHEN ho_pred_pos > 0
               THEN CAST(ho_tp AS DOUBLE) / ho_pred_pos END, 9)
               AS heldout_prec,
             round(CASE WHEN ho_pos > 0
               THEN CAST(ho_tp AS DOUBLE) / ho_pos END, 9)
               AS heldout_rec
      FROM qcc""")) { (s, dir) =>
      val scored = graft.text.QualityClf.score(qclfFeatY(s, dir),
          qclfHeldoutWeights(s, dir))
        .select((col("doc_id") % 5 === 0).as("ho"), col("pred"),
          (col("y") === 1.0).as("label"))
      scored.agg(
          sum(when(!col("ho"), 1L).otherwise(0L)).as("n_train"),
          sum(when(col("ho"), 1L).otherwise(0L)).as("n_heldout"),
          sum(when(!col("ho") && col("pred") === col("label"), 1L)
            .otherwise(0L)).as("tr_correct"),
          sum(when(col("ho") && col("pred") === col("label"), 1L)
            .otherwise(0L)).as("ho_correct"),
          sum(when(col("ho") && col("label"), 1L).otherwise(0L))
            .as("ho_pos"),
          sum(when(col("ho") && col("pred"), 1L).otherwise(0L))
            .as("ho_pred_pos"),
          sum(when(col("ho") && col("pred") && col("label"), 1L)
            .otherwise(0L)).as("ho_tp"))
        .select(col("n_train"), col("n_heldout"),
          round(col("tr_correct").cast("double") / col("n_train"), 9)
            .as("train_acc"),
          round(col("ho_correct").cast("double") / col("n_heldout"), 9)
            .as("heldout_acc"),
          col("ho_pos"), col("ho_pred_pos"), col("ho_tp"),
          round(when(col("ho_pred_pos") > 0,
            col("ho_tp").cast("double") / col("ho_pred_pos")), 9)
            .as("heldout_prec"),
          round(when(col("ho_pos") > 0,
            col("ho_tp").cast("double") / col("ho_pos")), 9)
            .as("heldout_rec"))
    },

    // Trained quality classifier, CALIBRATION report: predicted
    // probability deciles vs the empirical positive rate in each —
    // whether 0.8 means 80% (the curve a threshold-picker reads; a
    // full-batch logistic fit is usually well-calibrated on its own
    // training distribution, and this row MEASURES it instead of
    // assuming). Probabilities round-9 before bucketing and the
    // decimal mean, so the one libm call (exp) stays behind the
    // established seam; bucket = floor(10p) capped at 9; pos_rate is
    // an exact-count ratio.
    Q("q_t_quality_clf_calibration", Some(s"""
      WITH $qclfCtes,
      qcmf AS (
        SELECT f.doc_id,
               CAST(sum(CAST(f.x * w.w AS DECIMAL(38,18))) AS DOUBLE)
                 AS margin
        FROM qcf f JOIN qcw$QcIters w USING (bk) GROUP BY 1),
      qcp AS (
        SELECT m.doc_id,
               round(1.0 / (1.0 + exp(-m.margin)), 9) AS p,
               y.y = 1.0 AS label
        FROM qcmf m JOIN qcy y USING (doc_id))
      SELECT CAST(least(floor(p * 10), 9) AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE)
               / count(*), 9) AS mean_prob,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 9) AS pos_rate
      FROM qcp GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      graft.text.QualityClf.score(qclfFeatY(s, dir),
          qclfWeights(s, dir))
        .select(round(col("prob"), 9).as("p"),
          (col("y") === 1.0).as("label"))
        .withColumn("bucket",
          least(floor(col("p") * 10), lit(9)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("p").cast("decimal(38,18)")).cast("double")
            / count(lit(1)), 9).as("mean_prob"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
          round(sum(when(col("label"), 1.0).otherwise(0.0))
            / count(lit(1)), 9).as("pos_rate"))
        .orderBy("bucket")
    },

    // Calibration-DRIVEN operating point (QualityClf.chooseThreshold):
    // the decile curve the calibration row measures, CONSUMED — the
    // chosen probability threshold is the smallest decile boundary
    // whose achieved precision (vs the weak labels) meets the
    // quality_clf.target_precision knob (max recall at the requested
    // precision), falling back to the most conservative boundary when
    // none qualifies. One row: the threshold plus what it achieves.
    // Pipeline stage 6 and StreamingCuration gate on THIS value —
    // engine and oracle re-derive it from the same grid when the knob
    // or the model changes.
    Q("q_t_quality_clf_threshold", Some(s"""
      WITH $qclfCtes,
      ${graft.text.QualityClf.oracleThresholdCtes(QcIters, QcTarget)
        .trim}
      SELECT thr AS threshold, n_kept, n_tp, n_pos, prec, rec
      FROM qcpick""")) { (s, dir) =>
      val metrics = graft.text.QualityClf.thresholdMetrics(
        graft.text.QualityClf.score(qclfFeatY(s, dir),
          qclfWeights(s, dir)))
      val thr = qclfThreshold(s, dir)
      metrics.filter(col("thr") === thr)
        .select(col("thr").as("threshold"), col("n_kept"),
          col("n_tp"), col("n_pos"), col("prec"), col("rec"))
    }
  )

  // ---- DSIR (text.Dsir) live-settings views + shared stage + oracle

  private def DsirB = graft.Settings.dsir.nBuckets
  private def DsirLang = graft.Settings.dsir.targetLang
  private def DsirK = graft.Settings.dsir.sampleK

  /** Shared per-doc DSIR weight stage (raw logw — consumers round at
    * the emit boundary): the weights query and the resample query both
    * read it, so the gram stream and the model fit run once. */
  private[queries] def dsirWeights(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "dsir_logw") {
      graft.text.Dsir.logWeights(t(s, dir, "documents"), DsirB, DsirLang)
    }

  /** DuckDB CTE chain mirroring Dsir.features/bucketLogRatio/logWeights
    * at the live `dsir.*` settings — ends at `dlw(doc_id, lang,
    * n_grams, logw)` with logw unrounded (consumers round). */
  private[queries] def dsirCtes: String = s"""
      ddoc AS (
        SELECT doc_id, lang, regexp_split_to_array(text, '[[:space:]]+') AS t
        FROM documents),
      dg AS (
        SELECT doc_id, lang, unnest(t) AS g FROM ddoc
        UNION ALL
        SELECT doc_id, lang, unnest(list_transform(range(len(t) - 1),
          i -> t[i+1] || ' ' || t[i+2])) AS g FROM ddoc),
      fb AS (
        SELECT doc_id, lang, ${hsql("'dsir_' || g")} % $DsirB AS bk
        FROM dg),
      drc AS (SELECT bk, count(*) AS rc FROM fb GROUP BY 1),
      dtc AS (SELECT bk, count(*) AS tc FROM fb
              WHERE lang = '$DsirLang' GROUP BY 1),
      drn AS (SELECT CAST(sum(rc) AS DOUBLE) AS rn FROM drc),
      dtn AS (SELECT CAST(sum(tc) AS DOUBLE) AS tn FROM dtc),
      dlr AS (
        SELECT drc.bk,
               ln((coalesce(dtc.tc, 0) + 1.0) / (dtn.tn + $DsirB))
                 - ln((drc.rc + 1.0) / (drn.rn + $DsirB)) AS diff
        FROM drc LEFT JOIN dtc ON drc.bk = dtc.bk
        CROSS JOIN drn CROSS JOIN dtn),
      dbk AS (SELECT doc_id, lang, bk, count(*) AS nb
              FROM fb GROUP BY 1, 2, 3),
      dlw AS (
        SELECT d.doc_id, d.lang,
               CAST(sum(d.nb) AS BIGINT) AS n_grams,
               sum(d.nb * lr.diff) AS logw
        FROM dbk d JOIN dlr lr ON d.bk = lr.bk
        GROUP BY 1, 2)"""

  // ---- Trained quality classifier (text.QualityClf) live settings,
  // shared stage, fitted-model memo, and oracle CTE chain

  private[queries] def QcB = graft.Settings.qualityClf.nBuckets
  private def QcLr = graft.Settings.qualityClf.lr
  private[queries] def QcIters = graft.Settings.qualityClf.iters
  private def QcThresh = graft.Settings.qualityClf.posThreshold
  private[queries] def QcTarget =
    graft.Settings.qualityClf.targetPrecision

  /** Shared labeled-feature stage `(doc_id, y, bk, x)`. No
    * pre-partitioning: a localCheckpoint leaf does not carry hash
    * partitioning into the GD window's required distribution (plan-
    * audited), so each round pays its own doc_id exchange either way
    * — pre-partitioning here would only add a dead shuffle to the
    * stage build. */
  private[queries] def qclfFeatY(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "qclf_feat") {
      val docs = t(s, dir, "documents")
      graft.text.QualityClf.features(docs, QcB)
        .join(graft.text.QualityClf.labels(docs, QcThresh), "doc_id")
        .select("doc_id", "y", "bk", "x")
    }

  /** Fitted weights, memoized per sf dir (a classifier is trained once
    * and shipped to every consumer — the bpeLearned contract). */
  private[queries] def qclfWeights(s: SparkSession, dir: String)
      : graft.text.QualityClf.Weights =
    Stage.memo(s, dir, "qclf_weights") {
      val featY = qclfFeatY(s, dir)
      // one bias row per labeled doc → the GD normalizer, off the
      // cached stage (no second pass over documents)
      val n = featY.filter(col("bk") === -1L).count().toDouble
      graft.text.QualityClf.fit(featY, QcB, QcLr, QcIters, n)
    }

  private[queries] def qclfCtes: String = graft.text.QualityClf.oracleSql(
    hsql, QcB, QcLr, QcIters, QcThresh)

  /** Calibration-driven operating threshold, memoized per sf dir (the
    * qclfWeights contract: chosen once, shipped to every consumer —
    * pipeline stage 6, the threshold report, streaming curation).
    * Driver cost: one 10-row collect over the scored stage. */
  private[queries] def qclfThreshold(s: SparkSession, dir: String)
      : Double =
    Stage.memo(s, dir, "qclf_threshold") {
      val rows = graft.text.QualityClf.thresholdMetrics(
          graft.text.QualityClf.score(qclfFeatY(s, dir),
            qclfWeights(s, dir)))
        .select("thr", "prec").collect()
        .map(r => r.getDouble(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toSeq
      graft.text.QualityClf.chooseThreshold(rows, QcTarget)
    }

  /** Held-out-evaluation model: the same pinned GD fitted ONLY on the
    * train slice (doc_id % 5 ≠ 0 — the family's standing batch
    * convention, the bpeIncr/idxStarEdges split), frozen, scored on
    * everything. */
  private[queries] def qclfHeldoutWeights(s: SparkSession, dir: String)
      : graft.text.QualityClf.Weights =
    Stage.memo(s, dir, "qclf_heldout_weights") {
      val train = qclfFeatY(s, dir).filter(col("doc_id") % 5 =!= 0)
      val n = train.filter(col("bk") === -1L).count().toDouble
      graft.text.QualityClf.fit(train, QcB, QcLr, QcIters, n)
    }

  private def qclfHoCtes: String = graft.text.QualityClf.oracleSql(
    hsql, QcB, QcLr, QcIters, QcThresh, fitPred = "doc_id % 5 <> 0")
}
