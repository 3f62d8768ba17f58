package graft.queries

import graft.ops.Ckpt._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.text.{Dedup, Similarity, TextOps}

/** LLM-training-data-pipeline operators over `documents` and `embeddings`:
  * text analysis (tokens, quality, language-ID, fingerprints), dedup
  * (exact, n-gram Jaccard, MinHash+LSH, SimHash), and similarity search
  * (brute-force cosine top-k, LSH-bucketed ANN). All signatures use
  * portable md5-derived hashes, so every operator — including MinHash and
  * SimHash — has an exact SQL oracle.
  */
object TextQueries extends QueryModule {

  // ---- live Settings views (graft.Settings `ann:` / `dedup:` blocks):
  // defs, not vals, so an override re-interpolates BOTH the engine
  // plans and the oracle SQL below (the registry-as-def desync-proof
  // pattern the hardening/calibration families use). The memoized
  // fitted artifacts (codebooks, stages) live in Stage.memo until the
  // next Stage.clear() — override before first use or clear after.
  private[queries] def AnnQ = graft.Settings.ann.nQueries
  private[queries] def AnnK = graft.Settings.ann.topK
  private[queries] def PqM = graft.Settings.ann.pqM
  private[queries] def PqSubK = graft.Settings.ann.pqSubK
  private[queries] def PqSubDim = graft.Settings.ann.pqSubDim
  private[queries] def IvfNCells = graft.Settings.ann.ivfNCells
  private[queries] def IvfNProbe = graft.Settings.ann.ivfNProbe
  private[queries] def CoarseIters = graft.Settings.ann.ivfCoarseIters
  private[queries] def IncrBase = graft.Settings.ann.incrBase
  private[queries] def JaccN = graft.Settings.dedup.jaccardNgramN
  private[queries] def JaccMaxFreq = graft.Settings.dedup.jaccardMaxFreq
  private[queries] def JaccMinSim = graft.Settings.dedup.jaccardMinSim
  private[queries] def SimhashRadius = graft.Settings.dedup.simhashRadius
  private[queries] def SubstrK = graft.Settings.dedup.substrK

  /** MinHash-LSH (bands, rowsPerBand), DERIVED from the live
    * `dedup.jaccard.min_jaccard` threshold via the S-curve
    * (Dedup.deriveBanding) — every banded consumer (the pair stage,
    * the component map, the incremental classifier) and every oracle
    * band CTE reads this ONE layout, so an override of the threshold
    * re-bands engine and oracle in lockstep. At the default 0.04
    * threshold this is (8, 1); the r8-r9 fixed (4, 2) layout was an
    * s ≈ 0.5 tuning. */
  private[queries] def LshLayout: (Int, Int) =
    Dedup.deriveBanding(TextOps.MinHashParams.size, JaccMinSim)

  /** Component-edge verification bar over the banded candidates (the
    * recall/precision split: banding recalls, est_sim verifies). */
  private[queries] def CompMinEst = graft.Settings.dedup.componentMinEst

  private[queries] def WinnowK = graft.Settings.dedup.winnowK
  private[queries] def WinnowW = graft.Settings.dedup.winnowWindow
  /** DuckDB CTE chain mirroring [[pplBucketed]]'s inputs (bigram-LM
    * per-doc perplexity + per-lang ceil-rank tercile cuts) — ends at
    * `pb_d(doc_id, lang, n_bigrams, ppl)` and `pb_cut(lang, cut1,
    * cut2)`; consumers apply [[pplBucketCase]]. Shared by the
    * q_t_ppl_buckets oracle and the dedup pipeline's quality stage. */
  private[queries] def pplCtes: String = s"""
      pb_b AS (
        SELECT doc_id, lang,
               regexp_split_to_array(text, '[[:space:]]+') AS t
        FROM documents),
      pb_tk AS (SELECT doc_id, unnest(t) AS tok FROM pb_b),
      pb_c1 AS (SELECT tok, count(*) AS c1 FROM pb_tk GROUP BY 1),
      pb_voc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM pb_c1),
      pb_bg AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(len(t) - 1), i -> t[i+1]))
                 AS w1,
               unnest(list_transform(range(len(t) - 1),
                 i -> t[i+1] || ' ' || t[i+2])) AS bg
        FROM pb_b),
      pb_c2 AS (SELECT bg, count(*) AS c2 FROM pb_bg GROUP BY 1),
      pb_sc AS (
        SELECT g.doc_id, g.lang,
               ln((c2.c2 + 1.0) / (c1.c1 + voc.v)) AS lp
        FROM pb_bg g JOIN pb_c2 c2 ON g.bg = c2.bg
                     JOIN pb_c1 c1 ON g.w1 = c1.tok
        CROSS JOIN pb_voc voc),
      pb_d AS (
        SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(exp(-avg(lp)), 6) AS ppl
        FROM pb_sc GROUP BY 1, 2),
      pb_r AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM pb_d),
      pb_cut AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil(${1.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut1,
               max(CASE WHEN rn = CAST(ceil(${2.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut2
        FROM pb_r GROUP BY 1)"""

  /** The bucket CASE over `pb_d d JOIN pb_cut c` aliases. */
  private[queries] def pplBucketCase: String = """
      CASE WHEN d.ppl <= c.cut1 THEN 'head'
           WHEN d.ppl <= c.cut2 THEN 'middle'
           ELSE 'tail' END""".trim

  /** Per-doc perplexity buckets `(doc_id, lang, n_bigrams, ppl,
    * ppl_bucket)` over the shared bigram-LM stage — read by the
    * q_t_ppl_buckets report AND the dedup pipeline's quality gate, so
    * the two can never drift. */
  private[queries] def pplBucketed(s: SparkSession, dir: String)
      : DataFrame = {
    val d = bigramLp(s, dir).select(col("doc_id"), col("lang"),
      col("n_bigrams"), round(exp(-col("avg_lp")), 6).as("ppl"))
    val cuts = d.groupBy("lang").agg(
      percentile_approx(col("ppl"), array(lit(1.0 / 3), lit(2.0 / 3)),
        lit(1000000)).as("qs"))
    d.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("ppl"),
        when(col("ppl") <= element_at(col("qs"), 1), "head")
          .when(col("ppl") <= element_at(col("qs"), 2), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  // --- grams-once: ONE tokenize pass + ONE count shuffle per n-gram
  // order feed every LM scorer (guide §2.4/§5 — the add-one, KN
  // bigram, KN trigram, every pruned rung and Stupid Backoff each
  // re-ran the corpus split + their own count shuffles; the oracle
  // CTE chains are byte-unchanged and every count value identical,
  // so all LM rows stay hash-green) ---

  /** Tokenized corpus (doc_id, lang, t) — the ONE split pass all LM
    * gram streams derive from. */
  private[queries] def lmToks(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "lm_toks") {
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.text.TextOps.tokens(col("text")).as("t"))
    }

  /** The bigram/trigram OCCURRENCE streams — derived lazily from the
    * checkpointed token arrays (map-only explodes; the expensive
    * pieces are the split pass above and the count shuffles below). */
  private[queries] def lmBg(s: SparkSession, dir: String): DataFrame =
    graft.text.KneserNey.bigramStreamToks(lmToks(s, dir))
  private[queries] def lmTg(s: SparkSession, dir: String): DataFrame =
    graft.text.KneserNey.trigramStreamToks(lmToks(s, dir))

  /** Corpus bigram TYPE counts (w1, w2, c2) — feeds the KN bigram
    * model's count tables AND both trigram models' bottom-order
    * continuation tables. */
  private[queries] def lmC2(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "lm_c2") {
      lmBg(s, dir).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    }

  /** Corpus trigram TYPE counts (w1, w2, w3, c3) — feeds the KN
    * trigram scorer, every pruned rung and the pruning-frontier size
    * row. */
  private[queries] def lmC3(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "lm_c3") {
      lmTg(s, dir).groupBy("w1", "w2", "w3")
        .agg(count(lit(1)).as("c3"))
    }

  /** Live KN discount knob + shared Kneser-Ney scoring stage — read
    * by the KN report (q_t_kn_lp) and the KN perplexity bucketer
    * (q_t_ppl_buckets_kn) so the count shuffles run once. */
  private[queries] def KnDiscount = graft.Settings.lm.knDiscount
  private[queries] def knLp(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "kn_lp") {
      graft.text.KneserNey.scoreBigramsFrom(lmBg(s, dir), lmC2(s, dir),
        KnDiscount)
    }

  /** Per-doc KN perplexity buckets `(doc_id, lang, n_bigrams, ppl,
    * ppl_bucket)` over the shared KN stage (per-language ceil-rank
    * terciles — the pplBucketed contract applied to the KN scorer) —
    * read by the KN bucket report, BOTH agreement matrices, and the
    * curation gate, so the four can never drift. */
  private[queries] def knBucketed(s: SparkSession, dir: String)
      : DataFrame = {
    val d = knLp(s, dir).select(col("doc_id"), col("lang"),
      col("n_bigrams"), round(exp(-col("avg_lp")), 6).as("ppl"))
    val cuts = d.groupBy("lang").agg(
      percentile_approx(col("ppl"), array(lit(1.0 / 3), lit(2.0 / 3)),
        lit(1000000)).as("qs"))
    d.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("ppl"),
        when(col("ppl") <= element_at(col("qs"), 1), "head")
          .when(col("ppl") <= element_at(col("qs"), 2), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Shared interpolated-KN TRIGRAM scoring stage (the KenLM order
    * family above the bigram rung) — read by the kn3 report and the
    * bigram-vs-trigram bucket-movement row. */
  private[queries] def kn3Lp(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "kn3_lp") {
      graft.text.KneserNey.scoreTrigramsFrom(lmTg(s, dir),
        lmC3(s, dir), lmC2(s, dir), KnDiscount)
    }

  /** Pruned-table KN trigram scoring at count threshold θ (KenLM
    * filter — KneserNey.scoreTrigramsPruned), one stage per frontier
    * rung. */
  private[queries] def KnPruneRungs = graft.Settings.lm.knPruneRungs
  private[queries] def kn3PrunedLp(s: SparkSession, dir: String,
      theta: Long): DataFrame =
    Stage.cached(s, dir, s"kn3_pruned_$theta") {
      graft.text.KneserNey.scoreTrigramsPrunedFrom(lmTg(s, dir),
        lmC3(s, dir), lmC2(s, dir), KnDiscount, theta)
    }

  /** The trigram TYPE table — sized by the pruning frontier row (the
    * shared grams-once count stage IS the table). */
  private[queries] def kn3Counts(s: SparkSession, dir: String)
      : DataFrame = lmC3(s, dir)

  /** Live Stupid-Backoff knobs + shared scoring stage: counts from
    * the standing index slice (doc_id % 5 ≠ 0, the family's batch
    * convention), scores over the incoming slice — read by the SB
    * report (q_t_sb_lp) and the backoff-mix row
    * (q_t_sb_backoff_mix) so the three count shuffles run once. */
  private[queries] def SbAlpha = graft.Settings.lm.sbAlpha
  private[queries] def SbUnk = graft.Settings.lm.sbUnk
  private[queries] def sbLp(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "sb_lp") {
      val tk = lmToks(s, dir)
      graft.text.StupidBackoff.scoreTrigramsToks(
        tk.filter(col("doc_id") % 5 =!= 0),
        tk.filter(col("doc_id") % 5 === 0), SbAlpha, SbUnk)
    }
  private[queries] def sbCtes: String =
    graft.text.StupidBackoff.oracleCtes(SbAlpha, SbUnk,
      "doc_id % 5 <> 0", "doc_id % 5 = 0")

  /** Shared bigram-LM per-doc scoring stage `(doc_id, lang, n_bigrams,
    * avg_lp, min_lp)` with RAW doubles (consumers round at the emit
    * boundary) — read by the bigram report (q_t_bigram_lp) and the
    * CCNet-style perplexity bucketer (q_t_ppl_buckets) so the two
    * count shuffles run once. */
  private[queries] def bigramLp(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "bigram_lp") {
      val tk = lmToks(s, dir)
        .select(col("doc_id"), explode(col("t")).as("tok"))
      val c1 = tk.groupBy("tok").agg(count(lit(1)).as("c1"))
      val voc = c1.agg(count(lit(1)).cast("double").as("v"))
      // the "w1 w2" bigram key derives from the shared gram stream
      // (tokens are whitespace-split with no spaces inside, so
      // concat_ws of the pair is the exact string the retired
      // token-array explode built)
      val bg = lmBg(s, dir).select(col("doc_id"), col("lang"),
        col("w1"), concat_ws(" ", col("w1"), col("w2")).as("bg"))
      // a bg string determines its (w1, w2) pair, so the shared
      // (w1, w2) count stage IS the (bg, w1) count table — carrying
      // w1 lets the c1 join run at TYPE level and the corpus-sized
      // occurrence stream rekey ONCE against the scored type table
      // (the KneserNey.scoreBigrams restructure; bit-identical lp)
      val c2 = lmC2(s, dir).select(
        concat_ws(" ", col("w1"), col("w2")).as("bg"), col("w1"),
        col("c2"))
      val lp = log((col("c2") + 1.0) / (col("c1") + col("v")))
      val typeLp = c2.join(c1, col("w1") === col("tok"))
        .crossJoin(broadcast(voc))
        .select(col("bg"), lp.as("lp"))
      bg.join(typeLp, "bg")
        .groupBy("doc_id", "lang").agg(
          count(lit(1)).as("n_bigrams"),
          avg(col("lp")).as("avg_lp"),
          min(col("lp")).as("min_lp"))
    }

  private[queries] def BpeMerges = graft.Settings.bpe.nMerges

  /** Learned BPE artifacts (merge table + final word → symbols
    * vocabulary), memoized per sf dir like the fitted ANN codebooks —
    * a tokenizer is trained once and shipped to every consumer. */
  private[queries] def bpeLearned(s: SparkSession, dir: String)
      : (Seq[graft.text.Bpe.Merge], DataFrame) =
    Stage.memo(s, dir, "bpe_learned")(
      graft.text.Bpe.learn(t(s, dir, "documents"), BpeMerges))

  /** The word → subword-pieces table as a Stage-managed frame (it is
    * already localCheckpoint'd by the learn loop; registering it under
    * Stage lets warmup build it and Stage.clear release it). */
  private[queries] def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "bpe_vocab") { bpeLearned(s, dir)._2 }

  /** The byte-level corpus: the ASCII documents text under the
    * deterministic multilingual derivation (Bpe.multiText — vowels of
    * a prefix become 2/3/4-byte UTF-8 code points), so the byte
    * family actually exercises multi-byte input. Every original
    * ASCII word remains present (the derivation APPENDS the mutated
    * prefix). */
  private[queries] def byteDocs(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      graft.text.Bpe.multiText(col("text")).as("text"))

  /** Byte-level BPE artifacts (GPT-2 alphabet — Bpe.learnBytes over
    * real UTF-8 bytes of [[byteDocs]]), memoized per sf dir like the
    * char-level fit. */
  private[queries] def bpeBytesLearned(s: SparkSession, dir: String)
      : (Seq[graft.text.Bpe.Merge], DataFrame) =
    Stage.memo(s, dir, "bpe_bytes_learned")(
      graft.text.Bpe.learnBytes(byteDocs(s, dir), BpeMerges))

  private[queries] def bpeBytesVocab(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "bpe_bytes_vocab") { bpeBytesLearned(s, dir)._2 }

  // ---- Unigram-LM (SentencePiece) tokenizer: live knobs, memoized
  // fit, oracle chain

  private[queries] def UniSeed = graft.Settings.unigram.seedMulti
  private[queries] def UniL = graft.Settings.unigram.maxPieceLen
  private[queries] def UniRounds = graft.Settings.unigram.emRounds
  private[queries] def UniKeep = graft.Settings.unigram.pruneKeep
  private[queries] def UniUnk = graft.Settings.unigram.unkLogprob
  private[queries] def UniMaxW = graft.Settings.unigram.maxWordLen

  /** Fitted unigram model, memoized per sf dir (the bpeLearned
    * contract — trained once, shipped to every consumer). */
  private[queries] def uniLearned(s: SparkSession, dir: String)
      : graft.text.Unigram.Fit =
    Stage.memo(s, dir, "uni_learned")(
      graft.text.Unigram.learn(t(s, dir, "documents"), UniSeed, UniL,
        UniRounds, UniKeep, UniUnk, UniMaxW))

  private[queries] def unigramCtes: String =
    graft.text.Unigram.oracleCtes(UniSeed, UniL, UniRounds, UniKeep,
      UniUnk, UniMaxW)

  /** Index-slice unigram fit (doc_id % 5 ≠ 0 — the family's standing
    * batch convention) — the frozen artifact the incremental encode
    * serves from. */
  private[queries] def uniIncrLearned(s: SparkSession, dir: String)
      : graft.text.Unigram.Fit =
    Stage.memo(s, dir, "uni_incr_learned")(
      graft.text.Unigram.learn(
        t(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
        UniSeed, UniL, UniRounds, UniKeep, UniUnk, UniMaxW))

  // ---- WordPiece tokenizer: live knobs, memoized fit, oracle chain

  private[queries] def WpMerges = graft.Settings.wordpiece.nMerges
  private[queries] def WpMaxPiece = graft.Settings.wordpiece.maxPieceLen
  private[queries] def WpMaxW = graft.Settings.wordpiece.maxWordLen

  /** Fitted WordPiece model, memoized per sf dir (the bpeLearned
    * contract — trained once, shipped to every consumer). */
  private[queries] def wpLearned(s: SparkSession, dir: String)
      : graft.text.WordPiece.Fit =
    Stage.memo(s, dir, "wp_learned")(
      graft.text.WordPiece.learn(t(s, dir, "documents"), WpMerges,
        WpMaxPiece, WpMaxW))

  /** The word → greedy-pieces table as a Stage-managed frame (the
    * bpeVocab contract: warmup builds it, Stage.clear releases it). */
  private[queries] def wpSegs(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "wp_segs") { wpLearned(s, dir).wordSegs }

  private[queries] def wordpieceCtes: String =
    graft.text.WordPiece.oracleCtes(WpMerges, WpMaxPiece, WpMaxW)

  /** Index-slice WordPiece fit (doc_id % 5 ≠ 0, the family's standing
    * batch convention) — the frozen artifact the incremental encode
    * serves from. */
  private[queries] def wpIncrLearned(s: SparkSession, dir: String)
      : graft.text.WordPiece.Fit =
    Stage.memo(s, dir, "wp_incr_learned")(
      graft.text.WordPiece.learn(
        t(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
        WpMerges, WpMaxPiece, WpMaxW))

  /** The batch corpus's word → greedy-pieces table under the FROZEN
    * index-learned vocabulary. The greedy-unroll bound is enforced on
    * the BATCH slice too (the learn require only sees the index
    * slice): a longer batch word would fold to completion on the
    * engine but walk off the oracle's fixed-depth chain — the engine
    * must refuse, not silently diverge (the q_t_unigram_encode_incr
    * contract). */
  private[queries] def wpIncrSegs(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "wp_incr_segs") {
      val batchWords = graft.text.Bpe.wordTable(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0))
      val maxLen = batchWords.agg(max(length(col("word"))))
        .head().getInt(0)
      require(maxLen <= WpMaxW,
        s"batch word length $maxLen exceeds wordpiece.max_word_len")
      graft.text.WordPiece.segmentWords(batchWords,
        wpIncrLearned(s, dir).vocab, WpMaxPiece)
    }

  private[queries] def BpeBatchRounds = graft.Settings.bpe.batchRounds
  private[queries] def BpeBatchM = graft.Settings.bpe.batchM

  /** Batched-learning artifacts (Bpe.learnBatched at the live
    * `bpe.batch_*` knobs), memoized like [[bpeLearned]]. */
  private[queries] def bpeBatchLearned(s: SparkSession, dir: String)
      : (Seq[graft.text.Bpe.BatchMerge], DataFrame) =
    Stage.memo(s, dir, "bpe_batch_learned")(
      graft.text.Bpe.learnBatched(t(s, dir, "documents"),
        BpeBatchRounds, BpeBatchM))

  /** INCREMENTAL tokenizer state: merges learned only on the standing
    * index corpus (doc_id % 5 ≠ 0 — the family's batch convention), the
    * frozen artifact new deliveries are encoded against. */
  private[queries] def bpeIncrLearned(s: SparkSession, dir: String)
      : (Seq[graft.text.Bpe.Merge], DataFrame) =
    Stage.memo(s, dir, "bpe_incr_learned")(
      graft.text.Bpe.learn(
        t(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
        BpeMerges))
  private[queries] def bpeIncrVocab(s: SparkSession, dir: String)
      : DataFrame =
    Stage.cached(s, dir, "bpe_incr_vocab") { bpeIncrLearned(s, dir)._2 }

  /** The batch corpus's word → pieces table under the FROZEN
    * index-learned merges (the apply loop is iterative — stage it so
    * the per-rank checkpoints run once per session). */
  private[queries] def batchAppliedVocab(s: SparkSession, dir: String,
      merges: Seq[graft.text.Bpe.Merge]): DataFrame =
    Stage.cached(s, dir, "bpe_batch_applied") {
      graft.text.Bpe.applyMerges(
        graft.text.Bpe.wordTable(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0)),
        merges)
    }

  /** DuckDB shingle CTE mirroring TextOps.shingles(text, n) at the
    * live `dedup.jaccard.ngram_n`. */
  private[queries] def shingleCte = {
    val n = JaccN
    val joined = (1 to n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - ${n - 1}),
        i -> $joined))) AS sh
      FROM (SELECT doc_id, regexp_split_to_array(text, '[[:space:]]+') AS t FROM documents))"""
  }

  /** Portable 60-bit md5 hash mod prime, SQL side (the shared
    * TextOps twin — one recipe, no drift). */
  private[queries] def hsql(e: String) = TextOps.hsqlMod(e)

  /** Shared banded-LSH CTE prefix (mirrors Similarity.lshBucketBand at
    * bits=8, nBands=2): per-dim explode → hyperplane projections →
    * per-band sign buckets → bucket occupancy. ONE definition so the
    * ann-pairs / semantic-dedup / bucket-stats oracles can never drift
    * from each other. */
  private[queries] def annBucketCtes: String = s"""
      ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      proj AS (
        SELECT vec_id, j // 8 AS band_idx, j % 8 AS bit,
               sum(x * (CASE WHEN
          ${hsql("'hp_' || j || '_' || i")} % 2 = 0
          THEN 1.0 ELSE -1.0 END)) AS p
        FROM ex, range(16) rj(j) GROUP BY 1, 2, 3),
      buckets AS (
        SELECT vec_id, band_idx, CAST(sum(CASE WHEN p > 0
          THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY 1, 2),
      bsz AS (SELECT band_idx, bucket, count(*) AS bn
              FROM buckets GROUP BY 1, 2)"""

  /** …plus hot-bucket cap → banded candidate equi-join → per-pair dots
    * (mirrors Similarity.annSelfJoinPairs at maxBucket=256). */
  private[queries] def annPairCtes: String = s"""$annBucketCtes,
      norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ex GROUP BY 1),
      bk AS (SELECT b.* FROM buckets b JOIN bsz USING (band_idx, bucket)
             WHERE bsz.bn <= 256),
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b
          ON a.band_idx = b.band_idx AND a.bucket = b.bucket
          AND a.vec_id < b.vec_id),
      dots AS (
        SELECT p.id_a, p.id_b, sum(ae.x * be.x) AS dot
        FROM pairs p JOIN ex ae ON ae.vec_id = p.id_a
                     JOIN ex be ON be.vec_id = p.id_b AND ae.i = be.i
        GROUP BY 1, 2)"""

  private[queries] val stop = "('the', 'a', 'of', 'and', 'to', 'in')"

  /** Shared ANN candidate-pair stage: the banded sign-LSH self-join at
    * maxBucket=256 / bits=8 / nBands=2 with NO similarity floor — built
    * once, consumed by q_e_ann_pairs (≥ 0 filter), q_e_sim_hist (full
    * range), and q_e_semantic_dedup (≥ τ filter). simFloor is a final
    * filter in Similarity.annSelfJoinPairs, so filtering the floor-free
    * superset is exactly equivalent. One row per candidate pair —
    * bounded by Σbucket², which the hot-bucket cap keeps linear. */
  private[queries] def annPairs(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "ann_pairs") {
      Similarity.annSelfJoinPairs(t(s, dir, "embeddings"),
        maxBucket = 256, simFloor = -1.0, bits = 8, nBands = 2)
    }

  /** Semantic-dedup cosine threshold (live `dedup.semantic.min_cos`,
    * interpolated into both engine plans and oracle `sem` CTEs). */
  private[queries] def SemMinCos = graft.Settings.dedup.semanticMinCos

  /** Shared semantic-dedup component map (ANN pairs ≥ the live τ →
    * min-label connected components over the embedding space) — read
    * by q_e_semantic_dedup and the end-to-end dedup pipeline so the
    * iterative CC runs once. */
  private[queries] def semComps(s: SparkSession, dir: String): DataFrame =
    Stage.cached(s, dir, "semantic_components") {
      val emb = t(s, dir, "embeddings")
      val pairs = annPairs(s, dir).filter(col("cos_sim") >= SemMinCos)
        .select(col("id_a").as("d1"), col("id_b").as("d2"))
      Dedup.connectedComponents(
          emb.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("comp_id"),
          col("cluster_size"), col("is_canonical"))
    }

  def all: Seq[Q] = Seq(

    // Token counting (whitespace + distinct + long-token regex-ish count)
    Q("q_t_tokens", Some("""
      SELECT doc_id,
             len(regexp_split_to_array(text, '[[:space:]]+')) AS n_tokens,
             len(list_distinct(regexp_split_to_array(text, '[[:space:]]+'))) AS n_distinct,
             len(list_filter(regexp_split_to_array(text, '[[:space:]]+'), x -> len(x) >= 5))
               AS n_long,
             length(text) AS n_chars_calc
      FROM documents ORDER BY doc_id""")) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          size(filter(toks, x => length(x) >= 5)).as("n_long"),
          length(col("text")).as("n_chars_calc"))
        .orderBy("doc_id")
    },



    // BPE-ish token accounting: GPT-2-style pre-tokenizer classes
    // (letter runs / digit runs / non-space-non-alnum runs) via
    // regexp_extract_all, plus the ceil(len/4) subword estimate the
    // packing heuristics use before a real tokenizer pass. Map-only
    // column program; the regex classes are RE2/Java-portable.
    Q("q_t_tokens_bpe", Some("""
      SELECT doc_id,
             len(regexp_extract_all(text, '[a-zA-Z]+')) AS n_word_runs,
             len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]+'))
               AS n_other_runs,
             CAST(list_sum(list_transform(
               regexp_extract_all(text, '[a-zA-Z0-9]+'),
               x -> CAST(ceil(len(x) / 4.0) AS BIGINT))) AS BIGINT)
               AS est_subword_tokens
      FROM documents ORDER BY doc_id""")) { (s, dir) =>
      def runs(pat: String) =
        regexp_extract_all(col("text"), lit(pat), lit(0))
      t(s, dir, "documents").select(col("doc_id"),
          size(runs("[a-zA-Z]+")).as("n_word_runs"),
          size(runs("[0-9]+")).as("n_digit_runs"),
          size(runs("[^a-zA-Z0-9 ]+")).as("n_other_runs"),
          aggregate(
            transform(runs("[a-zA-Z0-9]+"),
              x => ceil(length(x) / 4.0).cast("long")),
            lit(0L), (acc, x) => acc + x).as("est_subword_tokens"))
        .orderBy("doc_id")
    },



    // REAL BPE, learn phase (Sennrich 2016): V rounds of distributed
    // adjacent-pair counting over the (word, freq) vocabulary — one
    // pair-keyed aggregation per round, deterministic (count desc,
    // pair asc) winner, map-only non-overlapping merge apply. The
    // oracle unrolls one CTE block per round (island-parity
    // formulation of the same left-to-right apply rule), so the whole
    // iterative learn is hash-checked, fit included.
    Q("q_t_bpe_learn", Some(s"""
      WITH ${graft.text.Bpe.oracleCtes(BpeMerges)}
      SELECT merge_rank, a AS left_sym, b AS right_sym,
             cnt AS pair_count
      FROM bmerges ORDER BY merge_rank""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      bpeLearned(s, dir)._1
        .map(m => (m.rank, m.left, m.right, m.count))
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
        .orderBy("merge_rank")
    },



    // BATCHED BPE learning (Bpe.learnBatched scaladoc): the top-m
    // non-conflicting-merges-per-round production mitigation of
    // learn()'s 2-driver-actions-per-merge round count — each round
    // ranks pair counts ONCE, admits every top-window candidate that
    // conflicts with no higher-ranked one under the EXACT test
    // (merged-symbol creation OR same-word raw matches at |i−j| ≤ 1;
    // single anti-join rule, deterministic on both engines; admitted
    // merges' pre-round counts are their true counts at apply time),
    // and applies the batch in fixed rank order. The oracle unrolls rounds ×
    // fixed apply slots with a sentinel no-op merge filling empty
    // slots, so the CTE shape never depends on how many were admitted.
    Q("q_t_bpe_learn_batched", Some(s"""
      WITH ${graft.text.Bpe.oracleBatchedCtes(BpeBatchRounds,
        BpeBatchM)}
      SELECT round, CAST(slot AS INT) AS slot, a AS left_sym,
             b AS right_sym, cnt AS pair_count
      FROM bbmerges ORDER BY round, slot""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      bpeBatchLearned(s, dir)._1
        .map(m => (m.round, m.slot, m.left, m.right, m.count))
        .toDF("round", "slot", "left_sym", "right_sym", "pair_count")
        .orderBy("round", "slot")
    },



    // REAL BPE, encode phase: per-doc subword token accounting by
    // joining corpus tokens against the learned word → pieces table —
    // the precomputed-encoding cache real tokenizers serve frequent
    // words from (megabytes of vocab vs a streaming corpus: the join
    // broadcasts). Replaces the ceil(len/4) estimate as the packing
    // family's budget source.
    Q("q_t_bpe_encode", Some(s"""
      WITH ${graft.text.Bpe.oracleCtes(BpeMerges)},
      tk AS (
        SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
        FROM documents),
      enc AS (
        SELECT t.doc_id, len(w.s) AS np
        FROM tk t JOIN bw_$BpeMerges w ON t.word = w.word)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_bpe_tokens,
             round(CAST(sum(np) AS DOUBLE) / count(*), 9)
               AS pieces_per_word
      FROM enc GROUP BY 1 ORDER BY doc_id""")) { (s, dir) =>
      val tok = t(s, dir, "documents").select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val vocab = bpeVocab(s, dir)
        .select(col("word"), size(col("syms")).as("np"))
      tok.join(vocab, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_bpe_tokens"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("pieces_per_word"))
        .orderBy("doc_id")
    },



    // BYTE-LEVEL BPE, learn phase (the GPT-2 production encoder —
    // Radford et al. 2019: Sennrich's algorithm over REAL UTF-8
    // BYTES under the full 256-entry bytes_to_unicode remap, so the
    // base vocabulary covers EVERY input and no [UNK] path exists by
    // construction — the fourth tokenizer family arm). Same merge
    // loop, oracle-unrolled per round; the remap table itself is a
    // CTE the oracle derives from the same rank rule the engine
    // compiles, and both engines read bytes through the same
    // hex(encode(word)) seam. The corpus is the multilingual
    // derivation (Bpe.multiText — 2/3/4-byte code points injected
    // deterministically), so multi-byte symbols genuinely occur in
    // the learned table (control-byte, multi-byte and no-unk paths
    // are spec-locked in BpeSpec).
    Q("q_t_bpe_bytes_learn", Some(s"""
      WITH ${graft.text.Bpe.oracleBytesCtes(BpeMerges)}
      SELECT merge_rank, a AS left_sym, b AS right_sym,
             cnt AS pair_count
      FROM bymerges ORDER BY merge_rank""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      bpeBytesLearned(s, dir)._1
        .map(m => (m.rank, m.left, m.right, m.count))
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
        .orderBy("merge_rank")
    },



    // BYTE-LEVEL BPE, encode phase: per-doc piece accounting against
    // the byte-alphabet vocabulary (the q_t_bpe_encode shape — one
    // broadcast vocab join, megabytes of vocab vs a streaming
    // corpus). Tokens come from the SAME multilingual derivation the
    // vocabulary was trained on, so multi-byte words are encoded —
    // and every one joins (the alphabet is total).
    Q("q_t_bpe_bytes_encode", Some(s"""
      WITH ${graft.text.Bpe.oracleBytesCtes(BpeMerges)},
      bytk AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
          FROM (SELECT doc_id, ${graft.text.Bpe.multiTextSql} AS text
                FROM documents)) WHERE word <> ''),
      byenc AS (
        SELECT t.doc_id, len(w.s) AS np
        FROM bytk t JOIN byw_$BpeMerges w ON t.word = w.word)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_pieces,
             round(CAST(sum(np) AS DOUBLE) / count(*), 9)
               AS pieces_per_word
      FROM byenc GROUP BY 1 ORDER BY doc_id""")) { (s, dir) =>
      val tok = byteDocs(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val vocab = bpeBytesVocab(s, dir)
        .select(col("word"), size(col("syms")).as("np"))
      tok.join(vocab, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_pieces"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("pieces_per_word"))
        .orderBy("doc_id")
    },



    // Tokenizer fertility per language (the mT5/XLM-R tokenizer-
    // fairness metric): pieces-per-word of the learned BPE by
    // language, plus chars-per-piece — the dial that shows which
    // languages pay more subwords for the same text under one shared
    // vocabulary. Same scale shape as the encode: one broadcast
    // vocabulary join, one per-lang aggregate; fertility is a ratio
    // of exact counts (bit-stable at any partitioning).
    Q("q_t_bpe_fertility", Some(s"""
      WITH ${graft.text.Bpe.oracleCtes(BpeMerges)},
      ftk AS (
        SELECT lang, unnest(${graft.text.Bpe.ToksSql}) AS word
        FROM documents),
      fenc AS (
        SELECT t.lang, len(t.word) AS nc, len(w.s) AS np
        FROM ftk t JOIN bw_$BpeMerges w ON t.word = w.word)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_bpe_tokens,
             round(CAST(sum(np) AS DOUBLE) / count(*), 9)
               AS fertility,
             round(CAST(sum(nc) AS DOUBLE) / sum(np), 9)
               AS chars_per_piece
      FROM fenc GROUP BY 1 ORDER BY lang""")) { (s, dir) =>
      val tok = t(s, dir, "documents").select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val vocab = bpeVocab(s, dir)
        .select(col("word"), size(col("syms")).as("np"))
      tok.join(vocab, Seq("word"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_bpe_tokens"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("fertility"),
          round(sum(length(col("word"))).cast("double") / sum("np"), 9)
            .as("chars_per_piece"))
        .orderBy("lang")
    },



    // Unigram-LM tokenizer LEARNING (Unigram scaladoc — SentencePiece,
    // Kudo 2018): substring seeding, Viterbi-EM rounds (hard-EM
    // expected counts, add-one M-step, every libm output behind the
    // round-9 seam so the DP argmax can never diverge cross-engine),
    // usage-count prune keeping all single chars. The oracle unrolls
    // ONE MATERIALIZED CTE per character position per round (fixed
    // max_word_len bound, the data-independent-shape contract) — the
    // TRAINED vocabulary itself is hash-checked, the
    // QualityClf/Lloyd/BPE discipline.
    Q("q_t_unigram_learn", Some(s"""
      WITH $unigramCtes
      SELECT piece, usage, lp FROM uvocab ORDER BY piece""")) {
      (s, dir) =>
      val spark = s
      import spark.implicits._
      val fit = uniLearned(s, dir)
      fit.vocab.keys.toSeq.sorted
        .map(p => (p, fit.usage(p), fit.vocab(p)))
        .toDF("piece", "usage", "lp")
        .orderBy("piece")
    },



    // Unigram-LM ENCODE — the serving half: per-doc piece accounting
    // by joining corpus tokens against the fitted word → pieces table
    // (the precomputed-encoding cache, the BPE-encode contract); the
    // oracle re-derives the same segmentation through its own final
    // Viterbi chain, so the DP itself is what's checked, not a frozen
    // dump. Rowwise stream ≡ batch parity is spec-locked in
    // UnigramSpec via Unigram.encodeRowwise.
    Q("q_t_unigram_encode", Some(s"""
      WITH $unigramCtes,
      xtk AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
          FROM documents) WHERE word <> ''),
      xenc AS (
        SELECT t.doc_id, len(w.segs) AS np
        FROM xtk t JOIN uenc_fin w ON t.word = w.word)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_pieces,
             round(CAST(sum(np) AS DOUBLE) / count(*), 9)
               AS fertility
      FROM xenc GROUP BY 1 ORDER BY doc_id""")) { (s, dir) =>
      val tok = t(s, dir, "documents").select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val segs = uniLearned(s, dir).wordSegs
        .select(col("word"), size(col("segs")).as("np"))
      tok.join(segs, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_pieces"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("fertility"))
        .orderBy("doc_id")
    },



    // WordPiece tokenizer LEARNING (WordPiece scaladoc — Schuster &
    // Nakajima 2012, the BERT trainer): likelihood-ranked merges
    // score(a,b) = cnt(ab)/(cnt(a)·cnt(b)) over ##-prefixed symbols,
    // with the merged-content-length cap (max_token_length). The
    // score is one fixed-parenthesization IEEE expression over exact
    // integer counts, so the (score desc, a, b) winner order is
    // bit-stable cross-engine; the oracle unrolls one merge round per
    // rank — the TRAINED merge table itself is hash-checked, the
    // Bpe/Unigram discipline.
    Q("q_t_wordpiece_learn", Some(s"""
      WITH $wordpieceCtes
      SELECT merge_rank, a, b, merged, cnt, ca, cb,
             round(score, 9) AS score
      FROM wpmerges ORDER BY merge_rank""")) { (s, dir) =>
      val spark = s
      import spark.implicits._
      wpLearned(s, dir).merges
        .map(m => (m.rank, m.left, m.right, m.merged, m.cnt, m.ca,
          m.cb, graft.text.Unigram.round9(m.score)))
        .toDF("merge_rank", "a", "b", "merged", "cnt", "ca", "cb",
          "score")
        .orderBy("merge_rank")
    },



    // WordPiece ENCODE — greedy longest-match-first serving (the BERT
    // algorithm: NOT merge replay; a word with no matching piece is
    // [UNK] whole): per-doc piece accounting by joining corpus tokens
    // against the fitted word → greedy-pieces table, with the unk
    // count carried per doc. The oracle re-derives the segmentation
    // through its own greedy chain (one CTE block per step), so the
    // longest-match rule itself is what's checked. Rowwise stream ≡
    // batch parity is spec-locked in WordPieceSpec.
    Q("q_t_wordpiece_encode", Some(s"""
      WITH $wordpieceCtes,
      wptk AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
          FROM documents) WHERE word <> ''),
      wpe AS (
        SELECT t.doc_id, len(w.segs) AS np,
               CAST(w.is_unk AS INT) AS u
        FROM wptk t JOIN wpenc_fin w ON t.word = w.word)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_pieces,
             CAST(sum(u) AS BIGINT) AS n_unk_words,
             round(CAST(sum(np) AS DOUBLE) / count(*), 9)
               AS fertility
      FROM wpe GROUP BY 1 ORDER BY doc_id""")) { (s, dir) =>
      val tok = t(s, dir, "documents").select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val segs = wpSegs(s, dir)
        .select(col("word"), size(col("segs")).as("np"),
          col("is_unk").cast("int").as("u"))
      tok.join(segs, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_pieces"),
          sum("u").cast("long").as("n_unk_words"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("fertility"))
        .orderBy("doc_id")
    },



    // INCREMENTAL WordPiece encode — the wordpiece twin of
    // q_t_bpe_encode_incr / q_t_unigram_encode_incr (the
    // add-without-retrain tokenizer lifecycle): the vocabulary is
    // fitted ONLY on the standing index corpus (doc_id % 5 ≠ 0),
    // frozen, and the new batch greedy-encodes under it — any word
    // touching a character the index never saw rides the
    // all-or-nothing [UNK] rule END-TO-END through the oracle's own
    // greedy chain (0 on the fixture, whose index alphabet covers
    // the batch; the synthetic-unk path is spec-locked in
    // WordPieceSpec).
    Q("q_t_wordpiece_encode_incr", Some(s"""
      WITH ${graft.text.WordPiece.oracleCtes(WpMerges, WpMaxPiece,
        WpMaxW, docFilter = "doc_id % 5 <> 0")},
      ${graft.text.WordPiece.oracleEncodeCtes("wpinc",
        "doc_id % 5 = 0", WpMaxPiece, WpMaxW).trim},
      wpitk AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
          FROM documents WHERE doc_id % 5 = 0) WHERE word <> ''),
      wpie AS (
        SELECT t.doc_id, len(w.segs) AS np,
               CAST(w.is_unk AS INT) AS u
        FROM wpitk t JOIN wpinc_fin w ON t.word = w.word)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_pieces,
             CAST(sum(u) AS BIGINT) AS n_unk_words,
             round(CAST(sum(np) AS DOUBLE) / count(*), 9)
               AS fertility
      FROM wpie GROUP BY 1 ORDER BY doc_id""")) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val segs = wpIncrSegs(s, dir)
        .select(col("word"), size(col("segs")).as("np"),
          col("is_unk").cast("int").as("u"))
      tok.join(segs, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_pieces"),
          sum("u").cast("long").as("n_unk_words"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("fertility"))
        .orderBy("doc_id")
    },



    // Tokenizer A/B/C/D — BPE vs byte-level BPE vs unigram-LM vs
    // WordPiece on the same corpus: emitted vocabulary size (distinct
    // pieces actually used), total word occurrences, total pieces,
    // fertility (pieces per word occurrence), and chars-per-piece
    // (compression). The row a tokenizer owner reads to pick the
    // family; all four tokenizations come from the SAME shared fitted
    // artifacts the learn/encode rows already hash-check. The byte
    // arm is trained on the multilingual derivation (its raison
    // d'être — the other three only see the ASCII corpus) while all
    // four arms are EVALUATED on the same plain-corpus tokens, every
    // one of which the byte vocabulary contains (the derivation
    // appends, never removes) — what the byte arm buys is the
    // [UNK]-free total alphabet, visible against wordpiece's n_unk
    // accounting.
    Q("q_t_tokenizer_ab", Some(s"""
      WITH ${graft.text.Bpe.oracleCtes(BpeMerges)},
      ${graft.text.Bpe.oracleBytesCtes(BpeMerges).trim},
      $unigramCtes,
      $wordpieceCtes,
      abtk AS (
        SELECT word FROM (
          SELECT unnest(${graft.text.Bpe.ToksSql}) AS word
          FROM documents) WHERE word <> ''),
      abbpe AS (
        SELECT t.word, w.s AS pieces
        FROM abtk t JOIN bw_$BpeMerges w ON t.word = w.word),
      abbyt AS (
        SELECT t.word, w.s AS pieces
        FROM abtk t JOIN byw_$BpeMerges w ON t.word = w.word),
      abuni AS (
        SELECT t.word, w.segs AS pieces
        FROM abtk t JOIN uenc_fin w ON t.word = w.word),
      abwp AS (
        SELECT t.word, w.segs AS pieces
        FROM abtk t JOIN wpenc_fin w ON t.word = w.word),
      abstat AS (
        SELECT 'bpe_bytes' AS tokenizer,
               (SELECT count(DISTINCT piece) FROM
                 (SELECT unnest(pieces) AS piece FROM abbyt))
                 AS n_vocab_used,
               CAST(count(*) AS BIGINT) AS n_word_occurrences,
               CAST(sum(len(pieces)) AS BIGINT) AS n_pieces,
               round(CAST(sum(len(pieces)) AS DOUBLE) / count(*), 9)
                 AS fertility,
               round(CAST(sum(len(word)) AS DOUBLE)
                 / sum(len(pieces)), 9) AS chars_per_piece
        FROM abbyt
        UNION ALL
        SELECT 'bpe' AS tokenizer,
               (SELECT count(DISTINCT piece) FROM
                 (SELECT unnest(pieces) AS piece FROM abbpe))
                 AS n_vocab_used,
               CAST(count(*) AS BIGINT) AS n_word_occurrences,
               CAST(sum(len(pieces)) AS BIGINT) AS n_pieces,
               round(CAST(sum(len(pieces)) AS DOUBLE) / count(*), 9)
                 AS fertility,
               round(CAST(sum(len(word)) AS DOUBLE)
                 / sum(len(pieces)), 9) AS chars_per_piece
        FROM abbpe
        UNION ALL
        SELECT 'unigram',
               (SELECT count(DISTINCT piece) FROM
                 (SELECT unnest(pieces) AS piece FROM abuni)),
               CAST(count(*) AS BIGINT),
               CAST(sum(len(pieces)) AS BIGINT),
               round(CAST(sum(len(pieces)) AS DOUBLE) / count(*), 9),
               round(CAST(sum(len(word)) AS DOUBLE)
                 / sum(len(pieces)), 9)
        FROM abuni
        UNION ALL
        SELECT 'wordpiece',
               (SELECT count(DISTINCT piece) FROM
                 (SELECT unnest(pieces) AS piece FROM abwp)),
               CAST(count(*) AS BIGINT),
               CAST(sum(len(pieces)) AS BIGINT),
               round(CAST(sum(len(pieces)) AS DOUBLE) / count(*), 9),
               round(CAST(sum(len(word)) AS DOUBLE)
                 / sum(len(pieces)), 9)
        FROM abwp)
      SELECT * FROM abstat ORDER BY tokenizer""")) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      def stats(name: String, table: DataFrame) = {
        val joined = tok.join(table, Seq("word"))
        val used = joined
          .select(explode(col("pieces")).as("piece"))
          .agg(countDistinct("piece").as("n_vocab_used"))
        joined.agg(
            count(lit(1)).as("n_word_occurrences"),
            sum(size(col("pieces"))).cast("long").as("n_pieces"),
            round(sum(size(col("pieces"))).cast("double")
              / count(lit(1)), 9).as("fertility"),
            round(sum(length(col("word"))).cast("double")
              / sum(size(col("pieces"))), 9).as("chars_per_piece"))
          .crossJoin(broadcast(used))
          .select(lit(name).as("tokenizer"), col("n_vocab_used"),
            col("n_word_occurrences"), col("n_pieces"),
            col("fertility"), col("chars_per_piece"))
      }
      val bpe = bpeVocab(s, dir)
        .select(col("word"), col("syms").as("pieces"))
      val byt = bpeBytesVocab(s, dir)
        .select(col("word"), col("syms").as("pieces"))
      val uni = uniLearned(s, dir).wordSegs
        .select(col("word"), col("segs").as("pieces"))
      val wp = wpSegs(s, dir)
        .select(col("word"), col("segs").as("pieces"))
      stats("bpe", bpe).unionByName(stats("bpe_bytes", byt))
        .unionByName(stats("unigram", uni))
        .unionByName(stats("wordpiece", wp))
        .orderBy("tokenizer")
    },



    // INCREMENTAL unigram encode — the unigram twin of
    // q_t_bpe_encode_incr (the add-without-retrain tokenizer
    // lifecycle): the vocabulary is fitted ONLY on the standing index
    // corpus (doc_id % 5 <> 0), frozen, and the new batch encodes
    // under it with the single-char unk-floor fallback carrying any
    // character the index never saw — the unseen-input path,
    // exercised END-TO-END by the oracle (not just spec-locked).
    // Per-doc piece accounting plus the count of floor-priced unk
    // pieces (pieces absent from the frozen vocabulary).
    Q("q_t_unigram_encode_incr", Some(s"""
      WITH ${graft.text.Unigram.oracleCtes(UniSeed, UniL, UniRounds,
        UniKeep, UniUnk, UniMaxW, docFilter = "doc_id % 5 <> 0")},
      ${graft.text.Unigram.oracleEncodeCtes("uinc",
        "doc_id % 5 = 0", UniL, UniMaxW, UniUnk).trim},
      ytk AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
          FROM documents WHERE doc_id % 5 = 0) WHERE word <> ''),
      ywp AS (
        SELECT t.doc_id, w.segs FROM ytk t
        JOIN uinc_fin w ON t.word = w.word),
      ypc AS (
        SELECT doc_id, unnest(segs) AS piece FROM ywp),
      yagg AS (
        SELECT p.doc_id, count(*) AS np,
               sum(CASE WHEN v.piece IS NULL THEN 1 ELSE 0 END)
                 AS nunk
        FROM ypc p LEFT JOIN uvocab v USING (piece) GROUP BY 1),
      ywc AS (SELECT doc_id, count(*) AS nw FROM ywp GROUP BY 1)
      SELECT w.doc_id, CAST(w.nw AS BIGINT) AS n_words,
             CAST(a.np AS BIGINT) AS n_pieces,
             CAST(a.nunk AS BIGINT) AS n_unk_pieces,
             round(CAST(a.np AS DOUBLE) / w.nw, 9) AS fertility
      FROM ywc w JOIN yagg a USING (doc_id)
      ORDER BY doc_id""")) { (s, dir) =>
      val fit = uniIncrLearned(s, dir)
      val batchDocs = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
      val batchWords = graft.text.Bpe.wordTable(batchDocs)
      val maxLen = batchWords.agg(max(length(col("word"))))
        .head().getInt(0)
      require(maxLen <= UniMaxW,
        s"batch word length $maxLen exceeds unigram.max_word_len")
      val lpMap = fit.vocab
      val segs = graft.text.Unigram.segmentWords(batchWords, lpMap,
          UniL, UniUnk)
        .select(col("word"), size(col("segs")).as("np"),
          size(filter(col("segs"),
            p => !p.isin(lpMap.keys.toSeq.map(lit): _*))).as("nunk"))
      batchDocs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .join(segs, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_pieces"),
          sum("nunk").cast("long").as("n_unk_pieces"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("fertility"))
        .orderBy("doc_id")
    },



    // Perplexity-bucket AGREEMENT — add-one vs Kneser-Ney: the 3×3
    // confusion matrix of the two bucketings plus each cell's share,
    // the row a filter owner reads to see how much the smoothing
    // upgrade actually MOVES the CCNet gate (diagonal share = docs
    // whose head/middle/tail verdict is smoothing-invariant). Both
    // inputs are the already-hash-checked shared stages; one join on
    // doc_id, exact-count shares.
    Q("q_t_ppl_agreement", Some(s"""
      WITH $pplCtes,
      ${graft.text.KneserNey.oracleCtes(KnDiscount).trim},
      agg1 AS (
        SELECT d.doc_id, $pplBucketCase AS b1
        FROM pb_d d JOIN pb_cut c USING (lang)),
      knd2 AS (
        SELECT doc_id, lang, round(exp(-avg_lp), 6) AS ppl FROM knd),
      knr AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM knd2),
      kncut AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil(${1.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut1,
               max(CASE WHEN rn = CAST(ceil(${2.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut2
        FROM knr GROUP BY 1),
      agg2 AS (
        SELECT d.doc_id,
               CASE WHEN d.ppl <= c.cut1 THEN 'head'
                    WHEN d.ppl <= c.cut2 THEN 'middle'
                    ELSE 'tail' END AS b2
        FROM knd2 d JOIN kncut c USING (lang)),
      am AS (
        SELECT a.b1 AS bucket_addone, b.b2 AS bucket_kn,
               count(*) AS n_docs
        FROM agg1 a JOIN agg2 b USING (doc_id) GROUP BY 1, 2),
      at AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS tot FROM am)
      SELECT bucket_addone, bucket_kn,
             CAST(n_docs AS BIGINT) AS n_docs,
             round(n_docs / at.tot, 9) AS share
      FROM am CROSS JOIN at
      ORDER BY bucket_addone, bucket_kn""")) { (s, dir) =>
      val a1 = pplBucketed(s, dir)
        .select(col("doc_id"), col("ppl_bucket").as("bucket_addone"))
      val a2 = knBucketed(s, dir)
        .select(col("doc_id"), col("ppl_bucket").as("bucket_kn"))
      val am = a1.join(a2, "doc_id")
        .groupBy("bucket_addone", "bucket_kn")
        .agg(count(lit(1)).as("n_docs"))
      val tot = am.agg(sum("n_docs").cast("double").as("tot"))
      am.crossJoin(broadcast(tot))
        .select(col("bucket_addone"), col("bucket_kn"), col("n_docs"),
          round(col("n_docs") / col("tot"), 9).as("share"))
        .orderBy("bucket_addone", "bucket_kn")
    },



    // INCREMENTAL BPE encode — the tokenizer analogue of the
    // add-without-train index lifecycle: merges learned ONLY on the
    // standing index corpus (doc_id % 5 <> 0) are the frozen artifact;
    // the new batch is encoded by APPLYING them in rank order
    // (Bpe.applyMerges fold chain — what a real tokenizer runs on
    // vocabulary cache misses), with per-doc OOV-word counts against
    // the index vocabulary. The oracle re-learns on the index slice
    // and runs the SAME island-parity apply rounds over the batch
    // vocabulary — fold and SQL formulations of one rule, both
    // hash-checked.
    Q("q_t_bpe_encode_incr", Some(s"""
      WITH ${graft.text.Bpe.oracleCtes(BpeMerges,
        docFilter = "doc_id % 5 <> 0")},
      ${graft.text.Bpe.vocabCte("ab_0",
        docFilter = "doc_id % 5 = 0").trim},
      ${graft.text.Bpe.oracleApplyCtes(BpeMerges, "ab").trim},
      btk AS (
        SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
        FROM documents WHERE doc_id % 5 = 0),
      enc AS (
        SELECT t.doc_id, len(w.s) AS np,
               (iv.word IS NULL) AS oov
        FROM btk t JOIN ab_$BpeMerges w ON t.word = w.word
             LEFT JOIN (SELECT word FROM bw_0) iv ON t.word = iv.word)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov_words,
             CAST(sum(np) AS BIGINT) AS n_bpe_tokens,
             round(CAST(sum(np) AS DOUBLE) / count(*), 9)
               AS pieces_per_word
      FROM enc GROUP BY 1 ORDER BY doc_id""")) { (s, dir) =>
      val (merges, _) = bpeIncrLearned(s, dir)
      val batch = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
      val applied = batchAppliedVocab(s, dir, merges)
        .select(col("word"), size(col("syms")).as("np"))
      val tok = batch.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      tok.join(applied, Seq("word"))
        .join(bpeIncrVocab(s, dir)
          .select(col("word"), lit(true).as("seen")), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("seen").isNull, 1L).otherwise(0L))
            .as("n_oov_words"),
          sum("np").cast("long").as("n_bpe_tokens"),
          round(sum("np").cast("double") / count(lit(1)), 9)
            .as("pieces_per_word"))
        .orderBy("doc_id")
    },



    // Quality scoring battery (length/stopword/digit ratios → score)
    Q("q_t_quality", Some(s"""
      WITH b AS (
        SELECT doc_id, text, regexp_split_to_array(text, '[[:space:]]+') AS t,
               length(text) AS nc FROM documents)
      SELECT doc_id,
             len(t) AS n_tokens,
             round(CAST(nc - (len(t) - 1) AS DOUBLE) / len(t), 9)
               AS mean_tok_len,
             round(CAST(len(list_filter(t, x -> x IN $stop)) AS DOUBLE)
               / len(t), 9) AS stop_ratio,
             round(CAST(nc - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE) / nc, 9) AS digit_ratio,
             round(0.4 * (CAST(least(nc, 400) AS DOUBLE) / 400.0)
               + 0.4 * (1.0 - CAST(nc - length(regexp_replace(text, '[0-9]',
                   '', 'g')) AS DOUBLE) / nc)
               + 0.2 * least((CAST(len(list_filter(t, x -> x IN $stop))
                   AS DOUBLE) / len(t)) * 4.0, 1.0), 9) AS quality_score
      FROM b ORDER BY doc_id""")) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id") +: TextOps.qualityFeatures(col("text")): _*)
        .orderBy("doc_id")
    },



    // Language-ID marker heuristic vs labeled lang
    Q("q_t_langid", Some {
      val scoreCols = TextOps.LangMarkers.map { case (l, ms) =>
        val in = ms.map(m => s"'$m'").mkString("(", ", ", ")")
        s"len(list_filter(t, x -> x IN $in)) AS score_$l"
      }.mkString(",\n             ")
      val langs = TextOps.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
      val pred = langs.map(l => s"WHEN score_$l = $best THEN '$l'")
        .mkString("CASE ", " ", " END")
      s"""
      WITH b AS (SELECT doc_id, lang, regexp_split_to_array(text, '[[:space:]]+') AS t
                 FROM documents),
      sc AS (SELECT doc_id, lang,
             $scoreCols
             FROM b)
      SELECT doc_id, lang, ${langs.map(l => s"score_$l").mkString(", ")},
             $pred AS predicted,
             ($pred) = lang AS is_correct
      FROM sc ORDER BY doc_id"""
    }) { (s, dir) =>
      val scored = t(s, dir, "documents")
        .select(Seq(col("doc_id"), col("lang"))
          ++ TextOps.langScores(col("text")): _*)
      scored
        .withColumn("predicted", TextOps.predictedLang)
        .withColumn("is_correct", col("predicted") === col("lang"))
        .orderBy("doc_id")
    },



    // Gopher-style repetition metrics: top-token share, distinct-token
    // ratio, duplicate-bigram fraction, and the repetitiveness flag —
    // the "repeated content" quality gate of a training-data pipeline.
    // One shuffle keyed by (doc_id, term) then doc_id; the bigram stats
    // are pure per-doc array programs.
    Q("q_t_repetition", Some("""
      WITH b AS (SELECT doc_id, regexp_split_to_array(text, '[[:space:]]+') AS t
                 FROM documents),
      tk AS (SELECT doc_id, unnest(t) AS term FROM b),
      tf AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
      ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                    CAST(count(*) AS BIGINT) AS n_distinct,
                    CAST(max(c) AS BIGINT) AS top_c
             FROM tf GROUP BY 1),
      bg AS (SELECT doc_id,
                    CAST(len(list_distinct(list_transform(
                      range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])))
                      AS BIGINT) AS n_bg_distinct
             FROM b)
      SELECT ts.doc_id, ts.n_tokens, ts.n_distinct,
             round(CAST(ts.top_c AS DOUBLE) / ts.n_tokens, 9)
               AS top_token_share,
             round(CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens, 9)
               AS distinct_ratio,
             CASE WHEN ts.n_tokens >= 2 THEN
               round(1.0 - CAST(bg.n_bg_distinct AS DOUBLE)
                 / (ts.n_tokens - 1), 9) END AS dup_bigram_frac,
             (round(CAST(ts.top_c AS DOUBLE) / ts.n_tokens, 9) > 0.2
               OR coalesce(CASE WHEN ts.n_tokens >= 2 THEN
                    round(1.0 - CAST(bg.n_bg_distinct AS DOUBLE)
                      / (ts.n_tokens - 1), 9) END, 0.0) > 0.5)
               AS is_repetitive
      FROM ts JOIN bg ON ts.doc_id = bg.doc_id
      ORDER BY ts.doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tk = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val ts = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max("c").as("top_c"))
      val bg = docs.select(col("doc_id"),
        size(TextOps.shingles(col("text"), 2)).cast("long")
          .as("n_bg_distinct"))
      val topShare = round(col("top_c").cast("double") / col("n_tokens"), 9)
      val dupBg = when(col("n_tokens") >= 2,
        round(lit(1.0) - col("n_bg_distinct").cast("double")
          / (col("n_tokens") - 1), 9))
      ts.join(bg, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          topShare.as("top_token_share"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 9)
            .as("distinct_ratio"),
          dupBg.as("dup_bigram_frac"),
          (topShare > 0.2 || coalesce(dupBg, lit(0.0)) > 0.5)
            .as("is_repetitive"))
        .orderBy("doc_id")
    },



    // Unigram log-probability scoring (the cheap stand-in for a
    // perplexity quality filter): corpus-level add-1-smoothed unigram
    // model, per-doc mean and min token log-prob. Model fit is one
    // token-keyed count; scoring is a broadcast-sized join at real
    // vocab sizes.
    Q("q_t_unigram_lp", Some("""
      WITH tk AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '[[:space:]]+')) AS tok
        FROM documents),
      cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n,
                     CAST(count(*) AS DOUBLE) AS v FROM cnt)
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(ln((c + 1.0) / (tot.n + tot.v))), 9)
               AS avg_logprob,
             round(min(ln((c + 1.0) / (tot.n + tot.v))), 9)
               AS min_logprob
      FROM tk t JOIN cnt ON t.tok = cnt.tok CROSS JOIN tot
      GROUP BY t.doc_id ORDER BY t.doc_id""")) { (s, dir) =>
      val tk = t(s, dir, "documents").select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      val cnt = tk.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").cast("double").as("n"),
        count(lit(1)).cast("double").as("v"))
      val lp = log((col("c") + 1.0) / (col("n") + col("v")))
      tk.join(cnt, "tok").crossJoin(broadcast(tot))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          round(avg(lp), 9).as("avg_logprob"),
          round(min(lp), 9).as("min_logprob"))
        .orderBy("doc_id")
    },



    // Bigram-LM scoring — the next rung of the perplexity-quality-filter
    // ladder above q_t_unigram_lp: add-1-smoothed conditional
    // P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V), per-doc mean and min log-prob
    // over its bigrams. Same scale shape as the unigram scorer: one
    // bigram-keyed and one token-keyed count shuffle, vocab total
    // broadcast; scoring is two count-table equi-joins.
    Q("q_t_bigram_lp", Some("""
      WITH b AS (
        SELECT doc_id, regexp_split_to_array(text, '[[:space:]]+') AS t FROM documents),
      tk AS (SELECT doc_id, unnest(t) AS tok FROM b),
      c1 AS (SELECT tok, count(*) AS c1 FROM tk GROUP BY 1),
      voc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM c1),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(len(t) - 1), i -> t[i+1]))
                 AS w1,
               unnest(list_transform(range(len(t) - 1),
                 i -> t[i+1] || ' ' || t[i+2])) AS bg
        FROM b),
      c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
      sc AS (
        SELECT g.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + voc.v)) AS lp
        FROM bg g JOIN c2 ON g.bg = c2.bg
                  JOIN c1 ON g.w1 = c1.tok
        CROSS JOIN voc)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(lp), 9) AS avg_logprob2,
             round(min(lp), 9) AS min_logprob2
      FROM sc GROUP BY 1 ORDER BY doc_id""")) { (s, dir) =>
      bigramLp(s, dir).select(col("doc_id"), col("n_bigrams"),
        round(col("avg_lp"), 9).as("avg_logprob2"),
        round(col("min_lp"), 9).as("min_logprob2"))
        .orderBy("doc_id")
    },



    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-doc
    // bigram-LM perplexity exp(−avg log P(w2|w1)), cut into
    // head/middle/tail TERCILES PER LANGUAGE (CCNet's key design
    // point: one global cut would just rank languages by their LM
    // fit, so each language gets its own cutoffs). The cuts are the
    // values at rank ceil(n/3) and ceil(2n/3) — the discrete-quantile
    // pairing (percentile_approx at accuracy 10^6 ≡ ceil-rank
    // row_number) — so bucketing is a ≤ |langs| broadcast join + two
    // comparisons: at 100 TB the LM fit is the two count shuffles the
    // bigram stage already pays, and the bucket pass is map-only.
    Q("q_t_ppl_buckets", Some(s"""
      WITH $pplCtes
      SELECT d.doc_id, d.lang, d.n_bigrams, d.ppl,
             $pplBucketCase AS ppl_bucket
      FROM pb_d d JOIN pb_cut c USING (lang)
      ORDER BY doc_id""")) { (s, dir) =>
      pplBucketed(s, dir).orderBy("doc_id")
    },



    // Interpolated Kneser-Ney bigram scoring (KneserNey scaladoc) —
    // the smoothing CCNet's KenLM filter actually uses (Wenzek 2020),
    // replacing add-one as the production rung of the perplexity
    // ladder; q_t_bigram_lp stays as the A/B control. Discounted seen
    // mass redistributes by CONTINUATION counts (how many distinct
    // contexts a word follows), every count an exact aggregation, the
    // probability one fixed-parenthesization IEEE expression, ln
    // behind the emit round — same two-count-shuffle scale shape as
    // the add-one stage.
    Q("q_t_kn_lp", Some(s"""
      WITH ${graft.text.KneserNey.oracleCtes(KnDiscount)}
      SELECT doc_id, lang, n_bigrams,
             round(avg_lp, 9) AS avg_logprob_kn,
             round(min_lp, 9) AS min_logprob_kn
      FROM knd ORDER BY doc_id""")) { (s, dir) =>
      knLp(s, dir).select(col("doc_id"), col("lang"), col("n_bigrams"),
        round(col("avg_lp"), 9).as("avg_logprob_kn"),
        round(col("min_lp"), 9).as("min_logprob_kn"))
        .orderBy("doc_id")
    },



    // Stupid-Backoff trigram scoring (StupidBackoff scaladoc — Brants
    // et al. 2007, the distributed-counts LM with NO normalization
    // pass): counts from the standing index slice, scores over the
    // incoming slice — the train/score split that makes the backoff
    // ladder real (an in-corpus self-score never misses a trigram).
    // Per-doc average/min log-score plus the per-tier hit accounting
    // (tri/bi/uni/unk) a filter owner reads to see HOW a corpus is
    // being scored.
    Q("q_t_sb_lp", Some(s"""
      WITH $sbCtes
      SELECT doc_id, lang, n_trigrams, n_tri_hits, n_bi_hits,
             n_uni_hits, n_unk,
             round(avg_lp, 9) AS avg_logscore_sb,
             round(min_lp, 9) AS min_logscore_sb
      FROM sbd ORDER BY doc_id""")) { (s, dir) =>
      sbLp(s, dir).select(col("doc_id"), col("lang"),
        col("n_trigrams"), col("n_tri_hits"), col("n_bi_hits"),
        col("n_uni_hits"), col("n_unk"),
        round(col("avg_lp"), 9).as("avg_logscore_sb"),
        round(col("min_lp"), 9).as("min_logscore_sb"))
        .orderBy("doc_id")
    },



    // Backoff-mix observability: per-language shares of trigram
    // scores served at each tier (trigram hit / bigram backoff /
    // unigram backoff / unk floor) — the coverage dial of the scale
    // LM: a falling tri-share says the index counts no longer cover
    // the incoming distribution (the drift signal that triggers a
    // recount, the q_e_index_drift analog for the LM). Shares are
    // ratios of exact counts — bit-stable at any partitioning.
    Q("q_t_sb_backoff_mix", Some(s"""
      WITH $sbCtes
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_trigrams) AS BIGINT) AS n_trigrams,
             round(CAST(sum(n_tri_hits) AS DOUBLE)
               / sum(n_trigrams), 9) AS tri_share,
             round(CAST(sum(n_bi_hits) AS DOUBLE)
               / sum(n_trigrams), 9) AS bi_share,
             round(CAST(sum(n_uni_hits) AS DOUBLE)
               / sum(n_trigrams), 9) AS uni_share,
             round(CAST(sum(n_unk) AS DOUBLE)
               / sum(n_trigrams), 9) AS unk_share
      FROM sbd GROUP BY 1 ORDER BY lang""")) { (s, dir) =>
      sbLp(s, dir).groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_trigrams").cast("long").as("n_trigrams"),
        round(sum("n_tri_hits").cast("double")
          / sum("n_trigrams"), 9).as("tri_share"),
        round(sum("n_bi_hits").cast("double")
          / sum("n_trigrams"), 9).as("bi_share"),
        round(sum("n_uni_hits").cast("double")
          / sum("n_trigrams"), 9).as("uni_share"),
        round(sum("n_unk").cast("double")
          / sum("n_trigrams"), 9).as("unk_share"))
        .orderBy("lang")
    },



    // CCNet perplexity buckets over the KN scorer — the production
    // pairing (Wenzek 2020 buckets on a KN-smoothed KenLM): per-doc
    // KN perplexity exp(−avg lp), per-language ceil-rank terciles,
    // same head/middle/tail contract as q_t_ppl_buckets (the add-one
    // control row) so the two bucketings A/B directly.
    Q("q_t_ppl_buckets_kn", Some(s"""
      WITH ${graft.text.KneserNey.oracleCtes(KnDiscount)},
      knd2 AS (
        SELECT doc_id, lang, n_bigrams,
               round(exp(-avg_lp), 6) AS ppl
        FROM knd),
      knr AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM knd2),
      kncut AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil(${1.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut1,
               max(CASE WHEN rn = CAST(ceil(${2.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut2
        FROM knr GROUP BY 1)
      SELECT d.doc_id, d.lang, d.n_bigrams, d.ppl,
             CASE WHEN d.ppl <= c.cut1 THEN 'head'
                  WHEN d.ppl <= c.cut2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM knd2 d JOIN kncut c USING (lang)
      ORDER BY doc_id""")) { (s, dir) =>
      knBucketed(s, dir).orderBy("doc_id")
    },



    // Interpolated Kneser-Ney TRIGRAM scoring (KneserNey.scoreTrigrams
    // scaladoc — the actual KenLM order family: CCNet's filter is a
    // 5-gram KN model, and the trigram rung is where the
    // continuation-count construction starts composing across orders).
    // The middle order redistributes by trigram-type continuation
    // counts — KN's idea applied one order up — and both
    // interpolations telescope to Σ P = 1 (spec-locked). Same count-
    // table equi-join scale shape as the bigram rung, one more count
    // shuffle.
    Q("q_t_kn3_lp", Some(s"""
      WITH ${graft.text.KneserNey.oracleCtes3(KnDiscount)}
      SELECT doc_id, lang, n_trigrams,
             round(avg_lp, 9) AS avg_logprob_kn3,
             round(min_lp, 9) AS min_logprob_kn3
      FROM kn3d ORDER BY doc_id""")) { (s, dir) =>
      kn3Lp(s, dir).select(col("doc_id"), col("lang"),
        col("n_trigrams"),
        round(col("avg_lp"), 9).as("avg_logprob_kn3"),
        round(col("min_lp"), 9).as("min_logprob_kn3"))
        .orderBy("doc_id")
    },



    // KN bigram vs KN trigram bucket-movement matrix — the
    // q_t_ppl_agreement discipline applied WITHIN the KN family: how
    // much does the ORDER upgrade (not the smoothing) move the CCNet
    // gate. Docs with fewer than three tokens have no trigram score
    // and drop from the matrix (inner join — both verdicts must
    // exist to compare); each model buckets by its own per-language
    // ceil-rank terciles over its own scored population.
    Q("q_t_kn3_agreement", Some(s"""
      WITH ${graft.text.KneserNey.oracleCtes(KnDiscount)},
      ${graft.text.KneserNey.oracleCtes3(KnDiscount).trim},
      k2d AS (
        SELECT doc_id, lang, round(exp(-avg_lp), 6) AS ppl FROM knd),
      k2r AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM k2d),
      k2cut AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil(${1.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut1,
               max(CASE WHEN rn = CAST(ceil(${2.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut2
        FROM k2r GROUP BY 1),
      k2a AS (
        SELECT d.doc_id,
               CASE WHEN d.ppl <= c.cut1 THEN 'head'
                    WHEN d.ppl <= c.cut2 THEN 'middle'
                    ELSE 'tail' END AS b2
        FROM k2d d JOIN k2cut c USING (lang)),
      k3d2 AS (
        SELECT doc_id, lang, round(exp(-avg_lp), 6) AS ppl FROM kn3d),
      k3r AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM k3d2),
      k3cut AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil(${1.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut1,
               max(CASE WHEN rn = CAST(ceil(${2.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut2
        FROM k3r GROUP BY 1),
      k3a AS (
        SELECT d.doc_id,
               CASE WHEN d.ppl <= c.cut1 THEN 'head'
                    WHEN d.ppl <= c.cut2 THEN 'middle'
                    ELSE 'tail' END AS b3
        FROM k3d2 d JOIN k3cut c USING (lang)),
      k23m AS (
        SELECT a.b2 AS bucket_kn2, b.b3 AS bucket_kn3,
               count(*) AS n_docs
        FROM k2a a JOIN k3a b USING (doc_id) GROUP BY 1, 2),
      k23t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS tot FROM k23m)
      SELECT bucket_kn2, bucket_kn3,
             CAST(n_docs AS BIGINT) AS n_docs,
             round(n_docs / k23t.tot, 9) AS share
      FROM k23m CROSS JOIN k23t
      ORDER BY bucket_kn2, bucket_kn3""")) { (s, dir) =>
      def bucketed(d: DataFrame, out: String): DataFrame = {
        val cuts = d.groupBy("lang").agg(
          percentile_approx(col("ppl"),
            array(lit(1.0 / 3), lit(2.0 / 3)), lit(1000000)).as("qs"))
        d.join(broadcast(cuts), "lang")
          .select(col("doc_id"),
            when(col("ppl") <= element_at(col("qs"), 1), "head")
              .when(col("ppl") <= element_at(col("qs"), 2), "middle")
              .otherwise("tail").as(out))
      }
      val a2 = knBucketed(s, dir)
        .select(col("doc_id"), col("ppl_bucket").as("bucket_kn2"))
      val a3 = bucketed(kn3Lp(s, dir).select(col("doc_id"),
        col("lang"), round(exp(-col("avg_lp")), 6).as("ppl")),
        "bucket_kn3")
      val m = a2.join(a3, "doc_id")
        .groupBy("bucket_kn2", "bucket_kn3")
        .agg(count(lit(1)).as("n_docs"))
      val tot = m.agg(sum("n_docs").cast("double").as("tot"))
      m.crossJoin(broadcast(tot))
        .select(col("bucket_kn2"), col("bucket_kn3"), col("n_docs"),
          round(col("n_docs") / col("tot"), 9).as("share"))
        .orderBy("bucket_kn2", "bucket_kn3")
    },



    // KN trigram table PRUNING frontier (the KenLM filter/--prune
    // convention — KneserNey.scoreTrigramsPruned): per count
    // threshold θ, drop trigram types with c3 < θ and reroute their
    // mass through the context's backoff weight (Σ P = 1 still
    // telescopes exactly — spec-locked), then price the trade the
    // ann-frontier way: stored-table size vs corpus perplexity vs
    // tercile-bucket movement against the unpruned model. The row an
    // LM owner reads to bound the table on a 100 TB corpus: the top
    // table is the one that grows with the data, and singleton
    // trigrams are most of it. θ = 1 is the baseline row (nothing
    // pruned, deltas zero by construction).
    Q("q_t_kn3_pruned_ab", Some {
      val rungChains = KnPruneRungs.zipWithIndex.map {
        case (th, i) => graft.text.KneserNey
          .oracleCtes3Pruned(KnDiscount, th, s"kp$i").trim
      }.mkString(",\n      ")
      def bucketSql(src: String, pfx: String, out: String) = s"""
      ${pfx}r AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM $src),
      ${pfx}cut AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil(${1.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut1,
               max(CASE WHEN rn = CAST(ceil(${2.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut2
        FROM ${pfx}r GROUP BY 1),
      ${pfx}a AS (
        SELECT d.doc_id,
               CASE WHEN d.ppl <= c.cut1 THEN 'head'
                    WHEN d.ppl <= c.cut2 THEN 'middle'
                    ELSE 'tail' END AS $out
        FROM $src d JOIN ${pfx}cut c USING (lang))"""
      val rungRows = KnPruneRungs.zipWithIndex.map { case (th, i) =>
        s"""
      kp${i}p AS (
        SELECT doc_id, lang, round(exp(-avg_lp), 6) AS ppl
        FROM kp${i}d),
      kp${i}avg AS (SELECT round(avg(ppl), 6) AS avg_ppl
                    FROM kp${i}p),
      kp${i}sz AS (
        SELECT CAST(count(*) AS BIGINT) AS n_types_full,
               CAST(count(CASE WHEN c3 >= $th THEN 1 END) AS BIGINT)
                 AS n_types_kept
        FROM k3c3),${bucketSql(s"kp${i}p", s"kp${i}b", "b1")},
      kp${i}mv AS (
        SELECT CAST(sum(CASE WHEN a.b0 <> p.b1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_moved,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM kb3ba a JOIN kp${i}ba p USING (doc_id)),
      kp${i}row AS (
        SELECT CAST($th AS BIGINT) AS threshold,
               z.n_types_full, z.n_types_kept,
               round(CAST(z.n_types_kept AS DOUBLE)
                 / z.n_types_full, 9) AS kept_frac,
               a.avg_ppl,
               round(a.avg_ppl - b.base_avg, 6) AS ppl_delta,
               m.n_moved,
               round(CAST(m.n_moved AS DOUBLE) / m.n_docs, 9)
                 AS moved_frac
        FROM kp${i}sz z, kp${i}avg a, kbavg b, kp${i}mv m)"""
      }.mkString(",")
      val union = ("SELECT * FROM kbrow" +:
        KnPruneRungs.indices.map(i => s"SELECT * FROM kp${i}row"))
        .mkString("\n        UNION ALL ")
      s"""
      WITH ${graft.text.KneserNey.oracleCtes3(KnDiscount).trim},
      $rungChains,
      kb3p AS (
        SELECT doc_id, lang, round(exp(-avg_lp), 6) AS ppl
        FROM kn3d),
      kbavg AS (SELECT round(avg(ppl), 6) AS base_avg FROM kb3p),
      ${bucketSql("kb3p", "kb3b", "b0").trim},
      kbrow AS (
        SELECT CAST(1 AS BIGINT) AS threshold,
               CAST(count(*) AS BIGINT) AS n_types_full,
               CAST(count(*) AS BIGINT) AS n_types_kept,
               CAST(1.0 AS DOUBLE) AS kept_frac,
               (SELECT base_avg FROM kbavg) AS avg_ppl,
               CAST(0.0 AS DOUBLE) AS ppl_delta,
               CAST(0 AS BIGINT) AS n_moved,
               CAST(0.0 AS DOUBLE) AS moved_frac
        FROM k3c3),
      $rungRows
      SELECT * FROM ($union)
      ORDER BY threshold"""
    }) { (s, dir) =>
      def pplOf(d: DataFrame): DataFrame =
        d.select(col("doc_id"), col("lang"),
          round(exp(-col("avg_lp")), 6).as("ppl"))
      def bucketed(d: DataFrame, out: String): DataFrame = {
        val cuts = d.groupBy("lang").agg(
          percentile_approx(col("ppl"),
            array(lit(1.0 / 3), lit(2.0 / 3)), lit(1000000)).as("qs"))
        d.join(broadcast(cuts), "lang")
          .select(col("doc_id"),
            when(col("ppl") <= element_at(col("qs"), 1), "head")
              .when(col("ppl") <= element_at(col("qs"), 2), "middle")
              .otherwise("tail").as(out))
      }
      val c3 = kn3Counts(s, dir)
      val basePpl = pplOf(kn3Lp(s, dir)).graftCheckpoint()
      val baseB = bucketed(basePpl, "b0").graftCheckpoint()
      val baseAvg = basePpl
        .agg(round(avg("ppl"), 6).as("base_avg"))
      val baseline = c3.agg(count(lit(1)).as("n_types_full"))
        .crossJoin(broadcast(baseAvg))
        .select(lit(1L).as("threshold"), col("n_types_full"),
          col("n_types_full").as("n_types_kept"),
          lit(1.0).as("kept_frac"),
          col("base_avg").as("avg_ppl"),
          lit(0.0).as("ppl_delta"), lit(0L).as("n_moved"),
          lit(0.0).as("moved_frac"))
      // rung stages are independent pruned-table builds — concurrent
      // (guide §2.6; kn3Lp/kn3Counts are already built above)
      val rungs = graft.ops.Pools.awaitAll(KnPruneRungs.map { th => () =>
        val pr = pplOf(kn3PrunedLp(s, dir, th)).graftCheckpoint()
        val sizes = c3.agg(count(lit(1)).as("n_types_full"),
          count(when(col("c3") >= th, lit(1))).as("n_types_kept"))
        val avgP = pr.agg(round(avg("ppl"), 6).as("avg_ppl"))
        val moved = baseB.join(bucketed(pr, "b1"), "doc_id")
          .agg(sum(when(col("b0") =!= col("b1"), 1L).otherwise(0L))
            .as("n_moved"), count(lit(1)).as("n_docs"))
        sizes.crossJoin(broadcast(avgP))
          .crossJoin(broadcast(baseAvg))
          .crossJoin(broadcast(moved))
          .select(lit(th).as("threshold"), col("n_types_full"),
            col("n_types_kept"),
            round(col("n_types_kept").cast("double")
              / col("n_types_full"), 9).as("kept_frac"),
            col("avg_ppl"),
            round(col("avg_ppl") - col("base_avg"), 6)
              .as("ppl_delta"),
            col("n_moved"),
            round(col("n_moved").cast("double") / col("n_docs"), 9)
              .as("moved_frac"))
      })
      (baseline +: rungs).reduce(_ unionByName _)
        .orderBy("threshold")
    },



    // UNIFIED CURATION GATE — the four MEASURED signals composed into
    // one sequential corpus-yield pipeline with per-stage accounting:
    // exact dedup keeper → trained classifier at the CALIBRATION-
    // CHOSEN threshold (q_t_quality_clf_threshold's operating point)
    // → Kneser-Ney perplexity bucket ≠ tail (the production CCNet
    // rung, per-language terciles) → DSIR importance weight > 0 (the
    // target-distribution gate). Every signal is an already-hash-
    // checked shared artifact (the q_t_filter_agreement stages, KN
    // instead of add-one); this row is their consumption — what the
    // corpus actually yields when the gates stack, in docs and
    // tokens, stage by stage. Stream ≡ batch is spec-locked via
    // CurationGate.gate (StreamingSpec): the same three signal gates
    // run on a streaming frame against the frozen artifacts.
    Q("q_t_curation_gate", Some(s"""
      WITH ${CurationQueries.qclfCtes},
      ${graft.text.QualityClf.oracleThresholdCtes(
        CurationQueries.QcIters, CurationQueries.QcTarget).trim},
      ${graft.text.KneserNey.oracleCtes(KnDiscount).trim},
      ${CurationQueries.dsirCtes.trim},
      cgtok AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '[[:space:]]+'))
                 AS BIGINT) AS n_tokens
        FROM documents),
      cg1 AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS keep
          FROM documents) WHERE doc_id = keep),
      cg2 AS (
        SELECT c.doc_id FROM cg1 c JOIN qcpt m ON c.doc_id = m.doc_id
        WHERE m.p >= (SELECT thr FROM qcpick)),
      cgk AS (
        SELECT doc_id, lang, round(exp(-avg_lp), 6) AS ppl FROM knd),
      cgr AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl)
                 AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM cgk),
      cgcut AS (
        SELECT lang,
               max(CASE WHEN rn = CAST(ceil(${1.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut1,
               max(CASE WHEN rn = CAST(ceil(${2.0 / 3} * n) AS BIGINT)
                 THEN ppl END) AS cut2
        FROM cgr GROUP BY 1),
      cgb AS (
        SELECT d.doc_id,
               CASE WHEN d.ppl <= c.cut1 THEN 'head'
                    WHEN d.ppl <= c.cut2 THEN 'middle'
                    ELSE 'tail' END AS b
        FROM cgk d JOIN cgcut c USING (lang)),
      cg3 AS (
        SELECT c.doc_id FROM cg2 c
        LEFT JOIN cgb ON c.doc_id = cgb.doc_id
        WHERE cgb.b IS NULL OR cgb.b <> 'tail'),
      cg4 AS (
        SELECT c.doc_id FROM cg3 c JOIN dlw ON c.doc_id = dlw.doc_id
        WHERE round(dlw.logw, 6) > 0),
      cga0 AS (SELECT CAST(count(*) AS BIGINT) AS d0 FROM documents),
      cga1 AS (SELECT CAST(count(*) AS BIGINT) AS d1,
                      CAST(sum(t.n_tokens) AS BIGINT) AS t1
               FROM cg1 JOIN cgtok t USING (doc_id)),
      cga2 AS (SELECT CAST(count(*) AS BIGINT) AS d2,
                      CAST(sum(t.n_tokens) AS BIGINT) AS t2
               FROM cg2 JOIN cgtok t USING (doc_id)),
      cga3 AS (SELECT CAST(count(*) AS BIGINT) AS d3,
                      CAST(sum(t.n_tokens) AS BIGINT) AS t3
               FROM cg3 JOIN cgtok t USING (doc_id)),
      cga4 AS (SELECT CAST(count(*) AS BIGINT) AS d4,
                      CAST(sum(t.n_tokens) AS BIGINT) AS t4
               FROM cg4 JOIN cgtok t USING (doc_id))
      SELECT * FROM (
        SELECT '1_exact_dedup' AS stage, d0 AS docs_in,
               d0 - d1 AS docs_removed, d1 AS docs_out,
               t1 AS tokens_out
        FROM cga0, cga1
        UNION ALL
        SELECT '2_quality_clf', d1, d1 - d2, d2, t2 FROM cga1, cga2
        UNION ALL
        SELECT '3_ppl_kn', d2, d2 - d3, d3, t3 FROM cga2, cga3
        UNION ALL
        SELECT '4_dsir', d3, d3 - d4, d4, t4 FROM cga3, cga4)
      ORDER BY stage""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val nTok = docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val s1 = Dedup.exactDups(docs).filter(!col("is_dup"))
        .select("doc_id")
      val thr = CurationQueries.qclfThreshold(s, dir)
      val clfP = graft.text.QualityClf.score(
          CurationQueries.qclfFeatY(s, dir),
          CurationQueries.qclfWeights(s, dir))
        .select(col("doc_id"), round(col("prob"), 9).as("p"))
      val s2 = s1.join(clfP, "doc_id").filter(col("p") >= thr)
        .select("doc_id")
      val knB = knBucketed(s, dir)
        .select(col("doc_id"), col("ppl_bucket").as("b"))
      val s3 = s2.join(knB, Seq("doc_id"), "left")
        .filter(col("b").isNull || col("b") =!= "tail")
        .select("doc_id")
      val s4 = s3.join(CurationQueries.dsirWeights(s, dir)
          .select(col("doc_id"), col("logw")), "doc_id")
        .filter(round(col("logw"), 6) > 0)
        .select("doc_id")
      def acc(df: DataFrame, dn: String, tn: String) =
        df.join(nTok, "doc_id")
          .agg(count(lit(1)).as(dn),
            sum("n_tokens").cast("long").as(tn))
      val a0 = docs.agg(count(lit(1)).as("d0"))
      val one = a0.crossJoin(acc(s1, "d1", "t1"))
        .crossJoin(acc(s2, "d2", "t2"))
        .crossJoin(acc(s3, "d3", "t3"))
        .crossJoin(acc(s4, "d4", "t4"))
        .graftCheckpoint()
      def row(stage: String, din: org.apache.spark.sql.Column,
          dout: org.apache.spark.sql.Column,
          tout: org.apache.spark.sql.Column) =
        one.select(lit(stage).as("stage"), din.as("docs_in"),
          (din - dout).as("docs_removed"), dout.as("docs_out"),
          tout.as("tokens_out"))
      row("1_exact_dedup", col("d0"), col("d1"), col("t1"))
        .unionByName(row("2_quality_clf", col("d1"), col("d2"),
          col("t2")))
        .unionByName(row("3_ppl_kn", col("d2"), col("d3"), col("t3")))
        .unionByName(row("4_dsir", col("d3"), col("d4"), col("t4")))
        .orderBy("stage")
    },



    // Document chunking for context windows: 64-token chunks with
    // 8-token overlap (stride 56). Pure per-doc arithmetic + explode —
    // embarrassingly parallel at corpus scale; spans are emitted as
    // token offsets, not text copies.
    Q("q_t_chunks", Some("""
      WITH d AS (
        SELECT doc_id, len(regexp_split_to_array(text, '[[:space:]]+')) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               greatest(1, (n_tokens - 8 + 55) // 56) AS n_chunks
        FROM d),
      ch AS (
        SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS chunk_idx,
               CAST(i * 56 AS BIGINT) AS start_tok,
               CAST(least(i * 56 + 64, n_tokens) AS BIGINT) AS end_tok
        FROM c, unnest(range(n_chunks)) r(i))
      SELECT doc_id, chunk_idx, start_tok, end_tok,
             end_tok - start_tok AS n_chunk_tokens,
             CAST(end_tok = n_tokens AS BOOLEAN) AS is_last
      FROM ch ORDER BY doc_id, chunk_idx""")) { (s, dir) =>
      val C = 64; val O = 8; val stride = C - O
      val d = t(s, dir, "documents").select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      val c = d.withColumn("n_chunks",
        greatest(lit(1), floor((col("n_tokens") - O + stride - 1)
          / lit(stride.toDouble)).cast("int")))
      c.select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0), col("n_chunks") - 1)).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("chunk_idx"),
          (col("i") * stride).cast("long").as("start_tok"),
          least(col("i") * stride + C, col("n_tokens")).cast("long")
            .as("end_tok"),
          col("n_tokens"))
        .withColumn("n_chunk_tokens", col("end_tok") - col("start_tok"))
        .withColumn("is_last", col("end_tok") === col("n_tokens"))
        .select("doc_id", "chunk_idx", "start_tok", "end_tok",
          "n_chunk_tokens", "is_last")
        .orderBy("doc_id", "chunk_idx")
    },



    // Context-window packing: docs packed into fixed 2048-token bins by
    // cumulative offset (deterministic doc_id order) — the sample-
    // packing shape; per-bin occupancy + fill rate. The cumulative sum
    // runs as a distributed two-pass prefix sum (Wins.prefixScan):
    // range-partition, per-partition totals, broadcast offsets — never
    // a single-task global window; everything else is a bin-keyed
    // aggregate.
    Q("q_t_pack", Some(s"""
      WITH ${graft.text.Bpe.oracleCtes(BpeMerges)},
      tk AS (
        SELECT doc_id, unnest(${graft.text.Bpe.ToksSql}) AS word
        FROM documents),
      d AS (
        SELECT t.doc_id, CAST(sum(len(w.s)) AS BIGINT) AS n_tokens
        FROM tk t JOIN bw_$BpeMerges w ON t.word = w.word
        GROUP BY 1),
      cum AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM d),
      binned AS (
        SELECT *, CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS bin_id
        FROM cum)
      SELECT bin_id, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(min(doc_id) AS BIGINT) AS first_doc,
             CAST(max(doc_id) AS BIGINT) AS last_doc,
             round(CAST(sum(n_tokens) AS DOUBLE) / 2048, 9) AS fill_rate
      FROM binned GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val target = 2048
      // the packing budget is REAL learned-BPE token counts (r10) —
      // the ceil(len/4) estimate retired to q_t_tokens_bpe's
      // pre-tokenizer accounting
      val d = t(s, dir, "documents").select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .join(bpeVocab(s, dir)
          .select(col("word"), size(col("syms")).as("np")), Seq("word"))
        .groupBy("doc_id")
        .agg(sum("np").cast("long").as("n_tokens"))
      val binned = graft.ops.Wins
        .prefixScan(d, Nil, Seq(col("doc_id")), col("n_tokens"), "cum_tokens")
        .withColumn("bin_id",
          floor((col("cum_tokens") - col("n_tokens"))
            / lit(target.toDouble)).cast("long"))
      binned.groupBy("bin_id").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          min("doc_id").cast("long").as("first_doc"),
          max("doc_id").cast("long").as("last_doc"),
          round(sum("n_tokens").cast("double") / target, 9)
            .as("fill_rate"))
        .orderBy("bin_id")
    },



    // Corpus curation end-to-end: the C4-style selection pipeline —
    // quality gates (token count / quality score / digit ratio), exact
    // dedup keeper, then a quality-ranked token budget (60% of surviving
    // tokens). The ranked budget needs a total ORDER but not a single
    // task: rank + cumulative tokens come from the distributed two-pass
    // prefix sum (Wins.prefixScan) over (quality desc, doc_id), so
    // every stage — gates, keeper, budget — stays embarrassingly
    // parallel.
    Q("q_corpus_curate", Some {
      val scoreCols = TextOps.LangMarkers.map { case (l, ms) =>
        val in = ms.map(m => s"'$m'").mkString("(", ", ", ")")
        s"len(list_filter(t, x -> x IN $in)) AS score_$l"
      }.mkString(",\n             ")
      val langs = TextOps.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
      val pred = langs.map(l => s"WHEN score_$l = $best THEN '$l'")
        .mkString("CASE ", " ", " END")
      s"""
      WITH b AS (
        SELECT doc_id, lang, text, regexp_split_to_array(text, '[[:space:]]+') AS t,
               length(text) AS nc FROM documents),
      feat AS (
        SELECT doc_id, lang,
             len(t) AS n_tokens,
             round(CAST(nc - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE) / nc, 9) AS digit_ratio,
             round(0.4 * (CAST(least(nc, 400) AS DOUBLE) / 400.0)
               + 0.4 * (1.0 - CAST(nc - length(regexp_replace(text, '[0-9]',
                   '', 'g')) AS DOUBLE) / nc)
               + 0.2 * least((CAST(len(list_filter(t, x -> x IN $stop))
                   AS DOUBLE) / len(t)) * 4.0, 1.0), 9) AS quality_score,
             $scoreCols
        FROM b),
      pr AS (SELECT *, $pred AS predicted FROM feat),
      fp AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM documents),
      surv AS (
        SELECT p.doc_id, p.lang, p.predicted, p.n_tokens, p.quality_score
        FROM pr p JOIN fp ON p.doc_id = fp.doc_id
        WHERE fp.doc_id = fp.keep_id
          AND p.n_tokens >= 10 AND p.quality_score >= 0.5
          AND p.digit_ratio <= 0.3),
      bud AS (SELECT CAST(floor(0.6 * sum(n_tokens)) AS BIGINT) AS budget
              FROM surv),
      ranked AS (
        SELECT *,
          CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
            AS BIGINT) AS rnk,
          CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM surv)
      SELECT doc_id, lang, predicted, n_tokens, quality_score, rnk,
             cum_tokens
      FROM ranked, bud WHERE cum_tokens <= bud.budget ORDER BY rnk"""
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val feat = docs.select(
        Seq(col("doc_id"), col("lang"))
          ++ TextOps.qualityFeatures(col("text"))
          ++ TextOps.langScores(col("text")): _*)
        .withColumn("predicted", TextOps.predictedLang)
      val keepW = Window.partitionBy(md5(col("text").cast("binary")))
      val fp = docs.select(col("doc_id"),
        min("doc_id").over(keepW).as("keep_id"))
      // Materialize the slim survivor frame ONCE: the interpreted HOF
      // feature battery (qualityFeatures/langScores lambdas — no
      // codegen) would otherwise run twice, for the budget aggregate AND
      // for prefixScan's own checkpoint. One narrow row per surviving
      // doc, so the checkpoint is bounded by corpus cardinality.
      val surv = feat.join(fp, Seq("doc_id"))
        .filter(col("doc_id") === col("keep_id")
          && col("n_tokens") >= 10 && col("quality_score") >= 0.5
          && col("digit_ratio") <= 0.3)
        .select("doc_id", "lang", "predicted", "n_tokens", "quality_score")
        .graftCheckpoint()
      val bud = surv.agg(
        floor(lit(0.6) * sum("n_tokens")).cast("long").as("budget"))
      val ranked = graft.ops.Wins.prefixScan(surv, Nil,
        Seq(col("quality_score").desc, col("doc_id")), col("n_tokens"),
        "cum_tokens", outRank = Some("rnk"))
      ranked.crossJoin(broadcast(bud))
        .filter(col("cum_tokens") <= col("budget"))
        .select("doc_id", "lang", "predicted", "n_tokens",
          "quality_score", "rnk", "cum_tokens")
        .orderBy("rnk")
    },



    // TF-IDF keyword extraction: smoothed idf, length-normalized tf,
    // top-3 terms per doc (rounded-score + term tie-break so ranking is
    // reproducible across engines). One term-keyed shuffle for df, one
    // doc-keyed window for top-k — linear at corpus scale.
    // Vocabulary builder: top-100 terms by corpus frequency with
    // per-term share and cumulative coverage — what a WordPiece/BPE
    // trainer consumes and the OOV-rate curve falls out of. Scale
    // shape: one map-side-combined term count, then TakeOrdered for
    // the top slice (never a global sort); the rank/coverage window
    // runs over the ≤100-row post-limit report table (SURVEY A14's
    // own shape).
    Q("q_t_vocab", Some("""
      WITH tk AS (
        SELECT unnest(regexp_split_to_array(text, '[[:space:]]+')) AS term FROM documents),
      tot AS (SELECT count(*) AS n FROM tk),
      top AS (
        SELECT term, count(*) AS cnt FROM tk GROUP BY 1
        ORDER BY cnt DESC, term LIMIT 100),
      r AS (
        SELECT term, cnt,
               row_number() OVER (ORDER BY cnt DESC, term) AS rank,
               sum(cnt) OVER (ORDER BY cnt DESC, term
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM top)
      SELECT rank, term, CAST(cnt AS BIGINT) AS cnt,
             round(CAST(cnt AS DOUBLE) / (SELECT n FROM tot), 9)
               AS share,
             round(CAST(cum AS DOUBLE) / (SELECT n FROM tot), 9)
               AS cum_share
      FROM r ORDER BY rank""")) { (s, dir) =>
      val tk = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      val tot = tk.agg(count(lit(1)).as("n"))
      val top = tk.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(100)
      // global rank + prefix sum WITHOUT the single-task unpartitioned
      // window (Wins.boundedRanks over the post-limit ≤100-row table —
      // total (cnt desc, term) order, so row_number and the ROWS-frame
      // cumsum are bit-identical)
      graft.ops.Wins.boundedRanks(top,
          Seq((col("cnt"), false), (col("term"), true)),
          outRow = Some("rank"), cumSum = Some((col("cnt"), "cum")))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("term"), col("cnt"),
          round(col("cnt").cast("double") / col("n"), 9).as("share"),
          round(col("cum").cast("double") / col("n"), 9).as("cum_share"))
        .orderBy("rank")
    },



    Q("q_t_tfidf", Some("""
      WITH tk AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '[[:space:]]+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1),
      dfreq AS (SELECT term, count(*) AS df FROM
        (SELECT DISTINCT doc_id, term FROM tk) GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT t.doc_id, t.term, t.tf, f.df,
               round((CAST(t.tf AS DOUBLE) / dl.n_tok)
                 * (ln((nn.n + 1.0) / (f.df + 1.0)) + 1.0), 9) AS tfidf
        FROM tf t JOIN dl USING (doc_id) JOIN dfreq f USING (term)
        CROSS JOIN nn)
      SELECT doc_id, term, tf, df, tfidf, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY tfidf DESC, term) AS rnk FROM scored)
      WHERE rnk <= 3 ORDER BY doc_id, rnk""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tk = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val dfreq = tk.distinct().groupBy("term")
        .agg(count(lit(1)).as("df"))
      val nn = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dl, "doc_id").join(dfreq, "term")
        .crossJoin(broadcast(nn))
        .withColumn("tfidf",
          round((col("tf").cast("double") / col("n_tok"))
            * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0), 9))
      scored
        .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term"))))
        .filter(col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    },



    // BM25 retrieval scoring — the ranking function data curation uses
    // to select domain-matching documents (tf saturation via k1=1.2,
    // length normalization via b=0.75), scored for a fixed 3-term
    // query against the corpus. Same two shuffles as TF-IDF (term df +
    // doc length); per-term scores stay unrounded, the 3-term per-doc
    // sum goes through DECIMAL(38,18) (order-free), round-9 out. The
    // k1+1 / 1−b constants are written literally (2.2 / 0.25) on both
    // sides — computing them lands on different doubles.
    Q("q_t_bm25", Some("""
      WITH tk AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '[[:space:]]+')) AS term
        FROM documents),
      qt (term) AS (VALUES ('join'), ('hash'), ('scan')),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tk
        WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1),
      avgdl AS (
        SELECT CAST(sum(n_tok) AS DOUBLE) / count(*) AS adl FROM dl),
      dfreq AS (SELECT term, count(*) AS df FROM
        (SELECT DISTINCT doc_id, term FROM tk
         WHERE term IN (SELECT term FROM qt)) GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM documents),
      terms AS (
        SELECT t.doc_id,
               ln(1.0 + (nn.n - f.df + 0.5) / (f.df + 0.5))
                 * (CAST(t.tf AS DOUBLE) * 2.2)
                 / (t.tf + 1.2 * (0.25 + 0.75
                   * (CAST(dl.n_tok AS DOUBLE) / av.adl))) AS ts
        FROM tf t JOIN dl USING (doc_id) JOIN dfreq f USING (term)
        CROSS JOIN nn CROSS JOIN avgdl av),
      scored AS (
        SELECT doc_id,
               round(CAST(sum(CAST(ts AS DECIMAL(38,18))) AS DOUBLE),
                 9) AS bm25
        FROM terms GROUP BY 1)
      SELECT doc_id, bm25, rnk FROM (
        SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id)
          AS rnk FROM scored)
      WHERE rnk <= 20 ORDER BY rnk""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val qTerms = Seq("join", "hash", "scan")
      val tk = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val tf = tk.filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val avgdl = dl.agg((sum("n_tok").cast("double")
        / count(lit(1))).as("adl"))
      val dfreq = tk.filter(col("term").isin(qTerms: _*))
        .select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val nn = docs.agg(count(lit(1)).as("n"))
      val terms = tf.join(dl, "doc_id").join(dfreq, "term")
        .crossJoin(broadcast(nn)).crossJoin(broadcast(avgdl))
        .select(col("doc_id"),
          (log(lit(1.0) + (col("n") - col("df") + 0.5)
              / (col("df") + 0.5))
            * (col("tf").cast("double") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75)
              * (col("n_tok").cast("double") / col("adl"))))).as("ts"))
      val scored = terms.groupBy("doc_id")
        .agg(round(sum(col("ts").cast("decimal(38,18)")).cast("double"),
          9).as("bm25"))
      // top-20 WITHOUT ranking the whole per-doc score table through a
      // single-task unpartitioned window: orderBy+limit is a parallel
      // TakeOrdered over the same total (bm25 desc, doc_id) order, and
      // Wins.boundedRanks stamps bit-identical row_numbers on the
      // 20 survivors
      scored.orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .transform(df => graft.ops.Wins.boundedRanks(df,
          Seq((col("bm25"), false), (col("doc_id"), true)),
          outRow = Some("rnk")))
        .select("doc_id", "bm25", "rnk")
        .orderBy("rnk")
    },



    // Filter-AGREEMENT matrix: pairwise agreement between the four
    // per-doc quality/selection signals the curation stack runs —
    // heuristic battery pass, perplexity non-tail, trained-classifier
    // positive, DSIR target-likeness (logw > 0). The row a pipeline
    // owner reads to see which filters are redundant and which carry
    // independent signal (the quality trio should correlate; DSIR is
    // DOMAIN match and should not — this row MEASURES the separation
    //-of-concerns claim instead of asserting it). One shuffle to the
    // 4-per-doc long form, one pair join keyed by doc (fanout exactly
    // 6 rows per doc), exact-count ratios.
    Q("q_t_filter_agreement", Some(s"""
      WITH ${CurationQueries.qclfCtes},
      ${CurationQueries.dsirCtes.trim},
      ${pplCtes.trim},
      fam AS (
        SELECT f.doc_id,
               CAST(sum(CAST(f.x * w.w AS DECIMAL(38,18))) AS DOUBLE)
                 AS margin
        FROM qcf f JOIN qcw${CurationQueries.QcIters} w USING (bk)
        GROUP BY 1),
      fah AS (
        SELECT doc_id,
               (len(t) >= 10
                AND round(0.4 * (CAST(least(nc, 400) AS DOUBLE) / 400.0)
                  + 0.4 * (1.0 - CAST(nc - length(regexp_replace(text,
                      '[0-9]', '', 'g')) AS DOUBLE) / nc)
                  + 0.2 * least((CAST(len(list_filter(t,
                      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                      AS DOUBLE) / len(t)) * 4.0, 1.0), 9) >= 0.5
                AND round(CAST(nc - length(regexp_replace(text, '[0-9]',
                      '', 'g')) AS DOUBLE) / nc, 9) <= 0.3) AS pass
        FROM qcd),
      fapk AS (
        SELECT d.doc_id, $pplBucketCase AS b
        FROM pb_d d JOIN pb_cut c USING (lang)),
      fal AS (
        SELECT doc_id, 'clf' AS f, margin > 0 AS pass FROM fam
        UNION ALL
        SELECT doc_id, 'dsir', round(logw, 6) > 0 FROM dlw
        UNION ALL
        SELECT doc_id, 'heuristic', pass FROM fah
        UNION ALL
        SELECT d.doc_id, 'ppl', (pk.b IS NULL OR pk.b <> 'tail')
        FROM documents d LEFT JOIN fapk pk ON d.doc_id = pk.doc_id),
      faj AS (
        SELECT a.f AS filter_a, b.f AS filter_b,
               a.pass AS pa, b.pass AS pb
        FROM fal a JOIN fal b
          ON a.doc_id = b.doc_id AND a.f < b.f)
      SELECT filter_a, filter_b,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN pa THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_a,
             CAST(sum(CASE WHEN pb THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_b,
             CAST(sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END) AS BIGINT)
               AS both_pass,
             CAST(sum(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
             round(CAST(sum(CASE WHEN pa = pb THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 9) AS agree_rate,
             round(CASE WHEN sum(CASE WHEN pa OR pb THEN 1 ELSE 0 END)
               > 0 THEN CAST(sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END)
                 AS DOUBLE)
                 / sum(CASE WHEN pa OR pb THEN 1 ELSE 0 END) END, 9)
               AS pass_jaccard
      FROM faj GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val q = docs.select(col("doc_id") +:
        TextOps.qualityFeatures(col("text")): _*)
      val heur = q.select(col("doc_id"),
        (col("n_tokens") >= 10 && col("quality_score") >= 0.5 &&
          col("digit_ratio") <= 0.3).as("pass"))
      val ppl = docs.select("doc_id")
        .join(pplBucketed(s, dir).select(col("doc_id"),
          col("ppl_bucket")), Seq("doc_id"), "left")
        .select(col("doc_id"), (col("ppl_bucket").isNull ||
          col("ppl_bucket") =!= "tail").as("pass"))
      val clf = graft.text.QualityClf.score(
          CurationQueries.qclfFeatY(s, dir),
          CurationQueries.qclfWeights(s, dir))
        .select(col("doc_id"), col("pred").as("pass"))
      val dsir = CurationQueries.dsirWeights(s, dir)
        .select(col("doc_id"), (round(col("logw"), 6) > 0).as("pass"))
      val long = clf.select(col("doc_id"), lit("clf").as("f"),
          col("pass"))
        .unionByName(dsir.select(col("doc_id"), lit("dsir").as("f"),
          col("pass")))
        .unionByName(heur.select(col("doc_id"),
          lit("heuristic").as("f"), col("pass")))
        .unionByName(ppl.select(col("doc_id"), lit("ppl").as("f"),
          col("pass")))
      val a = long.select(col("doc_id"), col("f").as("filter_a"),
        col("pass").as("pa"))
      val b = long.select(col("doc_id"), col("f").as("filter_b"),
        col("pass").as("pb"))
      a.join(b, Seq("doc_id"))
        .filter(col("filter_a") < col("filter_b"))
        .groupBy("filter_a", "filter_b")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pa"), 1L).otherwise(0L)).as("pass_a"),
          sum(when(col("pb"), 1L).otherwise(0L)).as("pass_b"),
          sum(when(col("pa") && col("pb"), 1L).otherwise(0L))
            .as("both_pass"),
          sum(when(col("pa") === col("pb"), 1L).otherwise(0L))
            .as("n_agree"),
          round(sum(when(col("pa") === col("pb"), 1.0).otherwise(0.0))
            / count(lit(1)), 9).as("agree_rate"),
          round(when(sum(when(col("pa") || col("pb"), 1L)
              .otherwise(0L)) > 0,
            sum(when(col("pa") && col("pb"), 1.0).otherwise(0.0))
              / sum(when(col("pa") || col("pb"), 1L).otherwise(0L)))
            , 9).as("pass_jaccard"))
        .orderBy("filter_a", "filter_b")
    }
  )

}
