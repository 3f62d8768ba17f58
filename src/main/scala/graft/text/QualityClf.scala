package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained quality classifier — the fastText-style supervised filter
  * (Joulin et al. 2016) of the GPT-3/CCNet/RefinedWeb curation lineage:
  * a linear classifier over hashed bag-of-n-gram features that scores
  * "does this document look like the reference-quality corpus", run
  * alongside the heuristic battery (TextOps.qualityFeatures), the
  * perplexity buckets, and the DSIR weights. Separation of concerns:
  * the CLASSIFIER scores quality (trained against a quality-labeled
  * reference), DSIR scores domain match (unsupervised distribution
  * ratio) — a production stack runs both.
  *
  * Labels are weak supervision, the production pattern: the positive
  * class is a trusted reference slice. GPT-3 used WebText-vs-crawl;
  * here the trusted reference is the heuristic battery's top band
  * (round-9 quality_score ≥ `posThreshold`), so the classifier
  * DISTILLS the battery into a gram-hash linear scorer that serves new
  * documents without recomputing per-doc ratio features — and, unlike
  * the battery, generalizes from vocabulary, not hand-set thresholds.
  *
  * Features are the DSIR featurization under its own salt (`qclf_`):
  * every unigram and adjacent bigram hashes into one of `nBuckets`
  * buckets (TextOps.hashMod — portable md5, identical in DuckDB), and
  * the per-doc vector is the L1-normalized bucket count x_b = n_b / N_d
  * (fastText's mean-of-gram-vectors is exactly this for a linear
  * model), plus a constant bias feature at bucket −1 and ONE dense
  * document statistic at bucket B: the saturating length score
  * min(chars, 400)/400. Normalized bag features erase document length
  * by construction, and length is the single strongest quality signal
  * (the battery weights it 0.4) — mixing a cheap dense stat into the
  * sparse gram features is the production quality-stack convention
  * (RefinedWeb/CCNet-style classifiers score on text features plus
  * doc-level stats). Measured on the fixtures: grams-only GD plateaus
  * at the 0.51 base rate; with the length feature the same GD reaches
  * ~0.95 train accuracy.
  *
  * The fit is full-batch gradient descent on logistic loss, pinned so
  * an unrolled SQL oracle reproduces every iteration bit-for-bit (the
  * LloydKmeans/BPE discipline — the TRAINED WEIGHTS are hash-checked,
  * not just a frozen scoring pass):
  *  - init w = 0 (bias included) — deterministic, no RNG;
  *  - margin_d = Σ_b x_{d,b}·w_b accumulated through exact
  *    DECIMAL(38,18) per-term sums (aggregation-order-free; identical
  *    doubles in, identical double out);
  *  - err_d = round(σ(margin_d) − y_d, 9) — the ONE libm seam: the two
  *    engines' exp() may differ at ulp level, and round-9 collapses
  *    that before it can feed back into the recursion (the same reason
  *    PinnedGmm hoists libm to driver constants);
  *  - grad_b = Σ_d err_d·x_{d,b} (exact decimal sum), then
  *    w_b ← w_b − lr·(grad_b / n_docs) — IEEE ops on identical inputs.
  *  By induction the weight vector after every iteration is
  *  bit-identical across engines.
  *
  * Scale shape: the textbook distributed GD — the model is ≤ B+1
  * doubles of driver state riding each round's fold; one setup shuffle
  * groups each doc's feature rows, and every round is ONE fold over the
  * sized, cached docs ([[graft.ml.FitRounds]]) producing ≤ B+2 exact
  * decimal gradient partials. Nothing driver-side ever grows with
  * corpus size beyond one task's budget; at 100 TB this is MLlib
  * LogisticRegression's aggregate-per-iteration shape (a full pass per
  * iteration), minus the nondeterminism (tree-aggregation float order)
  * that would break the oracle.
  */
object QualityClf {

  /** Per-doc binary label `(doc_id, y)` — y ∈ {1.0, 0.0}: the round-9
    * heuristic quality score (battery parity already hash-proven by
    * q_t_quality) at or above the reference threshold. */
  def labels(docs: DataFrame, posThreshold: Double): DataFrame =
    docs.select(col("doc_id") +:
        TextOps.qualityFeatures(col("text")): _*)
      .select(col("doc_id"),
        when(col("quality_score") >= posThreshold, 1.0).otherwise(0.0)
          .as("y"))

  /** Hashed-gram feature rows `(doc_id, bk, x)` — one row per bucket
    * the doc touches (x = bucket count / total gram count, an exact
    * long/long division), plus the bias row (bk = −1, x = 1) and the
    * dense length-score row (bk = nBuckets, x = min(chars, 400)/400 —
    * exact int arithmetic then one division, identical cross-engine).
    * Map-only up to the per-doc count aggregate. */
  def features(docs: DataFrame, nBuckets: Int): DataFrame = {
    val b = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    val uni = b.select(col("doc_id"), explode(col("t")).as("g"))
    val bgArr = when(size(col("t")) >= 2,
      transform(sequence(lit(0), size(col("t")) - 2),
        i => concat_ws(" ", element_at(col("t"), i + 1),
          element_at(col("t"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val bg = b.select(col("doc_id"), explode(bgArr).as("g"))
    val grams = uni.unionAll(bg).select(col("doc_id"),
      (TextOps.hashMod(concat(lit("qclf_"), col("g"))) % nBuckets)
        .as("bk"))
    val n = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val bk = grams.groupBy("doc_id", "bk").agg(count(lit(1)).as("nb"))
    bk.join(n, "doc_id")
      .select(col("doc_id"), col("bk"),
        (col("nb").cast("double") / col("n_grams")).as("x"))
      .unionAll(n.select(col("doc_id"), lit(-1L).as("bk"),
        lit(1.0).as("x")))
      .unionAll(docs.select(col("doc_id"),
        lit(nBuckets.toLong).as("bk"),
        (least(length(col("text")), lit(400)).cast("double") / 400.0)
          .as("x")))
  }

  /** The fitted model: bucket → weight (bucket −1 = bias), all B+1
    * keys present. */
  type Weights = Map[Long, Double]

  private def weightMapCol(w: Weights): Column =
    map(w.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  /** Raw per-doc margin under `w` over a feature frame — the exact
    * decimal window dot product (doc-partitioned, no join). */
  private def marginCol(w: Weights): Column =
    sum((col("x") * element_at(weightMapCol(w), col("bk")))
      .cast("decimal(38,18)"))
      .over(Window.partitionBy("doc_id")).cast("double")

  /** `iters` full-batch logistic GD rounds over `featY(doc_id, y, bk,
    * x)`. `nDocs` is the labeled doc count (the gradient normalizer).
    *
    * One setup shuffle groups each doc's feature rows together, and
    * [[graft.ml.FitRounds]] sizes and caches the grouped docs once:
    * each round is a single fold producing ≤ B+2 partial decimal sums
    * (on the driver, or one map-side job per round when spread) with
    * zero per-round planning. Bit-identical to the retired per-round
    * column program by construction (locked in QualityClfSpec). */
  def fit(featY: DataFrame, nBuckets: Int, lr: Double, iters: Int,
      nDocs: Double): Weights = {
    val rounds = docs(featY, iters)
    try fitOn(rounds, nBuckets, lr, iters, nDocs)
    finally rounds.close()
  }

  /** Feature terms (a doc's feature rows) in one partition of a spread
    * fit, and the most a fit folds on the driver. A GD round costs
    * 2.5 µs per term (two DECIMAL(38,18) products per term, measured
    * over the sf0.01 documents, 4-core host) against J ≈ 40–60 ms for
    * the job a spread round rides in (graft.ml.Hmm.PointsPerPart has
    * the job measurements), so two tasks beat the driver fold only
    * above 2J/c ≈ 32–48k terms; 40k terms is ~100 ms of arithmetic per
    * partition. */
  private[graft] val TermsPerPart = 40960L

  /** The per-doc-grouped `(y, bks, xs)` rows of a feature frame as a
    * fit's rounds — one groupBy shuffle at setup, weighed in feature
    * terms. Row order within a doc is free: every per-doc and
    * per-bucket sum in the round is an exact DECIMAL(38,18)
    * accumulation. */
  private[graft] def docs(featY: DataFrame, iters: Int,
      perPart: Long = TermsPerPart)
      : graft.ml.FitRounds[(Double, Array[Long], Array[Double])] =
    graft.ml.FitRounds("quality clf", iters,
      featY.groupBy("doc_id", "y")
        .agg(collect_list(struct(col("bk"), col("x"))).as("fs"))
        .select(col("y"), col("fs"))
        .rdd.map { r =>
          val fs = r.getSeq[org.apache.spark.sql.Row](1)
          val bks = new Array[Long](fs.size)
          val xs = new Array[Double](fs.size)
          var i = 0
          fs.foreach { f =>
            bks(i) = f.getLong(0); xs(i) = f.getDouble(1); i += 1 }
          (r.getDouble(0), bks, xs)
        },
      (d: (Double, Array[Long], Array[Double])) => d._2.length.toLong,
      perPart)

  /** The GD rounds of [[fit]] from w = 0 over slots −1 (bias) ..
    * nBuckets (dense length feature), inclusive. */
  private[graft] def fitOn(
      rounds: graft.ml.FitRounds[(Double, Array[Long], Array[Double])],
      nBuckets: Int, lr: Double, iters: Int, nDocs: Double): Weights = {
    var w: Weights = (-1L to nBuckets.toLong).map(_ -> 0.0).toMap
    for (i <- 1 to iters)
      w = fitRound(rounds, i, lr, nDocs, w)
    w
  }

  /** GD round `i` over the grouped docs — the JVM twin of the retired
    * column program, bit-identical by construction:
    *  - margin: CAST(Σ_doc CAST(x·w(bk) AS DECIMAL(38,18)) AS DOUBLE)
    *    — order-free exact decimal terms (graft.functions.VecDecimal
    *    cast contract: NaN/Inf/precision-overflow terms are null and
    *    skipped, an all-null doc has a null margin);
    *  - err: round(1/(1+exp(−margin)) − y, 9) — same JVM libm exp,
    *    same decimal-string HALF_UP round;
    *  - gradient: per-bucket CAST(Σ CAST(err·x AS DECIMAL(38,18)) AS
    *    DOUBLE), partials merged by exact decimal adds;
    *  - update: w − lr·(g/nDocs) in IEEE doubles, buckets with no
    *    (non-null) terms contribute 0 (a precision-overflowed bucket
    *    sum also reads 0 — the column program's collect would have
    *    NPE'd on that null cell; unreachable below |sum| ≥ 1e20, so
    *    the parity specs cannot cover it and the graceful fallback is
    *    intentional). */
  private[graft] def fitRound(
      rounds: graft.ml.FitRounds[(Double, Array[Long], Array[Double])],
      i: Int, lr: Double, nDocs: Double, w: Weights): Weights = {
    val wArr = w
    type Acc = scala.collection.mutable.HashMap[Long, java.math.BigDecimal]
    val g = rounds.round(i)(() => new Acc) { case (acc, (y, bks, xs)) =>
      var m: java.math.BigDecimal = null
      var j = 0
      while (j < bks.length) {
        val b = graft.functions.VecDecimal.dec18(xs(j) * wArr(bks(j)))
        if (b != null) m = if (m == null) b else m.add(b)
        j += 1
      }
      // sum(decimal(38,18)) nulls on precision overflow (non-ANSI)
      if (m != null && m.precision <= 38) {
        val err = graft.functions.VecDecimal.roundD(
          1.0 / (1.0 + math.exp(-m.doubleValue)) - y, 9)
        j = 0
        while (j < bks.length) {
          val t = graft.functions.VecDecimal.dec18(err * xs(j))
          if (t != null) {
            val prev = acc.getOrElse(bks(j), null)
            acc(bks(j)) = if (prev == null) t else prev.add(t)
          }
          j += 1
        }
      }
      acc
    } { (a, b) =>
      b.foreach { case (k, v) =>
        val prev = a.getOrElse(k, null)
        a(k) = if (prev == null) v else prev.add(v)
      }
      a
    }
    w.map { case (bk, wv) =>
      val gv = g.get(bk) match {
        case Some(s) if s.precision <= 38 => s.doubleValue
        case _ => 0.0
      }
      bk -> (wv - lr * (gv / nDocs))
    }
  }

  /** Per-doc scoring under a fitted model via the batch (exact-decimal
    * aggregate) path: `(doc_id, y, margin, prob, pred)` with margin
    * raw (callers round at the emit boundary). */
  def score(featY: DataFrame, w: Weights): DataFrame =
    featY.withColumn("margin", marginCol(w))
      .groupBy("doc_id", "y")
      .agg(first("margin").as("margin"))
      .select(col("doc_id"), col("y"), col("margin"),
        (lit(1.0) / (lit(1.0) + exp(-col("margin")))).as("prob"),
        (col("margin") > 0).as("pred"))

  /** STATELESS per-row scorer against a frozen model — the serving
    * shape (Dsir.scoreRowwise contract): the B+1 weights ride the plan
    * as a map literal, scoring is a map-only gram fold — no shuffle,
    * no state, identical on a batch frame and a Structured Streaming
    * micro-batch. The float fold order differs from the batch decimal
    * sum by < 1e-12, which the emit-boundary round-6 absorbs. */
  def scoreRowwise(docs: DataFrame, nBuckets: Int, w: Weights)
      : DataFrame = {
    val mapCol = weightMapCol(w)
    val toks = TextOps.tokens(col("text"))
    val bgArr = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val grams = concat(toks, bgArr)
    val bucket = (g: Column) =>
      TextOps.hashMod(concat(lit("qclf_"), g)) % nBuckets
    val gsum = aggregate(grams, lit(0.0d),
      (acc, g) => acc + element_at(mapCol, bucket(g)))
    val lenX = least(length(col("text")), lit(400)).cast("double") / 400.0
    val margin = element_at(mapCol, lit(-1L)) +
      gsum / size(grams).cast("double") +
      element_at(mapCol, lit(nBuckets.toLong)) * lenX
    docs.withColumn("margin", margin)
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("margin"))))
      .withColumn("pred", col("margin") > 0)
  }

  /** Operating-point metrics over a [[score]]d frame, one row per
    * DECILE-BOUNDARY candidate threshold t ∈ {0.0, 0.1, …, 0.9}:
    * docs kept at p ≥ t, true positives among them, and the achieved
    * precision/recall against the weak labels — the
    * q_t_quality_clf_calibration curve turned into the table a
    * threshold-picker actually reads. Probabilities round-9 BEFORE
    * comparison (the libm seam), candidates are i/10.0 IEEE
    * divisions — identical on both engines, so every count is exact.
    * 10 rows out; one bounded aggregation over the scored frame. */
  def thresholdMetrics(scored: DataFrame): DataFrame =
    scored
      .select(round(col("prob"), 9).as("p"),
        (col("y") === 1.0).as("label"),
        explode(array((0 until 10).map(i => lit(i / 10.0)): _*))
          .as("thr"))
      .groupBy("thr")
      .agg(
        sum(when(col("p") >= col("thr"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("p") >= col("thr") && col("label"), 1L)
          .otherwise(0L)).as("n_tp"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("thr"), col("n_kept"), col("n_tp"), col("n_pos"),
        round(when(col("n_kept") > 0,
          col("n_tp").cast("double") / col("n_kept")), 9).as("prec"),
        round(when(col("n_pos") > 0,
          col("n_tp").cast("double") / col("n_pos")), 9).as("rec"))

  /** Threshold choice from collected (thr, prec) metric rows: the
    * SMALLEST decile boundary whose achieved precision meets the
    * target — maximum recall at the precision the pipeline owner
    * asked for — falling back to the LARGEST boundary (the most
    * conservative gate) when no decile reaches it. Null precision
    * (empty keep set) never qualifies. Pure, deterministic, mirrored
    * verbatim by [[oracleThresholdCtes]]'s qcpick. */
  def chooseThreshold(metrics: Seq[(Double, Option[Double])],
      targetPrecision: Double): Double = {
    val sorted = metrics.sortBy(_._1)
    sorted.collectFirst {
      case (thr, Some(p)) if p >= targetPrecision => thr
    }.getOrElse(sorted.last._1)
  }

  /** Threshold-selection oracle chain — requires [[oracleSql]]'s
    * qcf/qcy/qcw$iters CTEs earlier in the same WITH. Ends at
    * `qcpt(doc_id, p, label)` (every doc's round-9 probability under
    * the final weights) and the ONE-row `qcpick(thr, n_kept, n_tp,
    * n_pos, prec, rec)` — the [[chooseThreshold]] rule verbatim:
    * smallest qualifying decile, else the largest. */
  def oracleThresholdCtes(iters: Int, targetPrecision: Double)
      : String = s"""
      qcmt AS (
        SELECT f.doc_id,
               CAST(sum(CAST(f.x * w.w AS DECIMAL(38,18))) AS DOUBLE)
                 AS margin
        FROM qcf f JOIN qcw$iters w USING (bk) GROUP BY 1),
      qcpt AS MATERIALIZED (
        SELECT m.doc_id, round(1.0 / (1.0 + exp(-m.margin)), 9) AS p,
               y.y = 1.0 AS label
        FROM qcmt m JOIN qcy y USING (doc_id)),
      qcmet AS MATERIALIZED (
        SELECT c.thr,
               CAST(sum(CASE WHEN q.p >= c.thr THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN q.p >= c.thr AND q.label
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
               CAST(sum(CASE WHEN q.label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pos
        FROM (SELECT range / 10.0 AS thr FROM range(10)) c
        CROSS JOIN qcpt q GROUP BY 1),
      qcmet2 AS MATERIALIZED (
        SELECT thr, n_kept, n_tp, n_pos,
               CASE WHEN n_kept > 0 THEN
                 round(CAST(n_tp AS DOUBLE) / n_kept, 9) END AS prec,
               CASE WHEN n_pos > 0 THEN
                 round(CAST(n_tp AS DOUBLE) / n_pos, 9) END AS rec
        FROM qcmet),
      qcpick AS MATERIALIZED (
        SELECT * FROM (
          SELECT * FROM qcmet2 WHERE prec >= $targetPrecision
          ORDER BY thr LIMIT 1)
        UNION ALL
        SELECT * FROM (SELECT * FROM qcmet2 ORDER BY thr DESC LIMIT 1)
        WHERE NOT EXISTS (
          SELECT 1 FROM qcmet2 WHERE prec >= $targetPrecision))"""

  /** Unrolled DuckDB oracle over `documents`: feature/label CTEs plus
    * one (margin, err, grad, weights) CTE block per GD round, ending in
    * CTE `qcw$iters(bk, w)` — the mirror of [[fit]], bit-for-bit (see
    * the object scaladoc for why parity holds). `fitPred` restricts the
    * GD (margins, gradients via the inner join, and the normalizer
    * count) to a doc slice — the held-out evaluation fits on
    * `doc_id % 5 <> 0`; feature and label CTEs stay full-corpus so the
    * FINAL scoring pass can read every doc. */
  def oracleSql(hsql: String => String, nBuckets: Int, lr: Double,
      iters: Int, posThreshold: Double,
      fitPred: String = "TRUE"): String = {
    val base = s"""
      qcd AS (
        SELECT doc_id, text,
               regexp_split_to_array(text, '[[:space:]]+') AS t,
               length(text) AS nc
        FROM documents),
      qcy AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN round(0.4 * (CAST(least(nc, 400) AS DOUBLE) / 400.0)
                 + 0.4 * (1.0 - CAST(nc - length(regexp_replace(text,
                     '[0-9]', '', 'g')) AS DOUBLE) / nc)
                 + 0.2 * least((CAST(len(list_filter(t,
                     x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                     AS DOUBLE) / len(t)) * 4.0, 1.0), 9)
                 >= $posThreshold THEN 1.0 ELSE 0.0 END AS y
        FROM qcd),
      qcg AS MATERIALIZED (
        SELECT doc_id, unnest(t) AS g FROM qcd
        UNION ALL
        SELECT doc_id, unnest(list_transform(range(len(t) - 1),
          i -> t[i+1] || ' ' || t[i+2])) AS g FROM qcd),
      qcn AS MATERIALIZED (SELECT doc_id, count(*) AS n_grams FROM qcg GROUP BY 1),
      qcf AS MATERIALIZED (
        SELECT b.doc_id, b.bk, CAST(b.nb AS DOUBLE) / n.n_grams AS x
        FROM (SELECT doc_id, ${hsql("'qclf_' || g")} % $nBuckets AS bk,
                count(*) AS nb
              FROM qcg GROUP BY 1, 2) b
        JOIN qcn n USING (doc_id)
        UNION ALL
        SELECT doc_id, -1 AS bk, 1.0 AS x FROM qcn
        UNION ALL
        SELECT doc_id, $nBuckets AS bk,
               CAST(least(nc, 400) AS DOUBLE) / 400.0 AS x FROM qcd),
      qcnd AS MATERIALIZED (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM qcy
        WHERE $fitPred),
      qcw0 AS MATERIALIZED (
        SELECT range AS bk, 0.0 AS w FROM range(-1, $nBuckets + 1))"""
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"""
      qcm$i AS MATERIALIZED (
        SELECT f.doc_id,
               CAST(sum(CAST(f.x * w.w AS DECIMAL(38,18))) AS DOUBLE)
                 AS margin
        FROM qcf f JOIN qcw$p w USING (bk)
        WHERE $fitPred GROUP BY 1),
      qce$i AS MATERIALIZED (
        SELECT m.doc_id,
               round(1.0 / (1.0 + exp(-m.margin)) - y.y, 9) AS err
        FROM qcm$i m JOIN qcy y USING (doc_id)),
      qcg$i AS MATERIALIZED (
        SELECT f.bk,
               CAST(sum(CAST(e.err * f.x AS DECIMAL(38,18))) AS DOUBLE)
                 AS g
        FROM qcf f JOIN qce$i e USING (doc_id) GROUP BY 1),
      qcw$i AS MATERIALIZED (
        SELECT w.bk,
               w.w - $lr * (coalesce(g.g, 0.0)
                 / (SELECT n FROM qcnd)) AS w
        FROM qcw$p w LEFT JOIN qcg$i g USING (bk))"""
    }.mkString(",", ",", "")
    base + rounds
  }
}
