package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA of the embedding table by POWER ITERATION with deflation
  * (Mises & Pollaczek-Geiringer 1929; the textbook dominant-eigenvector
  * method — the distributed shape behind spark.mllib's computePrincipal
  * Components for tall-skinny data): the data-DEPENDENT dimension
  * reduction next to the data-independent J-L random projection
  * (`text/RandomProjection.scala` — the natural A/B: RP preserves
  * pairwise geometry obliviously, PCA concentrates VARIANCE).
  *
  * Algorithm (deterministic, hash-checkable-fit discipline —
  * QualityClf/Lloyd/Unigram):
  *  - the centered covariance matvec never materializes centered data:
  *    C·v ∝ XᵀXv − m·Σ_r y_r with y_r = x_r·v and m the per-dim mean —
  *    one row-wise dot pass + one dim-keyed roll-up per iteration,
  *    both accumulated through DECIMAL(38,18) (exact, order-free — the
  *    QualityClf dot-product discipline), so the iterate is
  *    bit-identical at any partitioning and cross-engine.
  *  - deflation happens in OPERATOR space: component c iterates on
  *    C − Σ_{j<c} λ_j v_j v_jᵀ (small-vector arithmetic over the
  *    already-fitted components) — no second data pass, no deflated
  *    copy of the corpus.
  *  - the iterate re-enters the recursion only after the round-9 seam:
  *    v ← round9(w / ‖w‖) per dim (sqrt and division are IEEE
  *    correctly-rounded; the norm's Σw² runs in decimal), and the md5
  *    init vector is bit-portable, so the WHOLE fit — every iterate,
  *    every eigenvalue — is reproduced by the unrolled oracle.
  *
  * Scale shape: the vectors are sized and cached once ([[FitRounds]],
  * [[fitPartitions]] wide); a power round is ONE pass computing each
  * row's y against the v riding the fold's closure and the per-dim
  * decimal w partials, merged on the driver; driver state is d doubles
  * per component. Fixed `iters` rounds per component — the
  * unrolled-oracle contract, no convergence test. */
object PowerPca {

  /** round-9 driver seam (the Unigram.round9 convention). */
  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exploded (vec_id, i, x) frame — i is 0-based, x the exact
    * float→double widening (the oracle's CAST(unnest AS DOUBLE)). */
  def exploded(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        col("col").cast("double").as("x"))

  /** One fitted component: 0-based index, round-9 eigenvalue, round-9
    * loadings in dim order. */
  final case class Component(c: Int, lambda: Double,
    v: IndexedSeq[Double])

  final case class Fit(n: Long, dims: Int, mean: IndexedSeq[Double],
    totalVar: Double, components: Seq[Component])

  /** Deterministic md5 init vector for component `c` (pre-normalize):
    * ((h % 2000001) − 1000000) / 1e6 ∈ [−1, 1]. */
  private def initRaw(c: Int, dims: Int): IndexedSeq[Double] = {
    // driver twin of TextOps.md5Hash64: first 15 md5 hex digits as a
    // long (same bytes both engines — ASCII text key)
    def h64(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    (0 until dims).map { i =>
      ((h64(s"pca:$c:$i") % 2000001L) - 1000000L) / 1e6
    }
  }

  /** Exact decimal Σv² → double, then IEEE sqrt — identical on the
    * driver and in SQL. */
  private def normOf(v: IndexedSeq[Double]): Double =
    math.sqrt(v.map(x => BigDecimal(x * x)
      .setScale(18, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble)

  /** Exact decimal dot of two small driver vectors (products rounded
    * to scale 18 before the order-free sum — the CAST(a*b AS
    * DECIMAL(38,18)) twin). */
  private def dotD(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double =
    a.zip(b).map { case (x, y) => BigDecimal(x * y)
      .setScale(18, BigDecimal.RoundingMode.HALF_UP) }
      .sum.toDouble

  /** Partition width for the fit pass over the N×d exploded frame:
    * ceil(N·d / pca.rows_per_task), clamped to [1, defaultParallelism]
    * — the width [[FitRounds]] sizes [[fit]]'s vectors to (weight d per
    * row, `pca.rows_per_task` per partition). The exploded frame is
    * CORPUS-sized (every power round scans it twice), so a fixed width
    * would cap the cluster; this keeps the fixture at its measured
    * 8-task knee and saturates defaultParallelism at scale
    * (PlanAuditSpec locks both ends). */
  def fitPartitions(n: Long, dims: Int, parallelism: Int): Int =
    FitRounds.width(n * dims, graft.Settings.pca.rowsPerTask, parallelism)

  /** Fit `nComponents` principal components with `iters` power rounds
    * each. Driver actions: the dimension probe, the sizing pass and
    * one setup pass, then iters per component while the vectors are
    * spread (none on the driver fold), each collecting ≤ dims+1 sums
    * per partition (the w roll-up + the Σy slot at i = −1, the
    * QualityClf bias-slot trick). `expectDims`, when given, is the
    * dimension the UNROLLED ORACLE was generated for
    * (`ann.embedding_dim`): the fit refuses a corpus whose real dim
    * differs, instead of silently fitting init vectors of another
    * length than the oracle's (the mrlDims validation discipline). */
  def fit(emb: DataFrame, nComponents: Int, iters: Int,
      expectDims: Option[Int] = None): Fit = {
    // dimension from ONE row (the Similarity.embDim convention — no
    // corpus-wide explode just to probe a schema-level fact)
    val probeDims = emb.select(size(col("embedding"))).head().getInt(0)
    expectDims.foreach(d => require(probeDims == d,
      s"pca oracle dimension $d (ann.embedding_dim) != corpus " +
        s"dimension $probeDims — the unrolled oracle's init vectors " +
        "would silently diverge; fix the knob"))
    val rounds = vectors(emb, probeDims, nComponents * iters)
    try fitOn(rounds, probeDims, nComponents, iters)
    finally rounds.close()
  }

  /** The embedding rows as a fit's rounds, as primitive arrays
    * ([[FitRounds.doubles]]), sized to [[fitPartitions]] (values are
    * partitioning-independent: all sums are exact decimal). */
  private[graft] def vectors(emb: DataFrame, dims: Int, nRounds: Int,
      perPart: Long = graft.Settings.pca.rowsPerTask)
      : FitRounds[Array[Double]] =
    FitRounds("pca", nRounds,
      emb.select(col("embedding").cast("array<double>"))
        .rdd.map(r => FitRounds.doubles(r.getSeq[Any](0))),
      (_: Array[Double]) => dims.toLong, perPart)

  /** The power rounds of [[fit]] over its sized vectors: round 0 is the
    * setup pass, round c·iters + t the t-th power round of component
    * c. */
  private[graft] def fitOn(rounds: FitRounds[Array[Double]], dims: Int,
      nComponents: Int, iters: Int): Fit = {
    val n = rounds.count
    // ONE setup pass: per-dim decimal sums (slots 0..dims−1) + Σx²
    // (slot dims), exact and order-free
    val setup = rounds.round(0)(() =>
      new Array[java.math.BigDecimal](dims + 1)) { (acc, xs) =>
      var i = 0
      val len = math.min(xs.length, dims)
      while (i < len) {
        // null elements ride as NaN; dec18(NaN) is null, exactly the
        // column program's skipped null term
        val x = xs(i)
        val t = graft.functions.VecDecimal.dec18(x)
        if (t != null) acc(i) = if (acc(i) == null) t else acc(i).add(t)
        val t2 = graft.functions.VecDecimal.dec18(x * x)
        if (t2 != null)
          acc(dims) = if (acc(dims) == null) t2 else acc(dims).add(t2)
        i += 1
      }
      acc
    }(addDec)
    val mean = (0 until dims).map(i => decToD(setup(i)) / n)
    val totalVar =
      r9((decToD(setup(dims)) - n * dotD(mean, mean)) / (n - 1.0))
    var comps = Vector.empty[Component]
    for (c <- 0 until nComponents) {
      val raw = initRaw(c, dims)
      val nrm0 = normOf(raw)
      var v = raw.map(x => r9(x / nrm0))
      var lambda = 0.0
      for (t <- 1 to iters) {
        val rows = matvecRound(rounds, c * iters + t, v, dims)
        val sy = rows(-1)
        // centered matvec, then operator-space deflation — subtracted
        // LEFT-TO-RIGHT per prior component, the oracle's expression
        // shape verbatim (parenthesization is part of the spec). The
        // matvec is the UNNORMALIZED (n−1)·C·v, so the deflated
        // rank-1 term carries the same (n−1) factor — dropping it
        // removes only 1/(n−1) of the prior component and the
        // iteration re-converges to it (caught by PowerPcaSpec's
        // planted-direction fixture).
        val defl = comps.map(p =>
          (n - 1.0) * p.lambda * dotD(p.v, v))
        val w = (0 until dims).map { i =>
          comps.zip(defl).foldLeft(rows(i) - mean(i) * sy) {
            case (acc, (p, dl)) => acc - dl * p.v(i)
          }
        }
        lambda = r9(dotD(v, w) / (n - 1.0))
        val nw = normOf(w)
        v = w.map(x => r9(x / nw))
      }
      comps :+= Component(c, lambda, v)
    }
    Fit(n, dims, mean, totalVar, comps)
  }

  /** Slot-wise exact decimal merge of two partials (a null slot has no
    * terms yet). */
  private def addDec(a: Array[java.math.BigDecimal],
      b: Array[java.math.BigDecimal]): Array[java.math.BigDecimal] = {
    var i = 0
    while (i < a.length) {
      if (b(i) != null) a(i) = if (a(i) == null) b(i) else a(i).add(b(i))
      i += 1
    }
    a
  }

  /** CAST(decimal-sum AS DOUBLE) driver twin: a null or
    * precision-overflowed sum reads 0.0. NOTE this intentionally
    * degrades gracefully where the column program's collect would have
    * thrown (Row.getDouble NPEs on a null cell) — reachable only on
    * |sum| ≥ 1e20 precision overflow, which no fixture and no sane
    * embedding corpus produces; the parity specs cannot cover this
    * branch and the "bit-identical twin" claim excludes it. */
  private def decToD(b: java.math.BigDecimal): Double =
    if (b == null || b.precision > 38) 0.0 else b.doubleValue

  /** Power round `at` over the fit's vectors — the JVM twin of the
    * retired per-round column program (locked bit-identical in
    * PowerPcaSpec): per row y = CAST(Σ_i CAST(x_i·v_i AS
    * DECIMAL(38,18)) AS DOUBLE), then per dim w_i = CAST(Σ_rows
    * CAST(x_i·y AS DECIMAL(38,18)) AS DOUBLE) with Σy riding slot −1
    * (the QualityClf bias-slot trick). Decimal sums are exact and
    * order-free, so partials merge without drift; null terms
    * (NaN/Inf casts, null elements) are skipped exactly like the
    * column program's non-ANSI decimal cast. */
  private[graft] def matvecRound(rounds: FitRounds[Array[Double]],
      at: Int, v: IndexedSeq[Double], dims: Int): Map[Int, Double] = {
    val vArr = v.toArray
    // slots 0..dims−1: w; slot dims: Σy
    val acc = rounds.round(at)(() =>
      new Array[java.math.BigDecimal](dims + 1)) { (w, xs) =>
      var yB: java.math.BigDecimal = null
      var i = 0
      val len = math.min(xs.length, dims)
      while (i < len) {
        // null elements ride as NaN; NaN·v is NaN and dec18(NaN) is
        // null — the column program's skipped null term verbatim
        val t = graft.functions.VecDecimal.dec18(xs(i) * vArr(i))
        if (t != null) yB = if (yB == null) t else yB.add(t)
        i += 1
      }
      // sum(decimal(38,18)) nulls on precision overflow (non-ANSI);
      // a null y drops the row from the roll-up AND from Σy —
      // exactly the column program's join null-propagation
      if (yB != null && yB.precision <= 38) {
        val y = yB.doubleValue
        val yD = graft.functions.VecDecimal.dec18(y)
        if (yD != null)
          w(dims) = if (w(dims) == null) yD else w(dims).add(yD)
        i = 0
        while (i < len) {
          val t = graft.functions.VecDecimal.dec18(xs(i) * y)
          if (t != null) w(i) = if (w(i) == null) t else w(i).add(t)
          i += 1
        }
      }
      w
    }(addDec)
    ((0 until dims).map(i => i -> decToD(acc(i))) :+
      (-1 -> decToD(acc(dims)))).toMap
  }

  /** Project a frame's embeddings onto the fitted components —
    * p_c(r) = (x_r − m)·v_c = x_r·v_c − m·v_c, the x·v half as the
    * same decimal per-row dot, the scalar offset precomputed in
    * driver decimals. Map-only + one vec_id-keyed sum; emit-rounded
    * to 6 (the cosine convention). */
  def project(emb: DataFrame, fit: Fit): DataFrame = {
    val px = exploded(emb)
    val projCols = fit.components.map { comp =>
      val vmap = map((0 until fit.dims)
        .flatMap(i => Seq(lit(i), lit(comp.v(i)))): _*)
      sum((col("x") * element_at(vmap, col("i")))
        .cast("decimal(38,18)")).cast("double")
        .minus(lit(dotD(fit.mean, comp.v)))
        .as(s"p${comp.c}")
    }
    px.groupBy("vec_id")
      .agg(round(projCols.head, 6).as("p0"),
        projCols.tail.map(c => round(c, 6)): _*)
      .toDF(("vec_id" +: fit.components.map(c => s"p${c.c}")): _*)
  }

  /** LONG-format projection `(vec_id, component, proj)` — the exact
    * decimal path (one broadcast join of the exploded frame against
    * the loadings table + one keyed decimal sum), mirrored verbatim
    * by the oracle's pprj CTE. Emit-rounded to 6. */
  def projectLong(emb: DataFrame, fit: Fit): DataFrame = {
    val loadRows = fit.components.flatMap(c =>
      (0 until fit.dims).map(i => (c.c, i, c.v(i))))
    val spark = emb.sparkSession
    import spark.implicits._
    val loadings = loadRows.toDF("component", "i", "loading")
    val offMap = map(fit.components.flatMap(c =>
      Seq(lit(c.c), lit(dotD(fit.mean, c.v)))): _*)
    exploded(emb).join(broadcast(loadings), Seq("i"))
      .groupBy("vec_id", "component")
      .agg(round(
        sum((col("x") * col("loading")).cast("decimal(38,18)"))
          .cast("double")
          - element_at(offMap, col("component")), 6).as("proj"))
  }

  /** STATELESS per-row projection against a frozen fit — the serving
    * shape (QualityClf.scoreRowwise contract): loadings ride the plan
    * as array literals, each projection is one sequential VecDot fold
    * minus the precomputed mean offset — map-only, no shuffle,
    * identical on a batch frame and a Structured Streaming
    * micro-batch. The float fold order differs from the batch decimal
    * sum by < 1e-12, which the emit-boundary round-6 absorbs
    * (PowerPcaSpec locks rowwise ≡ batch at the rounded values). Adds
    * `p<c>` columns. */
  def projectRowwise(docs: DataFrame, fit: Fit): DataFrame = {
    val v = graft.text.Similarity.asDouble(col("embedding"))
    fit.components.foldLeft(docs) { (df, c) =>
      val lits = array((0 until fit.dims).map(i => lit(c.v(i))): _*)
      df.withColumn(s"p${c.c}",
        round(graft.functions.VecOps.dot(v, lits)
          - lit(dotD(fit.mean, c.v)), 6))
    }
  }

  // ------------------------------------------------------------------
  // DuckDB oracle: exploded frame + per-dim means, md5 init, one
  // unrolled (y, w+Σy, normalize) block per power round per component.
  // ------------------------------------------------------------------

  private def hsql(e: String) = graft.text.TextOps.hsqlRaw(e)

  /** The full chain over `embeddings`: `ppx` (exploded), `ppm`
    * (means), `pptv` (total variance), per-component-c per-round-t
    * CTEs `ppv_c_t(i, v)`, eigenvalue CTEs `ppl_c(lambda)`, ending
    * with `ppfit(component, i, loading)` and `ppvar(component,
    * eigenvalue, explained_frac)`. */
  def oracleCtes(nComponents: Int, iters: Int, dims: Int): String = {
    val pieces = Seq.newBuilder[String]
    pieces += s"""
      ppx AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings),
      ppn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
      ppm AS MATERIALIZED (
        SELECT i, CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
                 / (SELECT n FROM ppn) AS m
        FROM ppx GROUP BY 1),
      ppmm AS (
        SELECT CAST(sum(CAST(m * m AS DECIMAL(38,18))) AS DOUBLE)
          AS mm FROM ppm),
      pptv AS (
        SELECT round((CAST(sum(CAST(x * x AS DECIMAL(38,18)))
            AS DOUBLE)
            - (SELECT n FROM ppn) * (SELECT mm FROM ppmm))
            / ((SELECT n FROM ppn) - 1.0), 9) AS tv
        FROM ppx)"""
    for (c <- 0 until nComponents) {
      pieces += s"""
      ppr_$c AS (
        SELECT i,
               ((${hsql(s"'pca:$c:' || i::VARCHAR")} % 2000001)
                 - 1000000) / 1e6 AS r
        FROM range($dims) t(i)),
      pprn_$c AS (
        SELECT sqrt(CAST(sum(CAST(r * r AS DECIMAL(38,18)))
          AS DOUBLE)) AS nrm FROM ppr_$c),
      ppv_${c}_0 AS MATERIALIZED (
        SELECT i, round(r / (SELECT nrm FROM pprn_$c), 9) AS v
        FROM ppr_$c)"""
      for (t <- 1 to iters) {
        val prev = s"ppv_${c}_${t - 1}"
        // deflation terms against the already-fitted components
        val deflSel = (0 until c).map { j =>
          s"""
      ppd_${c}_${t}_$j AS (
        SELECT ((SELECT n FROM ppn) - 1.0)
             * (SELECT lambda FROM ppl_$j)
             * CAST(sum(CAST(f.loading * p.v AS DECIMAL(38,18)))
                 AS DOUBLE) AS dl
        FROM ppfit_$j f JOIN $prev p ON f.i = p.i)"""
        }.mkString(",")
        val deflExpr = (0 until c).map(j =>
          s" - (SELECT dl FROM ppd_${c}_${t}_$j) * " +
            s"(SELECT loading FROM ppfit_$j f WHERE f.i = w.i)")
          .mkString
        pieces += (if (c > 0) deflSel + "," else "") + s"""
      ppy_${c}_$t AS MATERIALIZED (
        SELECT e.vec_id,
               CAST(sum(CAST(e.x * p.v AS DECIMAL(38,18)))
                 AS DOUBLE) AS y
        FROM ppx e JOIN $prev p ON e.i = p.i
        GROUP BY 1),
      ppsy_${c}_$t AS (
        SELECT CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy
        FROM ppy_${c}_$t),
      ppw_${c}_$t AS MATERIALIZED (
        SELECT w.i, w.wraw - m.m * (SELECT sy FROM ppsy_${c}_$t)
               $deflExpr AS w
        FROM (SELECT e.i,
                     CAST(sum(CAST(e.x * y.y AS DECIMAL(38,18)))
                       AS DOUBLE) AS wraw
              FROM ppx e JOIN ppy_${c}_$t y ON e.vec_id = y.vec_id
              GROUP BY 1) w
        JOIN ppm m ON m.i = w.i),
      ppwn_${c}_$t AS (
        SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,18)))
          AS DOUBLE)) AS nrm FROM ppw_${c}_$t),
      ppv_${c}_$t AS MATERIALIZED (
        SELECT i, round(w / (SELECT nrm FROM ppwn_${c}_$t), 9) AS v
        FROM ppw_${c}_$t)"""
      }
      pieces += s"""
      ppl_$c AS (
        SELECT round(CAST(sum(CAST(p.v * w.w AS DECIMAL(38,18)))
            AS DOUBLE) / ((SELECT n FROM ppn) - 1.0), 9) AS lambda
        FROM ppv_${c}_${iters - 1} p JOIN ppw_${c}_$iters w
          ON p.i = w.i),
      ppfit_$c AS MATERIALIZED (
        SELECT i, v AS loading FROM ppv_${c}_$iters)"""
    }
    val fitUnion = (0 until nComponents)
      .map(c => s"SELECT $c AS component, i, loading FROM ppfit_$c")
      .mkString("\n        UNION ALL ")
    val varUnion = (0 until nComponents)
      .map(c => s"""SELECT $c AS component,
               (SELECT lambda FROM ppl_$c) AS eigenvalue,
               round((SELECT lambda FROM ppl_$c)
                 / (SELECT tv FROM pptv), 9) AS explained_frac""")
      .mkString("\n        UNION ALL ")
    pieces += s"""
      ppfit AS (
        $fitUnion),
      ppvar AS (
        $varUnion),
      ppoffs AS (
        SELECT f.component,
               CAST(sum(CAST(m.m * f.loading AS DECIMAL(38,18)))
                 AS DOUBLE) AS off
        FROM ppm m JOIN ppfit f ON m.i = f.i GROUP BY 1),
      pprj AS (
        SELECT e.vec_id, f.component,
               round(CAST(sum(CAST(e.x * f.loading
                   AS DECIMAL(38,18))) AS DOUBLE)
                 - any_value(o.off), 6) AS proj
        FROM ppx e JOIN ppfit f ON e.i = f.i
        JOIN ppoffs o ON o.component = f.component
        GROUP BY 1, 2)"""
    pieces.result().mkString(",")
  }
}
