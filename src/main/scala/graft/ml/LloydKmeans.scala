package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed Lloyd KMeans — the hash-checkable
  * counterpart to the MLlib best-of-seeds fit (`Clustering.kmeansBest`,
  * whose k-means|| init and float summation order make its exact labels
  * engine-private; the reference has the same caveat with sklearn's RNG,
  * ref src/mf_etl/research/clustering.py:74-120).
  *
  * Every arithmetic step is fixed so an unrolled SQL oracle reproduces
  * the fit bit-for-bit (the same pinned-model discipline as the HMM
  * decode oracle and the PQ encode path):
  *  - init: centroids = the first `k` vectors by id (seed-slice
  *    convention shared with PQ/IVF);
  *  - assignment: exact per-term DECIMAL(38,18) squared-L2 sums
  *    (aggregation-order-free), round-6 + lowest-cluster-id tiebreak;
  *  - update: per-dimension mean = CAST(exact decimal sum AS DOUBLE) /
  *    count — one IEEE division on identical inputs in both engines;
  *  - empty clusters keep their previous centroid.
  *
  * Scale shape: the points are sized and cached once ([[FitRounds]]);
  * a round assigns each point against the k×dim centroids riding the
  * fold's closure and sums exact per-(cluster, dim) decimal partials.
  * Up to [[TermsPerPart]] the rounds fold on the driver with no job;
  * above it each round is one map-side job whose partials merge on the
  * driver, and nothing driver-side holds more than k×dim sums. At 100 TB
  * with k=4..1024 this is MLlib's per-iteration shape minus the
  * nondeterminism.
  */
object LloydKmeans {

  /** Exact squared L2 distance of an array column to a literal centroid
    * (per-term scale-18 decimal accumulation, unrounded double out) —
    * the native codegen'd fold, bit-identical to the interpreted HOF
    * formulation (graft.functions.VecDecimal contract). */
  private def sqDistExact(vec: Column, centroid: Array[Double]): Column =
    graft.functions.VecOps.sqDist18(vec, typedlit(centroid.toSeq))

  /** Nearest-centroid `(d, cluster)` struct for a vector column:
    * (round-6 distance, lowest id) tiebreak — the shared cross-engine
    * convention. */
  private def assignStruct(vec: Column, cents: IndexedSeq[Array[Double]])
      : Column = {
    val structs = cents.indices.map { c =>
      struct(round(sqDistExact(vec, cents(c)), 6).as("d"),
        lit(c).as("cluster"))
    }
    element_at(array_sort(array(structs: _*)), 1)
  }

  /** Run `iters` Lloyd iterations over `(id, vec)` rows (`vecCol` an
    * array column). Returns (assignments df `(id, cluster, d2)` for the
    * FINAL centroids, final centroids). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): (DataFrame, IndexedSeq[Array[Double]]) = {
    val (a, cents) = fitWithDist(df, idCol, vecCol, k, iters)
    (a.select(col("pid"), col("cluster")), cents)
  }

  /** [[fit]] plus the assigned cluster's ROUND-6 squared distance:
    * `(pid, cluster, d2)` — the per-point prototypicality signal the
    * pruning family ranks on (d2 is the same rounded value the argmin
    * tiebreak ordered by, so it is oracle-exact by construction). */
  def fitWithDist(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): (DataFrame, IndexedSeq[Array[Double]]) = {
    val pv = df.select(col(idCol).cast("long").as("pid"),
      col(vecCol).cast("array<double>").as("v"))
    val rounds = points(pv, k, iters)
    try {
      val cents = centroids(rounds, k, iters)
      // the returned assignment frame re-derives from the UNCACHED
      // input, so it stays valid after the rounds' cache is dropped
      val finalAssign = pv
        .withColumn("best", assignStruct(col("v"), cents))
        .select(col("pid"), col("best.cluster").as("cluster"),
          col("best.d").as("d2"))
      (finalAssign, cents)
    } finally rounds.close()
  }

  /** Decimal distance terms (row length × k) in one partition of a
    * spread fit, and the most a fit folds on the driver. A Lloyd round
    * costs 1.07 µs per term (measured at k = 4 over 6- and 64-dim rows,
    * 4-core host) against J ≈ 40–60 ms for the job a spread round rides
    * in ([[Hmm.PointsPerPart]] has the job measurements), so two tasks
    * beat the driver fold only above 2J/c ≈ 75–110k terms; 96k terms is
    * ~100 ms of arithmetic per partition. */
  private[graft] val TermsPerPart = 98304L

  /** The `(pid, v)` rows of a fit as its rounds, vectors as primitive
    * arrays ([[FitRounds.doubles]]), weighed in decimal terms (row
    * length × k). */
  private[graft] def points(pv: DataFrame, k: Int, iters: Int,
      perPart: Long = TermsPerPart): FitRounds[(Long, Array[Double])] =
    FitRounds("lloyd", iters,
      pv.rdd.map(r => (r.getLong(0), FitRounds.doubles(r.getSeq[Any](1)))),
      (p: (Long, Array[Double])) => p._2.length.toLong * k, perPart)

  /** Up to `iters` Lloyd rounds from the seed slice (first `k` ids). A
    * round is a pure function of (points, centroids), so once a round
    * returns its input centroids bitwise every later round would too:
    * the loop stops there with the same result `iters` rounds give. */
  private[graft] def centroids(rounds: FitRounds[(Long, Array[Double])],
      k: Int, iters: Int): IndexedSeq[Array[Double]] = {
    var cents: IndexedSeq[Array[Double]] = rounds
      .collect { case (pid, v) if pid < k => (pid, v) }
      .sortBy(_._1).map(_._2.clone())
    require(cents.length == k, s"need $k seed vectors with pid < $k")
    var i = 0
    var fixed = false
    while (i < iters && !fixed) {
      i += 1
      val next = lloydRound(rounds, i, cents)
      fixed = next.corresponds(cents)(java.util.Arrays.equals(_, _))
      cents = next
    }
    cents
  }

  /** Lloyd round `i` over a fit's points — the JVM twin of the
    * retired per-round column program, bit-identical by construction
    * (LloydKmeansSpec locks the full fit against the unrolled oracle
    * and the column-program round):
    *  - assignment: argmin over clusters of round-6
    *    [[graft.functions.VecDecimal.sqDist18]] with the
    *    array_sort struct convention — a NULL distance (overflow /
    *    null element / length mismatch) sorts FIRST (InterpretedOrdering
    *    nulls-first within struct fields), ties break on lowest
    *    cluster id;
    *  - update: per (cluster, dim) mean = CAST(Σ CAST(x AS
    *    DECIMAL(38,18)) AS DOUBLE) / count — decimal sums are exact and
    *    order-free, so partials merge without drift; a group's
    *    count includes null elements (they just add nothing), and an
    *    all-null or precision-overflowed sum leaves the previous
    *    centroid coordinate in place (the column program would have
    *    NPE'd on that null cell — reachable only at |sum| ≥ 1e20,
    *    outside what the parity specs can cover; the graceful carry is
    *    intentional);
    *  - empty clusters keep their previous centroid. */
  private[graft] def lloydRound(rounds: FitRounds[(Long, Array[Double])],
      i: Int, cents: IndexedSeq[Array[Double]]): IndexedSeq[Array[Double]] = {
    val k = cents.length
    val dim = cents.head.length
    val cArr = cents.map(_.clone).toArray
    val (sums, counts) = rounds.round(i)(() =>
      (Array.fill[java.math.BigDecimal](k, dim)(null),
        Array.ofDim[Long](k, dim))) { case (acc @ (s, n), (_, v)) =>
      val c = assignJvm(v, cArr)
      var j = 0
      val len = math.min(v.length, dim)
      while (j < len) {
        n(c)(j) += 1
        // a null element rides as NaN; dec18(NaN) is null, exactly
        // like the column program's non-ANSI decimal cast of a null
        val b = graft.functions.VecDecimal.dec18(v(j))
        if (b != null)
          s(c)(j) = if (s(c)(j) == null) b else s(c)(j).add(b)
        j += 1
      }
      acc
    } { case ((s1, n1), (s2, n2)) =>
      var c = 0
      while (c < k) {
        var j = 0
        while (j < dim) {
          n1(c)(j) += n2(c)(j)
          if (s2(c)(j) != null)
            s1(c)(j) =
              if (s1(c)(j) == null) s2(c)(j) else s1(c)(j).add(s2(c)(j))
          j += 1
        }
        c += 1
      }
      (s1, n1)
    }
    IndexedSeq.tabulate(k) { c =>
      val next = cents(c).clone() // empty clusters keep prev coordinate
      var j = 0
      while (j < dim) {
        // the column program's sum(decimal(38,18)) nulls on precision
        // overflow (non-ANSI); mirror it before the double cast
        if (counts(c)(j) > 0 && sums(c)(j) != null
            && sums(c)(j).precision <= 38)
          next(j) = sums(c)(j).doubleValue / counts(c)(j).toDouble
        j += 1
      }
      next
    }
  }

  /** Nearest-centroid index under the column program's exact tiebreak
    * (see [[lloydRound]]). */
  private[ml] def assignJvm(v: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD: java.lang.Double = distJvm(v, cents(0))
    var c = 1
    while (c < cents.length) {
      val d = distJvm(v, cents(c))
      val better =
        if (d == null) bestD != null // null distance sorts first
        else bestD != null && d.doubleValue < bestD.doubleValue
      if (better) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** round-6 exact-decimal squared distance (the struct's `d` field):
    * null (carried as NaN) propagates. */
  private[ml] def distJvm(v: Array[Double],
      cent: Array[Double]): java.lang.Double = {
    val sq = graft.functions.VecDecimal.sqDist18(v, cent)
    if (sq == null) null
    else java.lang.Double.valueOf(
      graft.functions.VecDecimal.roundD(sq.doubleValue, 6))
  }

  /** Unrolled DuckDB oracle for [[fit]] over the `embeddings` table:
    * `iters` chained CTE pairs (assign_i, cent_i), ending in CTE
    * `kassign(pid, cluster)` for the final centroids. Bit-parity holds
    * because both sides use exact decimal sums, the same round-6 + id
    * tiebreak, and the same double division. */
  def oracleSql(k: Int, iters: Int): String = {
    val init = s"""
      kpts AS (
        SELECT vec_id AS pid, generate_subscripts(embedding, 1) - 1 AS j,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings)"""
    init + "," + oracleSqlFrom("kpts", k, iters, "") + finalAssignSql(
      "kpts", iters, "")
  }

  /** The same unrolled Lloyd CTE chain over an ARBITRARY source CTE
    * `src(pid, j, x)` with every generated CTE name prefixed by `pfx`,
    * so several independent fits (e.g. one per PQ subspace) compose in
    * one oracle query. Ends at `${pfx}cent_$iters(c, j, y)` — the
    * fitted centroids. Same math as [[oracleSql]] verbatim. */
  def oracleSqlFrom(src: String, k: Int, iters: Int,
      pfx: String): String = {
    val init = s"""
      ${pfx}cent_0 AS MATERIALIZED (
        SELECT pid AS c, j, x AS y FROM $src WHERE pid < $k)"""
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""
      ${pfx}kd_$i AS (
        SELECT p.pid, c.c,
               CAST(sum(CAST((p.x - c.y) * (p.x - c.y)
                 AS DECIMAL(38,18))) AS DOUBLE) AS d2
        FROM $src p JOIN ${pfx}cent_$p c ON p.j = c.j GROUP BY 1, 2),
      ${pfx}ka_$i AS MATERIALIZED (
        SELECT pid, c AS cluster FROM (
          SELECT *, row_number() OVER (PARTITION BY pid
            ORDER BY round(d2, 6), c) AS rn FROM ${pfx}kd_$i)
        WHERE rn = 1),
      ${pfx}km_$i AS (
        SELECT a.cluster AS c, p.j,
               CAST(sum(CAST(p.x AS DECIMAL(38,18))) AS DOUBLE)
                 / count(*) AS y
        FROM $src p JOIN ${pfx}ka_$i a USING (pid) GROUP BY 1, 2),
      ${pfx}cent_$i AS MATERIALIZED (
        SELECT prev.c, prev.j, coalesce(m.y, prev.y) AS y
        FROM ${pfx}cent_$p prev LEFT JOIN ${pfx}km_$i m
          ON m.c = prev.c AND m.j = prev.j)"""
    }.mkString(",")
    init + "," + steps
  }

  /** Final-centroid assignment CTEs (`${pfx}kd_fin`, `${pfx}kassign`)
    * against `${pfx}cent_$iters`. */
  def finalAssignSql(src: String, iters: Int, pfx: String): String = s""",
      ${pfx}kd_fin AS MATERIALIZED (
        SELECT p.pid, c.c,
               CAST(sum(CAST((p.x - c.y) * (p.x - c.y)
                 AS DECIMAL(38,18))) AS DOUBLE) AS d2
        FROM $src p JOIN ${pfx}cent_$iters c ON p.j = c.j GROUP BY 1, 2),
      ${pfx}kassign AS MATERIALIZED (
        SELECT pid, c AS cluster FROM (
          SELECT *, row_number() OVER (PARTITION BY pid
            ORDER BY round(d2, 6), c) AS rn FROM ${pfx}kd_fin)
        WHERE rn = 1)"""
}
