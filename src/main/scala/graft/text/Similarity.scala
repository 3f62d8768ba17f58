package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Embedding similarity search over an `Array[Float]` column.
  *
  * Baseline: brute-force cosine top-k (query side broadcast, one pass over
  * the corpus — no shuffle of the big side). Scale path: LSH sign-bucketing
  * with deterministic pseudo-random hyperplanes so only same-bucket pairs
  * are compared (bucket join instead of cross product).
  */
object Similarity {

  /** Cast an array<float> embedding to array<double> for stable math. */
  def asDouble(emb: Column): Column = emb.cast("array<double>")

  /** Sequential-order dot product of two equal-length double arrays —
    * a native codegen'd expression (graft.functions.VecDot) with
    * HOF-identical semantics (left-to-right fold from 0.0, null on
    * length mismatch or null element), so the interpreted
    * aggregate/zip_with pair it replaced hashes identically. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecOps.dot(a, b)

  /** ‖a‖ via the native self-dot (same sequential Σx² fold). */
  def norm(a: Column): Column = sqrt(graft.functions.VecOps.dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from a precomputed per-row norm on each side: identical
    * float arithmetic to `cosine` (dot / (na·nb), same op order), but
    * the norms are computed once per ROW instead of once per PAIR —
    * with interpreted higher-order functions that removes two of the
    * three array traversals in every pair scoring. */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Brute-force cosine top-k: for each query vector (filtered by
    * `queryPred`), the k nearest corpus vectors (self excluded). Ranking is
    * done on the 6-decimal-rounded similarity with id tie-break so results
    * are reproducible across engines and cluster runs. */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("vid"),
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Default number of sign-hyperplane LSH bits. Hyperplane j component i
    * is derived from a portable hash of (j,i) → {-1,+1}, so the bucketing
    * is reproducible in SQL and across runs. */
  val LshBits = 8

  def hyperplaneSign(j: Int, i: Column): Column = {
    val h = TextOps.hashMod(concat_ws("_", lit("hp"), lit(j), i))
    when(h % 2 === 0, 1.0).otherwise(-1.0)
  }

  /** Driver-side twin of `hyperplaneSign`: identical md5-mod-prime
    * arithmetic (first 15 hex digits of md5("hp_j_i") as a 60-bit int,
    * mod 1000000007, parity → ±1), evaluated once per (plane, dim)
    * instead of once per ROW × plane × dim. The hyperplane matrix is a
    * constant — computing ~5M md5s per query inside an interpreted
    * higher-order function was the ANN family's real hot spot. */
  def hyperplaneSignConst(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"hp_${j}_$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    if (java.lang.Long.parseLong(hex, 16) % TextOps.HashPrime % 2 == 0)
      1.0
    else -1.0
  }

  /** Sign-bucket key for band `band` of an LSH family with `bits` bits
    * per band: bit j = (v · hp_{band·bits+j}) > 0, with the hyperplane
    * signs as a constant literal matrix (`dim` components). Distinct
    * bands use disjoint hyperplane indices, giving independent hash
    * functions for OR-amplification. */
  def lshBucketBand(emb: Column, bits: Int, band: Int,
      dim: Int): Column = {
    val v = asDouble(emb)
    val key = (0 until bits).map { j =>
      val plane = band * bits + j
      val hp = array((0 until dim)
        .map(i => lit(hyperplaneSignConst(plane, i))): _*)
      val proj = graft.functions.VecOps.dot(v, hp)
      when(proj > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    // a row whose dimensionality differs from the probed `dim` would be
    // null-padded by zip_with, its projections would all go null, and
    // every such row would silently collapse into bucket 0 — give it a
    // NULL bucket instead, which drops out of every bucket equi-join
    when(size(v) === dim, key)
  }

  /** Embedding dimensionality probe — one bounded head() action. */
  def embDim(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head.getInt(0)

  /** LSH sign-bucket key for each embedding (band 0 of the family). */
  def lshBucket(emb: Column, dim: Int): Column =
    lshBucketBand(emb, LshBits, 0, dim)

  /** Bucket-space width sized to the corpus: enough bits that the mean
    * bucket occupancy n / 2^bits ≈ `targetBucket`, never below the
    * LshBits floor. This is the knob that keeps Σ bucket² (the pair-join
    * cost) linear in n as the corpus grows 100× — a fixed 8-bit space
    * saturates and either explodes cost or (with the hot-bucket cap)
    * silently drops recall. */
  def autoBits(n: Long, targetBucket: Int = 64): Int = {
    val cells = math.max(1.0, n.toDouble / math.max(1, targetBucket))
    math.max(LshBits, math.ceil(math.log(cells) / math.log(2.0)).toInt)
  }

  /** Corpus-vs-corpus ANN pair generation — the near-dup-dedup shape
    * where the "query set" IS the corpus, so nothing can broadcast:
    * both sides shuffle on the bucket key (plain equi-join → sort-merge
    * at scale), pairs are ordered (id_a < id_b) to halve the work, and
    * over-full buckets (degenerate hyperplanes / duplicate-heavy data)
    * are dropped via `maxBucket` — the same hot-key guard as
    * Dedup.jaccard's maxFreq. Cost is Σ bucket² bounded by
    * maxBucket · corpus, not corpus². */
  def annSelfJoinPairs(emb: DataFrame, maxBucket: Int, simFloor: Double,
      bits: Int = LshBits, nBands: Int = 1): DataFrame = {
    val dim = embDim(emb) // ONE probe action, shared by every band
    val e = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        col("embedding"))
      .withColumn("nrm", norm(col("v"))) // per ROW, before the band explode
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array((0 until nBands).map(band =>
          struct(lit(band).as("band_idx"),
            lshBucketBand(col("embedding"), bits, band,
              dim).as("bucket"))): _*))
          .as("bk"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("bk.band_idx"), col("bk.bucket"))
    val sized = e
      .withColumn("bn",
        count(lit(1)).over(Window.partitionBy("band_idx", "bucket")))
      .filter(col("bn") <= maxBucket).drop("bn")
    val a = sized.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("band_idx"), col("bucket"))
    val b = sized.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("band_idx"), col("bucket"))
    val scored = a.join(b, Seq("band_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= simFloor)
    // a pair can collide in several bands — dedupe only when that's
    // possible (the extra exchange is wasted with a single band)
    if (nBands > 1) scored.distinct() else scored
  }

  /** Corpus-size-adaptive variant: one `count()` action sizes the bucket
    * space (autoBits), banded OR-amplification restores the recall that
    * narrower per-band buckets would otherwise lose. This is the entry
    * point a 100-TB dedup job should use. */
  def annSelfJoinPairsAuto(emb: DataFrame, maxBucket: Int, simFloor: Double,
      nBands: Int = 4, targetBucket: Int = 64): DataFrame =
    annSelfJoinPairs(emb, maxBucket, simFloor,
      autoBits(emb.count(), targetBucket), nBands)

  /** Per-band bucket occupancy and the fraction of documents the
    * `maxBucket` hot-bucket guard drops — surfaced as data instead of
    * silently filtered, so a production run can alarm on recall loss
    * (dropped_frac → 1 means the bucket space is saturated and `bits`
    * must grow). */
  def annBucketStats(emb: DataFrame, maxBucket: Int,
      bits: Int = LshBits, nBands: Int = 1): DataFrame = {
    val dim = embDim(emb) // ONE probe action, shared by every band
    val e = emb.select(col("vec_id"),
        explode(array((0 until nBands).map(band =>
          struct(lit(band).as("band_idx"),
            lshBucketBand(col("embedding"), bits, band,
              dim).as("bucket"))): _*))
          .as("bk"))
      .select(col("vec_id"), col("bk.band_idx"), col("bk.bucket"))
    e.groupBy("band_idx", "bucket").agg(count(lit(1)).as("bn"))
      .groupBy("band_idx").agg(
        count(lit(1)).as("n_buckets"),
        sum("bn").as("n_docs"),
        max("bn").as("max_bucket"),
        sum(when(col("bn") > maxBucket, col("bn")).otherwise(0L))
          .as("dropped_docs"))
      .withColumn("dropped_frac",
        round(col("dropped_docs").cast("double") / col("n_docs"), 9))
  }

  /** IVF ANN (the coarse-quantizer scale path): a seeded KMeans fit
    * partitions the corpus into `nCells` inverted lists; each query
    * probes its `nProbe` nearest centroids (tiny broadcast table) and
    * computes exact cosine only inside the probed cells — the classic
    * IVF-Flat contract. With nProbe = nCells this is exactly brute
    * force (locked by SimilaritySpec); smaller nProbe trades recall for
    * a corpus/nCells·nProbe candidate set. At cluster scale the corpus
    * is hash-partitioned by cell, queries shuffle only to their probed
    * cells. */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int, nCells: Int,
      nProbe: Int, seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val fe = graft.ml.Clustering.withFeatures(e, "v")
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setMaxIter(20).setSeed(seed)
      .setFeaturesCol("features").fit(fe)
    val assigned = model.transform(fe)
      .withColumnRenamed("prediction", "cell")
      .select("vec_id", "v", "cell")
      .withColumn("nrm", norm(col("v")))
    val centDf = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "cv")
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val probe = q.crossJoin(broadcast(centDf))
      .withColumn("d2",
        graft.functions.VecOps.sqDist(col("qv"), col("cv")))
      .withColumn("prnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2"), col("cell"))))
      .filter(col("prnk") <= nProbe)
      .select(col("qid"), col("qv"), col("qnrm"), col("cell"))
    val scored = probe
      .join(assigned.select(col("vec_id").as("vid"), col("v"),
        col("nrm"), col("cell")), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Product-quantization ANN (IVF-PQ's compression half — the standard
    * way to fit a 100-TB embedding corpus in memory): the vector is cut
    * into `m` subspaces, each subvector is replaced by the id of its
    * nearest per-subspace centroid (`subK` codes → log2(subK) bits per
    * subspace, e.g. 64 f32 dims → 4 bytes), and query-time distance is
    * ADC: Σ over subspaces of the precomputed query-to-centroid
    * distance of the stored code — a table lookup per subspace, never a
    * full-vector scan.
    *
    * Codebooks here are the deterministic first-`subK`-ids seed slices
    * (same convention as `ml.Clustering.seedAssigned`): fully
    * SQL-expressible, so encode + ADC are oracle-checkable end-to-end;
    * production swaps in per-subspace KMeans codebooks (ml.Clustering)
    * without changing any shape. Distances sum per-term through
    * DECIMAL(38,18), making every rounded value independent of
    * aggregation order (both engines) — the same hash-stability rule
    * the QA diagnostics use.
    *
    * Scale shape: one explode + a (subspace, dim)-keyed broadcast join
    * against the m·subK·subDim codebook + one vec-keyed aggregate to
    * encode (linear, map-side combined); ADC is a (subspace, code)
    * broadcast join against the 32-query distance table — the corpus
    * side never shuffles its vectors, only its m-byte codes.
    * Returns (qid, vid, adc, rnk). */
  def pqTopK(emb: DataFrame, queryPred: Column, k: Int, m: Int = 4,
      subK: Int = 8): DataFrame =
    pqAdcRank(pqParts(emb, queryPred, m, subK), k)

  /** ADC table-lookup ranking over (codes, qd2) — shared by the
    * seed-codebook and fitted-codebook PQ paths. */
  private def pqAdcRank(parts: (DataFrame, DataFrame), k: Int)
      : DataFrame = {
    val (codes, qd2) = parts
    val adc = codes.join(broadcast(qd2), Seq("m", "c"))
      .groupBy("qid", "vid")
      .agg(round(sum(col("qd2").cast("decimal(38,18)")).cast("double"), 6)
        .as("adc"))
      .filter(col("qid") =!= col("vid"))
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
    adc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Per-subspace KMeans codebook — the production-quality swap the
    * seed-slice codebooks declare (quantization-MSE-minimizing
    * centroids; faiss trains PQ codebooks exactly this way). Each of
    * the `m` fits is an independent seeded MLlib KMeans over that
    * subspace's slice of the corpus; the returned layout matches
    * StreamingEncode.Codebook so the same encode/ADC/streaming paths
    * run unchanged. The fit is iterative (no SQL oracle) — recall
    * improvement over the seed codebook is driver-checked as a
    * rows+invariant query (q_e_pq_recall_cmp) and spec-locked. */
  def kmeansCodebook(emb: DataFrame, m: Int, subK: Int,
      seed: Long = 42L): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val dim = embDim(emb)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val e = emb.select(asDouble(col("embedding")).as("v")).cache()
    e.count() // materialize once so the concurrent fits share the cache
    try {
      // the m fits are independent — submit them as concurrent Spark
      // jobs (same driver-pool pattern as Clustering.kmeansBest) so the
      // iterative job chains interleave instead of idling the cluster
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec = graft.ops.Pools.jobs
      Await.result(
        Future.traverse((0 until m).toList) { mi => Future {
          val sub = e.select(
            slice(col("v"), mi * subDim + 1, subDim).as("sv"))
          val fe = graft.ml.Clustering.withFeatures(sub, "sv")
          val model = new org.apache.spark.ml.clustering.KMeans()
            .setK(subK).setMaxIter(20).setSeed(seed)
            .setFeaturesCol("features").fit(fe)
          model.clusterCenters.map(_.toArray).toIndexedSeq
        }}, Duration.Inf).toIndexedSeq
    } finally e.unpersist()
  }

  /** Per-subspace DETERMINISTIC Lloyd codebook — the hash-checkable
    * counterpart to [[kmeansCodebook]] (whose MLlib k-means|| init is
    * engine-private): each subspace's centroids come from
    * `ml.LloydKmeans.fit` on that slice (seed-slice init, exact-decimal
    * assignment + means), so the ENTIRE fitted-codebook PQ path —
    * per-subspace iterative fit, encode, ADC ranking — is reproduced
    * bit-for-bit by an unrolled SQL oracle (one
    * `LloydKmeans.oracleSqlFrom` chain per subspace). Same layout as
    * the other codebooks, so encode/ADC/streaming run unchanged. */
  def lloydCodebook(emb: DataFrame, m: Int, subK: Int, iters: Int)
      : IndexedSeq[IndexedSeq[Array[Double]]] = {
    val dim = embDim(emb)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val e = emb.select(col("vec_id").cast("long").as("pid"),
      asDouble(col("embedding")).as("v")).cache()
    e.count() // materialize once; the m fits share the cache
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec = graft.ops.Pools.jobs
      Await.result(
        Future.traverse((0 until m).toList) { mi => Future {
          val sub = e.select(col("pid"),
            slice(col("v"), mi * subDim + 1, subDim).as("sv"))
          graft.ml.LloydKmeans.fit(sub, "pid", "sv", subK, iters)._2
        }}, Duration.Inf).toIndexedSeq
    } finally e.unpersist()
  }

  /** PQ ANN against an explicit codebook (e.g. [[kmeansCodebook]]):
    * identical shape to [[pqTopK]] — the codebook joins as a broadcast
    * (c, m, j, y) literal table instead of the seed-slice filter, so
    * encode and ADC stay the same exact-decimal column programs. */
  def pqTopKCodebook(emb: DataFrame, queryPred: Column, k: Int,
      codebook: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame =
    pqAdcRank(pqPartsCodebook(emb, queryPred, codebook), k)

  private[text] def pqPartsCodebook(emb: DataFrame, queryPred: Column,
      codebook: IndexedSeq[IndexedSeq[Array[Double]]])
      : (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    val m = codebook.length
    val subDim = codebook.head.head.length
    val centRows = for {
      mi <- codebook.indices; c <- codebook(mi).indices
      j <- 0 until subDim
    } yield (c.toLong, mi, j, codebook(mi)(c)(j))
    val cent = spark.createDataFrame(centRows).toDF("c", "m", "j", "y")
    val sub = emb
      .select(col("vec_id"),
        posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / subDim).cast("int").as("m"),
        (col("i") % subDim).as("j"), col("x"))
    pqPartsFrom(sub, queryPred, cent)
  }

  /** Batch PQ corpus codes (vid, m, c) — exposed for cross-validating
    * the streaming per-row encoder against this explode-based batch
    * formulation (StreamingSpec). */
  private[graft] def pqCodes(emb: DataFrame, m: Int = 4,
      subK: Int = 8): DataFrame =
    pqParts(emb, lit(false), m, subK)._1

  /** Shared PQ machinery: `codes` (vid, m, c — the encoded corpus) and
    * `qd2` (qid, m, c, qd2 — per-query subspace distance tables).
    * Package-visible: the DiskANN-style graph+PQ serve
    * ([[NnDescent.serveHierPq]]) scores its beam over these codes. */
  private[text] def pqParts(emb: DataFrame, queryPred: Column, m: Int,
      subK: Int): (DataFrame, DataFrame) = {
    val dim = embDim(emb)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val sub = emb
      .select(col("vec_id"),
        posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / subDim).cast("int").as("m"),
        (col("i") % subDim).as("j"), col("x"))
    val cent = sub.filter(col("vec_id") < subK)
      .select(col("vec_id").as("c"), col("m"), col("j"),
        col("x").as("y"))
    pqPartsFrom(sub, queryPred, cent)
  }

  /** Encode + query-distance-table machinery shared by the seed and
    * fitted codebook paths. `cent` is the (c, m, j, y) codebook. */
  private def pqPartsFrom(sub: DataFrame, queryPred: Column,
      cent: DataFrame): (DataFrame, DataFrame) = {
    // exact squared distance of every (vector, subspace) slice to every
    // centroid of that subspace — per-term decimal sum, order-free
    val d2 = sub.join(broadcast(cent), Seq("m", "j"))
      .groupBy(col("vec_id"), col("m"), col("c"))
      .agg(sum(((col("x") - col("y")) * (col("x") - col("y")))
        .cast("decimal(38,18)")).cast("double").as("d2"))
    // encode: nearest centroid per subspace (rounded-distance +
    // centroid-id tiebreak, cross-engine deterministic). Argmin as a
    // min(struct(w, c)) hash aggregate — the same lexicographic total
    // order the old per-(vec, m) window sorted by, but with map-side
    // partials and no sort over the corpus×m×subK frame.
    val codes = d2.groupBy("vec_id", "m")
      .agg(min(struct(round(col("d2"), 6).as("w"), col("c"))).as("best"))
      .select(col("vec_id").as("vid"), col("m"), col("best.c").as("c"))
    // per-query distance tables (m × subK rows per query)
    val qd2 = d2.filter(queryPred)
      .select(col("vec_id").as("qid"), col("m"), col("c"),
        col("d2").as("qd2"))
    (codes, qd2)
  }

  /** IVF-PQ: the composed production index — an IVF coarse quantizer
    * routes each query to its `nProbe` nearest cells, and only the PQ
    * codes of vectors in probed cells are ADC-scored (candidate set ≈
    * corpus · nProbe / nCells instead of the whole corpus). Codebooks
    * and cell centroids are deterministic seed slices (KMeans-swappable,
    * non-residual encoding — faiss's by_residual=false variant — so the
    * whole path stays SQL-expressible). With nProbe = nCells this is
    * exactly [[pqTopK]] (locked by SimilaritySpec). At cluster scale
    * the corpus is hash-partitioned by cell and a query shuffles only
    * its m·subK distance table to its probed cells. */
  def ivfPqTopK(emb: DataFrame, queryPred: Column, k: Int, nCells: Int,
      nProbe: Int, m: Int = 4, subK: Int = 8): DataFrame = {
    val (codes, qd2) = pqParts(emb, queryPred, m, subK)
    ivfAdcRank(emb, queryPred, k, nCells, nProbe, codes, qd2)
  }

  /** Shared IVF tail: seed coarse quantizer (assignment + probe
    * order), probed-cell candidate generation, ADC ranking of `codes`
    * against `qd2` — common to the seed-codebook and fitted-codebook
    * IVF-PQ paths. */
  private def ivfAdcRank(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int, nProbe: Int, codes: DataFrame, qd2: DataFrame)
      : DataFrame = {
    val ex = emb.select(col("vec_id"),
      posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
    val cc = ex.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("i").as("ci"),
        col("x").as("y"))
    ivfAdcRankFrom(ex, queryPred, k, nProbe, codes, qd2, cc)
  }

  /** Coarse centroid matrix as a literal (cell, ci, y) frame — the
    * fitted-quantizer counterpart of the seed `cc` slice. */
  private def ccLit(spark: org.apache.spark.sql.SparkSession,
      cells: IndexedSeq[Array[Double]]): DataFrame =
    spark.createDataFrame(
      for {
        c <- cells.indices; i <- cells(c).indices
      } yield (c.toLong, i, cells(c)(i)))
      .toDF("cell", "ci", "y")

  private def ivfAdcRankFrom(ex: DataFrame, queryPred: Column, k: Int,
      nProbe: Int, codes: DataFrame, qd2: DataFrame, cc: DataFrame)
      : DataFrame = {
    // full-vector distance of every vector to every cell centroid —
    // assigns the corpus AND ranks the query's probe order
    val celld2 = ex.join(broadcast(cc), col("i") === col("ci"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(((col("x") - col("y")) * (col("x") - col("y")))
        .cast("decimal(38,18)")).cast("double").as("d2"))
    val wCell = Window.partitionBy("vec_id")
      .orderBy(round(col("d2"), 6), col("cell"))
    // corpus cell assignment: argmin as a hash aggregate (same
    // (round6(d2), cell) order as wCell, no corpus-frame sort); the
    // window stays only for the query-filtered probe ranking below
    val cells = celld2.groupBy("vec_id")
      .agg(min(struct(round(col("d2"), 6).as("w"), col("cell")))
        .as("best"))
      .select(col("vec_id").as("vid"), col("best.cell").as("cell"))
    val probes = celld2.filter(queryPred)
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .select("qid", "vid")
    val adc = cand.join(codes, Seq("vid"))
      .join(broadcast(qd2), Seq("qid", "m", "c"))
      .groupBy("qid", "vid")
      .agg(round(sum(col("qd2").cast("decimal(38,18)")).cast("double"), 6)
        .as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
    adc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Residual IVF-PQ (faiss's by_residual=true — the production
    * default): PQ quantizes r = x − centroid(cell(x)) instead of the
    * absolute vector, so the codebook only has to cover the
    * cell-LOCAL structure (residual norms ≪ vector norms → far less
    * quantization error at the same code budget). The price is that a
    * query's ADC table depends on the probed CELL — q's residual is
    * (q − centroid(cell)) per probed cell — so `qd2` is keyed
    * (qid, cell, m, c) and the ADC join adds the candidate's cell.
    *
    * Conventions stay SQL-expressible end-to-end: cell centroids are
    * the first `nCells` vectors (same coarse quantizer as
    * [[ivfPqTopK]] — identical cell assignment and probe order), and
    * the shared residual `codebook` is caller-supplied — in production
    * the deterministic per-subspace Lloyd fit over residuals
    * ([[lloydResidualCodebook]]), whose iterative fit the oracle
    * reproduces via `LloydKmeans.oracleSqlFrom` chains. Per-term
    * DECIMAL(38,18) sums + (round-6, lowest-id) tiebreaks throughout,
    * so the whole path is reproduced bit-for-bit by the DuckDB oracle.
    *
    * Scale shape: identical to [[ivfPqTopK]] plus one extra broadcast
    * of the nCells×dim centroid table to form residuals (map-side,
    * no new shuffle); qd2 grows nProbe× (still queries·nProbe·m·subK —
    * broadcastable). Corpus vectors still shuffle only their m codes.
    * Returns (qid, vid, adc, rnk). */
  def ivfPqResidualTopK(emb: DataFrame, queryPred: Column, k: Int,
      nProbe: Int, cells: IndexedSeq[Array[Double]],
      codebook: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    val dim = embDim(emb)
    val m = codebook.length
    val subDim = codebook.head.head.length
    require(dim == m * subDim,
      s"dim $dim != $m subspaces x $subDim dims (codebook mismatch)")
    val ex = emb.select(col("vec_id"),
      posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
    val cc = ccLit(spark, cells)
    // coarse quantizer: same assignment + probe-order conventions as
    // ivfPqTopK, against the FITTED cell centroids
    val celld2 = ex.join(broadcast(cc), col("i") === col("ci"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(((col("x") - col("y")) * (col("x") - col("y")))
        .cast("decimal(38,18)")).cast("double").as("d2"))
    val wCell = Window.partitionBy("vec_id")
      .orderBy(round(col("d2"), 6), col("cell"))
    val assigned = celld2.groupBy("vec_id")
      .agg(min(struct(round(col("d2"), 6).as("w"), col("cell")))
        .as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"))
    // residual per dim: r = x − centroid(cell(x))_i, split to subspaces
    val resid = ex.join(assigned, Seq("vec_id"))
      .join(broadcast(cc), Seq("cell"))
      .filter(col("i") === col("ci"))
      .select(col("vec_id"), col("cell"),
        (col("i") / subDim).cast("int").as("m"),
        (col("i") % subDim).as("j"), (col("x") - col("y")).as("r"))
    // residual codebook as a broadcast (c, m, j, y) literal table
    val centRows = for {
      mi <- codebook.indices; c <- codebook(mi).indices
      j <- 0 until subDim
    } yield (c.toLong, mi, j, codebook(mi)(c)(j))
    val cent = spark.createDataFrame(centRows).toDF("c", "m", "j", "y")
    // encode: nearest residual centroid per subspace
    val d2 = resid.join(broadcast(cent), Seq("m", "j"))
      .groupBy(col("vec_id"), col("m"), col("c"))
      .agg(sum(((col("r") - col("y")) * (col("r") - col("y")))
        .cast("decimal(38,18)")).cast("double").as("d2"))
    val codes = d2.groupBy("vec_id", "m")
      .agg(min(struct(round(col("d2"), 6).as("w"), col("c"))).as("best"))
      .select(col("vec_id").as("vid"), col("m"), col("best.c").as("c"))
    val probes = celld2.filter(queryPred)
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cell"))
    // query residual PER PROBED CELL → per-(qid, cell) ADC tables
    val qresid = ex.filter(queryPred)
      .select(col("vec_id").as("qid"), col("i"), col("x"))
      .join(broadcast(probes), Seq("qid"))
      .join(broadcast(cc), Seq("cell"))
      .filter(col("i") === col("ci"))
      .select(col("qid"), col("cell"),
        (col("i") / subDim).cast("int").as("m"),
        (col("i") % subDim).as("j"), (col("x") - col("y")).as("qr"))
    val qd2 = qresid.join(broadcast(cent), Seq("m", "j"))
      .groupBy(col("qid"), col("cell"), col("m"), col("c"))
      .agg(sum(((col("qr") - col("y")) * (col("qr") - col("y")))
        .cast("decimal(38,18)")).cast("double").as("qd2"))
    // candidates carry their cell so the ADC lookup uses the query's
    // residual table FOR THAT CELL — the residual-IVF-PQ identity
    // ‖q−x‖² = ‖(q−c_cell) − r‖² needs x's cell to be the probed one
    val cand = assigned.select(col("vec_id").as("vid"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .select("qid", "vid", "cell")
    val adc = cand.join(codes, Seq("vid"))
      .join(broadcast(qd2), Seq("qid", "cell", "m", "c"))
      .groupBy("qid", "vid")
      .agg(round(sum(col("qd2").cast("decimal(38,18)")).cast("double"), 6)
        .as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("vid"))
    adc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Per-row residual frame `(vec_id, cell, rv)` against a literal
    * cell-centroid matrix: assignment by the shared (round-6
    * exact-decimal distance, lowest cell id) convention — bit-identical
    * to the explode-formulated `cells` CTE — and rv = v − centroid
    * per dimension (plain double subtraction on identical values on
    * both formulations). Map-only: the scale path for building the
    * residual corpus a codebook fit or an index build consumes. */
  def residualFrame(emb: DataFrame,
      cells: IndexedSeq[Array[Double]]): DataFrame = {
    val v = asDouble(col("embedding"))
    val cellStructs = cells.indices.map { c =>
      struct(
        graft.functions.VecOps.sqDist18r6(v,
          typedlit(cells(c).toSeq)).as("d"),
        lit(c).as("cell"))
    }
    val centLit = typedlit(cells.map(_.toSeq))
    emb
      .withColumn("cell",
        element_at(array_sort(array(cellStructs: _*)), 1)
          .getField("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(v, element_at(centLit, col("cell") + 1),
          (x, y) => x - y).as("rv"))
  }

  /** Per-subspace DETERMINISTIC Lloyd codebook over RESIDUALS — the
    * fit that makes residual encoding actually win: each subspace's
    * centroids come from `LloydKmeans.fit` on that slice of
    * r = x − centroid(cell(x)), so the codebook spends its codes on
    * cell-LOCAL structure. Init follows the seed-slice convention on
    * SHIFTED ids (pid = vec_id − nCells, fit corpus vec_id ≥ nCells):
    * the first `nCells` vectors ARE the cell centroids, so their own
    * residuals are ~0⃗ and seeding from them would collapse the init.
    * Fully oracle-reproducible: one `LloydKmeans.oracleSqlFrom` chain
    * per subspace over the residual points. Same layout as the other
    * codebooks — encode/ADC/streaming run unchanged. */
  def lloydResidualCodebook(emb: DataFrame,
      cells: IndexedSeq[Array[Double]], m: Int,
      subK: Int, iters: Int): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val dim = embDim(emb)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val nCells = cells.length
    val rv = residualFrame(emb, cells)
      .filter(col("vec_id") >= nCells)
      .select((col("vec_id") - nCells).cast("long").as("pid"),
        col("rv"))
      .cache()
    rv.count() // materialize once; the m fits share the cache
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec = graft.ops.Pools.jobs
      Await.result(
        Future.traverse((0 until m).toList) { mi => Future {
          val sub = rv.select(col("pid"),
            slice(col("rv"), mi * subDim + 1, subDim).as("sv"))
          graft.ml.LloydKmeans.fit(sub, "pid", "sv", subK, iters)._2
        }}, Duration.Inf).toIndexedSeq
    } finally rv.unpersist()
  }

  /** Per-vector residual-encode observability stats against FROZEN
    * index artifacts — the refit dial an incrementally-grown IVF-PQ
    * index watches: `cell_d2` (squared distance to the assigned coarse
    * centroid — how well the cell structure still covers the vector)
    * and `enc_err` (total squared residual reconstruction error of the
    * chosen PQ codes — what the codebook can no longer express).
    * Batches drifting away from the fit distribution show both rising;
    * that is the "time to retrain" signal (faiss's add-without-train
    * operational caveat). Same assignment/encode conventions as
    * [[ivfPqResidualTopK]] (exact decimal sums, round-6 + lowest-id
    * tiebreaks), so the stats are oracle-reproducible from the same
    * CTE chain. Map-only + two bounded groupBys; never query-keyed, so
    * it scales with the corpus scan. Returns (vec_id, cell, cell_d2,
    * enc_err). */
  def residualEncodeStats(emb: DataFrame,
      cells: IndexedSeq[Array[Double]],
      codebook: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val dim = embDim(emb)
    val m = codebook.length
    val subDim = codebook.head.head.length
    require(dim == m * subDim,
      s"dim $dim != $m subspaces x $subDim dims (codebook mismatch)")
    val v = asDouble(col("embedding"))
    // serving-layout formulation (same per-row shape as
    // StreamingAnnServe.indexOfResidual): every distance is a codegen'd
    // exact-decimal fold against a literal centroid, so the whole stats
    // pass is map-only — no explode, no join, no shuffle until the
    // caller's aggregate. Winner structs carry BOTH the round-6 d (the
    // cross-engine tiebreak) and the unrounded d2 (what the sums use).
    val cellStructs = cells.indices.map { c =>
      val d2 = graft.functions.VecOps.sqDist18(v,
        typedlit(cells(c).toSeq))
      struct(round(d2, 6).as("dr"), lit(c).as("cell"), d2.as("d"))
    }
    val centLit = typedlit(cells.map(_.toSeq))
    val assigned = emb
      .withColumn("win",
        element_at(array_sort(array(cellStructs: _*)), 1))
      .select(col("vec_id"), col("win.cell").as("cell"),
        col("win.dr").as("cell_d2"),
        zip_with(v, element_at(centLit, col("win.cell") + 1),
          (x, y) => x - y).as("rv"))
    // per-subspace chosen-code reconstruction error: min by (round-6
    // d2, code id), summed unrounded as scale-18 decimals, round-6 out
    // — bit-identical to the chain oracle's rd2/edrift convention
    val subErrs = (0 until m).map { mi =>
      val sl = slice(col("rv"), mi * subDim + 1, subDim)
      val structs = codebook(mi).indices.map { c =>
        val d2 = graft.functions.VecOps.sqDist18(sl,
          typedlit(codebook(mi)(c).toSeq))
        struct(round(d2, 6).as("dr"), lit(c).as("c"), d2.as("d"))
      }
      element_at(array_sort(array(structs: _*)), 1).getField("d")
        .cast("decimal(38,18)")
    }
    assigned.select(col("vec_id"), col("cell"), col("cell_d2"),
      round(subErrs.reduce(_ + _).cast("double"), 6).as("enc_err"))
  }

  /** Cell count sized to the corpus: nCells ≈ √n (the faiss guidance
    * for IVF list counts — keeps both the probe scan (nCells) and the
    * per-list candidate scan (n/nCells) at O(√n)), floored at
    * `minCells`. The IVF twin of [[autoBits]]: a fixed cell count
    * saturates at 100× the corpus — per-list length grows linearly and
    * the probed-candidate set with it. */
  def autoCells(n: Long, minCells: Int = 8): Int =
    math.max(minCells, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Deterministic Lloyd coarse quantizer: `nCells` full-dimension
    * cell centroids fitted on the whole corpus (`LloydKmeans.fit`,
    * seed-slice init) — what turns residual encoding from a wash into
    * a win: fitted centroids are cell MEANS, so residual norms really
    * are smaller than vector norms (a seed "centroid" is an arbitrary
    * corpus vector and its residuals carry MORE variance, not less).
    * Oracle-reproducible via `LloydKmeans.oracleSqlFrom` on the
    * full-vector points. Size `nCells` with [[autoCells]] at scale. */
  def lloydCoarseCells(emb: DataFrame, nCells: Int, iters: Int)
      : IndexedSeq[Array[Double]] =
    graft.ml.LloydKmeans.fit(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("v")),
      "vec_id", "v", nCells, iters)._2

  /** Non-residual IVF-PQ with BOTH stages fitted (Lloyd coarse cells +
    * Lloyd absolute-vector codebook) — the A/B control that isolates
    * the residual effect: identical coarse quantizer and codebook
    * budget as [[ivfPqResidualTopK]], differing only in what the PQ
    * codes encode. */
  def ivfPqFittedTopK(emb: DataFrame, queryPred: Column, k: Int,
      nProbe: Int, cells: IndexedSeq[Array[Double]],
      codebook: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val (codes, qd2) = pqPartsCodebook(emb, queryPred, codebook)
    val ex = emb.select(col("vec_id"),
      posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
    ivfAdcRankFrom(ex, queryPred, k, nProbe, codes, qd2,
      ccLit(emb.sparkSession, cells))
  }

  /** Exact re-rank refinement over an ADC candidate list — the stage a
    * production IVF-PQ server runs to buy back the recall quantization
    * costs: the top-R candidates per query (already ADC-ranked, R ≈
    * 2–10×k) join their STORED full vectors, exact squared-L2 re-scores
    * them (the fused round-6 `VecSqDist18R6` exact-decimal fold —
    * bit-identical to round-6 of the per-term DECIMAL(38,18) sums the
    * ground-truth oracle uses), and the best k by (round-6 d2, id)
    * survive. Scale shape: the join
    * touches only queries×R full vectors (candidate-keyed equi-join
    * against the vector store), never the corpus — ADC pruned the scan,
    * re-rank pays full-vector cost only on the short list.
    * Returns (qid, vid, adc, d2, rnk). */
  def rerankExact(emb: DataFrame, queryPred: Column,
      adcCands: DataFrame, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = adcCands.select("qid", "vid", "adc")
      .join(e.select(col("vec_id").as("vid"), col("v")), Seq("vid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vid"), col("adc"),
        graft.functions.VecOps.sqDist18r6(col("qv"), col("v")).as("d2"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("vid"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** SERVING-layout exact re-rank: the same refinement as
    * [[rerankExact]], but over the serving path's separate frames —
    * raw probed candidates `(qid, vid, adc)` (e.g.
    * `StreamingAnnServe.scoreCandidates` output), a query-vector
    * frame, and the stored full-vector table. ADC short-lists the
    * top-R per query, the vector store re-scores them with the
    * exact-decimal fold, top-k emits. Runs unchanged per micro-batch
    * inside `foreachBatch` (the standard multi-stage streaming-serving
    * shape — StreamingSpec locks streamed == batch). */
  def rerankServe(cands: DataFrame, queryVecs: DataFrame,
      vectors: DataFrame, rerankR: Int, k: Int): DataFrame =
    rerankServeBy(cands, queryVecs, vectors, Nil, lit(rerankR), k)

  /** [[rerankServe]] over several keyed candidate sets in one plan:
    * the top-R short list, the exact re-score and the top-k run per
    * (`keys`…, qid), with R read per row from `rerankR`. Returns the
    * keys, then (qid, vid, adc, d2, rnk). */
  def rerankServeBy(cands: DataFrame, queryVecs: DataFrame,
      vectors: DataFrame, keys: Seq[String], rerankR: Column, k: Int)
      : DataFrame = {
    val part = (keys :+ "qid").map(col)
    val wAdc = Window.partitionBy(part: _*).orderBy(col("adc"), col("vid"))
    val topR = cands.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerankR)
      .select(part ++ Seq(col("vid"), col("adc")): _*)
    val q = queryVecs.select(col("vec_id").cast("long").as("qid"),
      asDouble(col("embedding")).as("qv"))
    val x = vectors.select(col("vec_id").cast("long").as("vid"),
      asDouble(col("embedding")).as("v"))
    val exact = topR.join(x, Seq("vid")).join(broadcast(q), Seq("qid"))
      .select(part ++ Seq(col("vid"), col("adc"),
        graft.functions.VecOps.sqDist18r6(col("qv"), col("v")).as("d2")): _*)
    val w = Window.partitionBy(part: _*).orderBy(col("d2"), col("vid"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** IVF-PQ with the exact re-rank refinement composed in: ADC ranks
    * the probed-cell candidates ([[ivfPqTopK]] at k = rerankR), then
    * [[rerankExact]] re-scores that short list from the stored full
    * vectors. With rerankR = corpus size and nProbe = nCells this is
    * exactly the brute-force squared-L2 top-k (locked by
    * SimilaritySpec); production Rs of 2–10×k recover most of the
    * ADC recall loss at short-list cost. */
  def ivfPqRerankTopK(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int, nProbe: Int, rerankR: Int, m: Int = 4,
      subK: Int = 8): DataFrame =
    rerankExact(emb, queryPred,
      ivfPqTopK(emb, queryPred, rerankR, nCells, nProbe, m, subK), k)

  /** ANN via LSH buckets: candidate pairs share a bucket; exact cosine is
    * computed only within buckets. Returns (qid, vid, cos_sim, rnk). */
  def annLsh(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"),
      lshBucket(col("embedding"), embDim(emb)).as("bucket"))
      .withColumn("nrm", norm(col("v")))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
    val scored = e.join(broadcast(q),
        col("qbucket") === col("bucket") && col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("vid"),
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }
}
