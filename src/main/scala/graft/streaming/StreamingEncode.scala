package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming PQ encoding — the ingestion half of the IVF-PQ lifecycle:
  * new embedding vectors arrive on a stream and are compressed to their
  * per-subspace centroid codes against a FIXED broadcast codebook
  * (codebooks are retrained offline; an index rebuild is a batch job,
  * exactly like the MinHash signature index in StreamingDedup).
  *
  * Shape: stateless map-only — per row, `m` argmins over `subK`
  * codebook literals. No shuffle, no watermark, no state: a
  * micro-batch of any width encodes in one pass, and the same column
  * program runs identically on a batch frame (locked by StreamingSpec
  * against the batch encoder's codes).
  *
  * Encode parity is by CONSTRUCTION, not just fixture-tested: each
  * subspace distance accumulates per-term through DECIMAL(38,18) —
  * the identical cast+exact-sum the batch encoder (Similarity.pqParts)
  * uses — so a streamed standing index can never diverge from a batch
  * rebuild at a rounding boundary. Tie-breaking matches pqTopK's
  * encode: 6-decimal-rounded distance, lowest centroid id wins.
  */
object StreamingEncode {

  /** A PQ codebook: centroids(m)(c) = the subvector of centroid `c` in
    * subspace `m`. */
  type Codebook = IndexedSeq[IndexedSeq[Array[Double]]]

  /** Deterministic seed codebook from the first `subK` vectors of a
    * BATCH embedding frame (same convention as Similarity.pqTopK;
    * production swaps in per-subspace KMeans centroids). One bounded
    * k-row collect. */
  def seedCodebook(emb: DataFrame, m: Int, subK: Int): Codebook = {
    val rows = emb.filter(col("vec_id") < subK)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .collect()
      .sortBy(_.getLong(0))
    require(rows.length == subK, s"need $subK seed vectors")
    val dim = rows.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    (0 until m).map { mi =>
      rows.toIndexedSeq.map { r =>
        r.getSeq[Double](1).slice(mi * subDim, (mi + 1) * subDim).toArray
      }
    }
  }

  /** Append `code_0 … code_{m-1}` columns (the compressed vector —
    * m·log2(subK) bits of payload) to a batch OR streaming frame with
    * an `embedding` column. */
  def encode(df: DataFrame, codebook: Codebook): DataFrame = {
    val m = codebook.length
    val subDim = codebook.head.head.length
    val v = col("embedding").cast("array<double>")
    val codeCols = (0 until m).map { mi =>
      val slice = org.apache.spark.sql.functions.slice(
        v, mi * subDim + 1, subDim)
      val dists = codebook(mi).indices.map { c =>
        // round-6 of the per-term exact scale-18 sum == batch
        // pqParts' formulation (round(sum(cast((x-y)² as
        // decimal(38,18))), 6)), run as the fused certified kernel
        // (graft.functions.VecDecimal contract: term rounding,
        // overflow→null and exact accumulation are bit-identical to the
        // interpreted HOF chain, then the shared round-6 tiebreak)
        graft.functions.VecOps.sqDist18r6(slice,
          typedlit(codebook(mi)(c).toSeq))
      }
      val best = dists.reduce((a, b) => least(a, b))
      // first centroid attaining the min wins (id tiebreak)
      dists.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (d, c)) => coalesce(acc, when(d === best, lit(c)))
      }.as(s"code_$mi")
    }
    df.select(col("*") +: codeCols: _*)
  }
}
