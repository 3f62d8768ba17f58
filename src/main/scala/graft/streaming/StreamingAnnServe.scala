package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming IVF-PQ query serving — the third piece of the ANN index
  * lifecycle (batch index build → [[StreamingEncode]] ingestion →
  * THIS: queries arriving on a stream are answered against the standing
  * compressed index):
  *
  *  - The INDEX is a static frame `(vid, cell, code_0..code_{m-1})` —
  *    m bytes of PQ payload + a coarse cell id per corpus vector —
  *    built batch-side by [[indexOf]] (or incrementally appended by
  *    [[StreamingEncode]]); at 100 TB it is a stored table
  *    hash-partitioned by `cell`.
  *  - Each QUERY row maps, statelessly, to its `nProbe` nearest coarse
  *    cells (explode) plus per-subspace ADC distance tables (m arrays
  *    of subK doubles) — a pure column program against the broadcast
  *    cell/codebook literals, no shuffle.
  *  - A stream-static equi-join on `cell` selects the probed candidates
  *    (candidate set ≈ corpus·nProbe/nCells, never a full scan), ADC
  *    scores each via m array lookups, and a per-query top-k emits from
  *    `flatMapGroupsWithState` (stateless — a query's candidates all
  *    land in its own micro-batch because the join is stream-static, so
  *    the group is complete per batch and no state carries over).
  *
  * Parity with the batch path is by CONSTRUCTION, not just
  * fixture-tested: every distance accumulates per-term through exact
  * DECIMAL(38,18) sums — the identical formulation
  * `Similarity.ivfPqTopK` uses — with the same round-6 +
  * lowest-id tiebreaks, so a streamed answer is bit-identical to the
  * batch answer for the same query vector (locked by StreamingSpec).
  *
  * Ref: the reference ships its ANN surfaces as batch CLI commands; the
  * serving shape here is the standard IVF-PQ online-query path (probe
  * ordering + ADC) re-expressed as Structured Streaming.
  */
object StreamingAnnServe {

  /** Coarse quantizer: nCells full-dimension cell centroids. */
  type Cells = IndexedSeq[Array[Double]]

  /** Per-query top-k answer row. */
  case class AnnHit(qid: Long, vid: Long, adc: Double, rnk: Int)

  /** Deterministic seed cell centroids — the first `nCells` vectors of
    * the batch corpus, matching `Similarity.ivfPqTopK`'s coarse
    * quantizer convention (KMeans-swappable: any `Cells` works). One
    * bounded k-row collect. */
  def seedCells(emb: DataFrame, nCells: Int): Cells = {
    val rows = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .collect()
      .sortBy(_.getLong(0))
    require(rows.length == nCells, s"need $nCells cell seed vectors")
    rows.toIndexedSeq.map(_.getSeq[Double](1).toArray)
  }

  /** Exact squared L2 distance of an array column to a literal vector:
    * per-term scale-18 decimal accumulation (the repo's hash-stability
    * convention — aggregation-order-free), returned as an UNROUNDED
    * double, matching the batch d2 frames. Runs as the native codegen'd
    * [[graft.functions.VecOps.sqDist18]] (bit-identical to the
    * interpreted HOF formulation by the VecDecimal contract). */
  private def sqDistExact(vec: Column, centroid: Array[Double]): Column =
    graft.functions.VecOps.sqDist18(vec, typedlit(centroid.toSeq))

  /** `round(sqDistExact(vec, centroid), 6)` as the fused
    * [[graft.functions.VecOps.sqDist18r6]] — the cell assignment and
    * probe-order distance. */
  private def sqDistR6(vec: Column, centroid: Array[Double]): Column =
    graft.functions.VecOps.sqDist18r6(vec, typedlit(centroid.toSeq))

  /** Batch index build: `(vid, cell, code_0..code_{m-1})` per corpus
    * vector — coarse cell by round-6 + lowest-id tiebreak (identical to
    * `Similarity.ivfPqTopK`'s assignment), PQ codes via
    * [[StreamingEncode.encode]] (already locked bit-identical to the
    * batch encoder). Map-only: at 100 TB this is one pass over the
    * corpus, writing m bytes + a cell id per vector. */
  def indexOf(emb: DataFrame, cells: Cells,
      codebook: StreamingEncode.Codebook): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val cellStructs = cells.indices.map { c =>
      struct(sqDistR6(v, cells(c)).as("d"), lit(c).as("cell"))
    }
    // array_sort on (d, cell) structs IS the (round-6 distance,
    // lowest-id) tiebreak ordering
    val assigned = emb.withColumn("cell",
      element_at(array_sort(array(cellStructs: _*)), 1)
        .getField("cell"))
    StreamingEncode.encode(assigned, codebook)
      .select(col("vec_id").as("vid") +: col("cell") +:
        codebook.indices.map(mi => col(s"code_$mi")): _*)
  }

  /** Stateless per-candidate scoring: each streaming query row
    * `(vec_id, embedding)` maps to its nProbe probed cells and ADC
    * tables, joins the static `index` on `cell`, and scores every
    * candidate. Returns `(qid, vid, adc)` — one row per probed
    * candidate. Works identically on a batch frame. */
  def scoreCandidates(queries: DataFrame, index: DataFrame, cells: Cells,
      codebook: StreamingEncode.Codebook, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= cells.length)
    val m = codebook.length
    val subDim = codebook.head.head.length
    val v = col("embedding").cast("array<double>")
    // probe order: nProbe nearest cells by (round-6 d2, cell id)
    val cellStructs = cells.indices.map { c =>
      struct(sqDistR6(v, cells(c)).as("d"), lit(c).as("cell"))
    }
    val probes = slice(array_sort(array(cellStructs: _*)), 1, nProbe)
    // ADC tables: qd2_mi[c] = exact d2 of the query's mi-slice to
    // centroid c (unrounded, like the batch qd2 frame)
    val qd2Cols = (0 until m).map { mi =>
      val sl = org.apache.spark.sql.functions.slice(
        v, mi * subDim + 1, subDim)
      array(codebook(mi).indices.map(c =>
        sqDistExact(sl, codebook(mi)(c))): _*).as(s"qd2_$mi")
    }
    val qProj = queries.select(
      col("vec_id").cast("long").as("qid") +:
        explode(probes).as("pc") +: qd2Cols: _*)
      .withColumn("cell", col("pc.cell")).drop("pc")
    // Batch mode: BROADCAST the query side — it is tiny (queries ×
    // nProbe rows) while the index is the corpus, and the broadcast
    // relation materializes each query's fold arrays ONCE. Without the
    // boundary, whole-stage codegen fuses the query-side projection
    // into the join's probe loop and re-evaluates all m·subK folds per
    // CANDIDATE row (≈ corpus·nProbe/nCells per query — measured 25x
    // slower at sf0.1). Streaming mode: a stream can't be broadcast;
    // the stream side stays as-is and the static index broadcasts.
    val q = if (queries.isStreaming) qProj else broadcast(qProj)
    // equi-join on cell, then m table lookups; the sum
    // casts each looked-up double through DECIMAL(38,18) exactly like
    // the batch `sum(qd2.cast(decimal(38,18)))` before the round-6
    // (24,18) terms keep the reduce chain exact at scale 18 — precision
    // grows one integer digit per Add ((25,18)…(27,18) for m=4) and
    // never hits Spark's 38 cap, unlike naive (38,18) terms whose first
    // Add drops to scale 17
    val adcTerms = (0 until m).map(mi =>
      element_at(col(s"qd2_$mi"), col(s"code_$mi") + 1)
        .cast("decimal(24,18)"))
    q.join(index, Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        round(adcTerms.reduce(_ + _).cast("double"), 6).as("adc"))
  }

  /** Residual index build (faiss by_residual=true): same coarse
    * assignment as [[indexOf]], but the PQ codes encode
    * r = v − centroid(cell(v)) — computed per row against the literal
    * centroid matrix (plain double subtraction, bit-identical to the
    * batch explode formulation) — against a RESIDUAL codebook
    * (`Similarity.lloydResidualCodebook`). Map-only like [[indexOf]]. */
  def indexOfResidual(emb: DataFrame, cells: Cells,
      codebook: StreamingEncode.Codebook): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val cellStructs = cells.indices.map { c =>
      struct(sqDistR6(v, cells(c)).as("d"), lit(c).as("cell"))
    }
    val centLit = typedlit(cells.map(_.toSeq))
    val resid = emb
      .withColumn("cell",
        element_at(array_sort(array(cellStructs: _*)), 1)
          .getField("cell"))
      .withColumn("embedding",
        zip_with(v, element_at(centLit, col("cell") + 1),
          (x, y) => x - y))
    StreamingEncode.encode(resid, codebook)
      .select(col("vec_id").as("vid") +: col("cell") +:
        codebook.indices.map(mi => col(s"code_$mi")): _*)
  }

  /** Residual candidate scoring: as [[scoreCandidates]], except the
    * query's ADC tables are built from its residual AGAINST EACH
    * PROBED CELL (the residual-IVF-PQ identity ‖q−x‖² =
    * ‖(q−c_cell) − r‖² holds only within x's own cell, which the
    * `cell` equi-join guarantees). Still stateless and map-only on the
    * query side; the per-(query, cell) table is the nProbe× price the
    * residual convention pays. */
  def scoreCandidatesResidual(queries: DataFrame, index: DataFrame,
      cells: Cells, codebook: StreamingEncode.Codebook, nProbe: Int)
      : DataFrame =
    probedCandidatesResidual(queries, index, cells, codebook, nProbe)
      .select("qid", "vid", "adc")

  /** [[scoreCandidatesResidual]] plus each candidate's `probe`: the
    * 0-based rank of its cell among the query's probed cells. The
    * rank does not depend on `nProbe`, so the candidates at the widest
    * nProbe hold those of every narrower one as `probe < nProbe`. */
  def probedCandidatesResidual(queries: DataFrame, index: DataFrame,
      cells: Cells, codebook: StreamingEncode.Codebook, nProbe: Int)
      : DataFrame = {
    require(nProbe >= 1 && nProbe <= cells.length)
    val m = codebook.length
    val subDim = codebook.head.head.length
    val v = col("embedding").cast("array<double>")
    val cellStructs = cells.indices.map { c =>
      struct(sqDistR6(v, cells(c)).as("d"), lit(c).as("cell"))
    }
    val probes = slice(array_sort(array(cellStructs: _*)), 1, nProbe)
    val centLit = typedlit(cells.map(_.toSeq))
    // ADC tables from the per-cell query residual: qd2_mi[c] = exact
    // d2 of the residual's mi-slice to residual-centroid c (unrounded,
    // like the batch rqd2 frame)
    val qd2Cols = (0 until m).map { mi =>
      val sl = org.apache.spark.sql.functions.slice(
        col("qres"), mi * subDim + 1, subDim)
      array(codebook(mi).indices.map(c =>
        sqDistExact(sl, codebook(mi)(c))): _*).as(s"qd2_$mi")
    }
    val qProj = queries
      .select(col("vec_id").cast("long").as("qid"),
        posexplode(probes).as(Seq("probe", "pc")), v.as("qv"))
      .withColumn("cell", col("pc.cell")).drop("pc")
      .withColumn("qres",
        zip_with(col("qv"), element_at(centLit, col("cell") + 1),
          (x, y) => x - y))
      .select(col("qid") +: col("cell") +: col("probe") +: qd2Cols: _*)
    // same broadcast-boundary rationale as scoreCandidates
    val q = if (queries.isStreaming) qProj else broadcast(qProj)
    val adcTerms = (0 until m).map(mi =>
      element_at(col(s"qd2_$mi"), col(s"code_$mi") + 1)
        .cast("decimal(24,18)"))
    q.join(index, Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"),
        round(adcTerms.reduce(_ + _).cast("double"), 6).as("adc"),
        col("probe"))
  }

  /** Streaming top-k: per-query best `k` candidates by (adc, vid). The
    * group is complete within one micro-batch (stream-static join), so
    * the state hook is a pure per-batch top-k — nothing is stored.
    * Output mode: append. */
  def serveTopK(queries: DataFrame, index: DataFrame, cells: Cells,
      codebook: StreamingEncode.Codebook, nProbe: Int, k: Int)
      : Dataset[AnnHit] =
    topKOf(scoreCandidates(queries, index, cells, codebook, nProbe), k)

  /** Residual-convention streaming top-k: [[scoreCandidatesResidual]]
    * composed with the same per-batch top-k tail as [[serveTopK]]. */
  def serveTopKResidual(queries: DataFrame, index: DataFrame,
      cells: Cells, codebook: StreamingEncode.Codebook, nProbe: Int,
      k: Int): Dataset[AnnHit] =
    topKOf(scoreCandidatesResidual(queries, index, cells, codebook,
      nProbe), k)

  /** Streaming GRAPH-ANN serving — the NN-Descent / HNSW twin of the
    * IVF-PQ serving above, completing the serving parity surface for
    * the graph index family.
    *
    * Shape: `foreachBatch`. Beam search trims the frontier to top-B
    * per query AFTER EVERY HOP — a chain of `hops` aggregations —
    * and chained aggregations over a streaming frame are unsupported
    * (Structured Streaming allows one, plus narrow time-window
    * cases), so the hop loop cannot run as an incremental query the
    * way the stateless IVF scorers above do. `foreachBatch` is the
    * engine's idiom for exactly this: each trigger's queries form a
    * bounded BATCH frame served by the batch
    * `NnDescent.serveFrame`/`serveHierFrame` against the FROZEN
    * graph + vector frames. Parity with batch is by CONSTRUCTION —
    * the same code runs — and holds per query because every chain
    * (entries, hops, top-k, n_scored) is query-local, so micro-batch
    * boundaries cannot change any query's answer (StreamingSpec
    * locks batch ≡ stream across batchings). No state store: the
    * graphs are static artifacts and nothing carries across
    * triggers; at 100 TB each trigger's work is the documented
    * serve shape (query-local equi-joins against the k-bounded edge
    * lists, coarse scan bounded by the top layer). */
  def serveGraphStream(queries: DataFrame, emb: DataFrame,
      graph: DataFrame, k: Int, beam: Int, hops: Int)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        sink(graft.text.NnDescent.serveFrame(emb, graph, batch.toDF(),
          k, beam, hops))
      }
      .start()

  /** Hierarchical twin of [[serveGraphStream]]: each micro-batch
    * descends the FROZEN layer graphs via the batch
    * `NnDescent.serveHierFrame` — same foreachBatch rationale. */
  def serveHierGraphStream(queries: DataFrame, emb: DataFrame,
      baseGraph: DataFrame, layerGraphs: Seq[DataFrame], k: Int,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        sink(graft.text.NnDescent.serveHierFrame(emb, baseGraph,
          layerGraphs, batch.toDF(), k, upBeam, upHops, beam, hops,
          ratio))
      }
      .start()

  /** DiskANN twin of [[serveHierGraphStream]]: each micro-batch's
    * queries traverse the frozen graphs over PQ codes with the exact
    * re-rank, via the batch `NnDescent.serveHierPqFrame` — the
    * codebook is a frozen fitted artifact (same foreachBatch
    * rationale; batch ≡ stream per query by construction). */
  def servePqGraphStream(queries: DataFrame, emb: DataFrame,
      baseGraph: DataFrame, layerGraphs: Seq[DataFrame], k: Int,
      upBeam: Int, upHops: Int, beam: Int, hops: Int, ratio: Int,
      rerankR: Int, codebook: StreamingEncode.Codebook)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        sink(graft.text.NnDescent.serveHierPqFrame(emb, baseGraph,
          layerGraphs, batch.toDF(), k, upBeam, upHops, beam, hops,
          ratio, rerankR, codebook))
      }
      .start()

  private def topKOf(cands: DataFrame, k: Int): Dataset[AnnHit] = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[Int]) =>
          rows.toSeq.sortBy { case (_, vid, adc) => (adc, vid) }
            .take(k).zipWithIndex.map { case ((_, vid, adc), i) =>
              AnnHit(qid, vid, adc, i + 1)
            }.iterator
      }
  }
}
