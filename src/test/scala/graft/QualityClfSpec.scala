package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.QualityClf

/** Trained quality classifier (text.QualityClf) — the DuckDB bit-parity
  * of the unrolled GD fit is driver-checked (q_t_quality_clf_fit /
  * q_t_quality_clf / q_t_quality_clf_report); here the ALGORITHM
  * invariants are locked: the feature frame's accounting (gram rows
  * L1-normalize, exactly one bias and one length row per doc), GD
  * determinism (two fits bit-identical), that training actually moves
  * the model off the base rate (the r11 lesson: grams-only GD plateaus
  * at ~0.51 — the dense length feature is load-bearing), and the
  * serving scorer's agreement with the batch decimal path. */
class QualityClfSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64
  private val Thresh = 0.75

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200)

  private lazy val featY =
    QualityClf.features(docs, B)
      .join(QualityClf.labels(docs, Thresh), "doc_id")
      .select("doc_id", "y", "bk", "x")
      .repartition(col("doc_id"))
      .localCheckpoint()

  private lazy val nDocs = docs.count().toDouble

  test("feature frame: gram rows sum to 1 per doc; exactly one bias " +
      "row (x=1) and one length row per doc; buckets in range") {
    val f = QualityClf.features(docs, B)
    val perDoc = f.groupBy("doc_id").agg(
        sum(when(col("bk") >= 0 && col("bk") < B, col("x"))
          .otherwise(0.0)).as("gramSum"),
        sum(when(col("bk") === -1L, 1L).otherwise(0L)).as("nBias"),
        first(when(col("bk") === -1L, col("x")), ignoreNulls = true)
          .as("biasX"),
        sum(when(col("bk") === B.toLong, 1L).otherwise(0L)).as("nLen"),
        max("bk").as("maxBk"), min("bk").as("minBk"))
      .as[(Long, Double, Long, Double, Long, Long, Long)].collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { case (id, gramSum, nBias, biasX, nLen, maxBk, minBk) =>
      assert(math.abs(gramSum - 1.0) < 1e-9,
        s"doc $id: normalized gram features must sum to 1, got $gramSum")
      assert(nBias == 1L && biasX == 1.0, s"doc $id bias row")
      assert(nLen == 1L, s"doc $id length-feature row")
      assert(minBk >= -1L && maxBk <= B.toLong, s"doc $id bucket range")
    }
    // the length feature is min(chars,400)/400 of the raw text
    val lens = f.filter(col("bk") === B.toLong)
      .join(docs.select(col("doc_id"), length(col("text")).as("nc")),
        "doc_id")
      .as[(Long, Long, Double, Int)].collect()
    lens.foreach { case (_, _, x, nc) =>
      assert(x == math.min(nc, 400).toDouble / 400.0)
    }
  }

  test("fit is deterministic: two runs produce bit-identical weights " +
      "with all B+2 slots present") {
    val w1 = QualityClf.fit(featY, B, 10.0, 6, nDocs)
    val w2 = QualityClf.fit(featY, B, 10.0, 6, nDocs)
    assert(w1 == w2, "GD must be bit-deterministic")
    assert(w1.keySet == (-1L to B.toLong).toSet)
  }

  /** The retired per-round COLUMN program (doc-window margin + bucket
    * aggregation exchange): the parity reference that licenses
    * QualityClf.fitRound. */
  private def fitRoundDf(featY: DataFrame, lr: Double, nDocs: Double,
      w: QualityClf.Weights): QualityClf.Weights = {
    val wMap = map(w.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val margin = sum((col("x") * element_at(wMap, col("bk")))
      .cast("decimal(38,18)"))
      .over(Window.partitionBy("doc_id")).cast("double")
    val err = round(lit(1.0) / (lit(1.0) + exp(-margin)) - col("y"), 9)
    val g = featY.withColumn("err", err)
      .groupBy("bk")
      .agg(sum((col("err") * col("x")).cast("decimal(38,18)"))
        .cast("double").as("g"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    w.map { case (bk, wv) =>
      bk -> (wv - lr * (g.getOrElse(bk, 0.0) / nDocs))
    }
  }

  test("the RDD GD round is bit-identical to the retired column-" +
      "program round across chained iterations (incl. the decimal " +
      "margin/gradient casts and the round-9 err seam)") {
    val rounds = QualityClf.docs(featY, 4)
    try {
      var w: QualityClf.Weights =
        (-1L to B.toLong).map(_ -> 0.0).toMap
      for (round <- 1 to 4) {
        val viaDf = fitRoundDf(featY, 10.0, nDocs, w)
        val viaRdd = QualityClf.fitRound(rounds, round, 10.0, nDocs, w)
        assert(viaRdd == viaDf, s"round $round diverged")
        w = viaRdd
      }
    } finally rounds.close()
  }

  test("spread rounds over a repartition(8) input and the driver fold " +
      "of the same rows give bit-identical weights") {
    val in = featY.repartition(8)
    val spread = QualityClf.docs(in, 6, perPart = 1L)
    val folded = QualityClf.docs(in, 6, perPart = Long.MaxValue)
    try {
      var a: QualityClf.Weights = null
      var b: QualityClf.Weights = null
      assert(Jobs.count(spark) {
        a = QualityClf.fitOn(spread, B, 10.0, 6, nDocs) } == 6)
      assert(Jobs.count(spark) {
        b = QualityClf.fitOn(folded, B, 10.0, 6, nDocs) } == 0)
      assert(a == b, "spread and driver-folded fits must be identical")
      assert(a == QualityClf.fit(featY, B, 10.0, 6, nDocs))
    } finally { spread.close(); folded.close() }
  }

  test("training moves the model off the all-positive base rate and " +
      "beats it on train accuracy") {
    val w = QualityClf.fit(featY, B, 10.0, 24, nDocs)
    val scored = QualityClf.score(featY, w)
      .select(col("pred"), (col("y") === 1.0).as("label"))
      .as[(Boolean, Boolean)].collect()
    val acc = scored.count { case (p, l) => p == l }.toDouble / scored.length
    val baseRate = math.max(
      scored.count(_._2).toDouble / scored.length,
      scored.count(!_._2).toDouble / scored.length)
    val predPos = scored.count(_._1).toDouble / scored.length
    assert(predPos > 0.05 && predPos < 0.95,
      s"degenerate all-one-class prediction ($predPos)")
    assert(acc > baseRate + 0.05,
      s"train accuracy $acc must beat the base rate $baseRate")
  }

  test("fit is layout-proof: different partition layouts give " +
      "bit-identical weights (the PartitionInvariance property, " +
      "tested directly because the registered fit is memoized)") {
    val w1 = QualityClf.fit(featY.repartition(2), B, 10.0, 4, nDocs)
    val w2 = QualityClf.fit(featY.repartition(17, col("bk")), B, 10.0,
      4, nDocs)
    assert(w1 == w2,
      "decimal margin/gradient sums must make GD layout-invariant")
  }

  test("rowwise serving scorer agrees with the batch decimal path to " +
      "round-6 on every doc") {
    val w = QualityClf.fit(featY, B, 10.0, 6, nDocs)
    val batch = QualityClf.score(featY, w)
      .select(col("doc_id"), round(col("margin"), 6), col("pred"))
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val serve = QualityClf.scoreRowwise(docs, B, w)
      .select(col("doc_id"), round(col("margin"), 6), col("pred"))
      .as[(Long, Double, Boolean)].collect()
    assert(serve.length == batch.size)
    serve.foreach { case (id, m, p) =>
      assert(math.abs(m - batch(id)._1) < 2e-6,
        s"doc $id margin: serve $m vs batch ${batch(id)._1}")
      assert(p == batch(id)._2, s"doc $id pred")
    }
  }
}
