package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.{Harness, PlanDump, SparkEntry, SparkSpec}

/** The one recall count: `AnnStages.recallHits` equals the per-arm
  * program it replaced on dirty served rows, and the rung frontiers
  * plan one keyed recall whatever their number of rungs. */
class RecallSpec extends SparkSpec {

  // the smallest fixture, beside the harness's scale-factor directory
  private lazy val dir = java.nio.file.Paths.get(Harness.sfDir)
    .resolveSibling("sf0.001").toString

  /** The retired per-arm form: one left join and one per-qid aggregate
    * per arm, unioned, in either spelling of the hit count. */
  private def perArm(truth: DataFrame, served: DataFrame,
      arms: Seq[String], countSpelling: Boolean): DataFrame =
    arms.map { a =>
      val hits = served.filter(col("arm") === a)
        .select(col("qid"), col("vid")).withColumn("hit", lit(1L))
      truth.join(hits, Seq("qid", "vid"), "left")
        .groupBy("qid")
        .agg((if (countSpelling) count(col("hit"))
          else sum(coalesce(col("hit"), lit(0L)))).as("n_hits"),
          count(lit(1)).as("n_true"))
        .select(lit(a).as("arm"), col("qid"), col("n_hits"),
          col("n_true"))
    }.reduce(_ unionByName _)

  private def rows(df: DataFrame): Seq[Row] =
    df.select("arm", "qid", "n_hits", "n_true").collect().toSeq
      .sortBy(r => (r.getString(0), r.getLong(1)))

  test("recallHits equals the retired per-arm recall on dirty served " +
      "rows") {
    val s = spark
    import s.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L),
      (2L, 21L), (3L, 30L)).toDF("qid", "vid")
    val served = Seq[(String, java.lang.Long, java.lang.Long)](
      ("a", 1L, 10L), ("a", 1L, 10L), // a duplicated served pair
      ("a", 1L, null), // a null vid
      ("a", 1L, 99L), ("a", 2L, 21L), // qid 3 has truth, no rows in a
      ("b", 1L, 12L), ("b", 2L, 20L), ("b", 2L, 21L), ("b", 3L, 30L),
      ("b", 4L, 40L) // a served qid without truth
    ).toDF("arm", "qid", "vid")
    val arms = Seq("a", "b", "none") // "none" serves no rows
    val keyed = rows(AnnStages.recallHits(truth, served, arms.toDF("arm")))
    assert(keyed == rows(perArm(truth, served, arms, countSpelling = true)))
    assert(keyed == rows(perArm(truth, served, arms, countSpelling = false)))
    assert(keyed.filter(_.getString(0) == "none")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))) ==
      Seq((1L, 0L, 3L), (2L, 0L, 2L), (3L, 0L, 1L)))
    // the duplicated pair counts twice in both columns
    assert(keyed.find(r => r.getString(0) == "a" && r.getLong(1) == 1L)
      .map(r => (r.getLong(2), r.getLong(3))).contains((2L, 4L)))
    val one = AnnStages.recallHits(truth,
        served.filter(col("arm") === "a"))
      .withColumn("arm", lit("a"))
    assert(rows(one) == keyed.filter(_.getString(0) == "a"))
  }

  /** Exchanges planned by a registered query with `key` set to
    * `rungs`, its stages rebuilt under the setting. */
  private def exchanges(query: String, key: String, rungs: String): Int = {
    sys.props(key) = rungs
    try {
      Stage.clear()
      PlanDump.counts(SparkEntry.queries(query)(spark, dir))._1
    } finally {
      sys.props.remove(key)
      Stage.clear()
    }
  }

  test("the rung frontiers plan as many exchanges at 4 rungs as at 2") {
    val pq = "graft.nndescent.hnsw_pq_rerank_rungs"
    assert(exchanges("q_e_hnsw_pq_frontier", pq, "12,24") ==
      exchanges("q_e_hnsw_pq_frontier", pq, "12,24,48,96"))
    val ivf = "graft.ann.frontier.rungs"
    assert(exchanges("q_e_ann_frontier", ivf, "1:16,4:32") ==
      exchanges("q_e_ann_frontier", ivf, "1:16,2:16,4:32,8:48"))
  }
}
