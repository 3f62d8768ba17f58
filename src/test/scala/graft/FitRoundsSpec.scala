package graft

import graft.ml.FitRounds

/** The iterative fits' round seam (ml.FitRounds): spread rounds name
  * their jobs and leave the caller's job group and description as they
  * were; a driver fold submits no job per round. (The fits' own
  * job-count and branch-parity checks live in their specs.) */
class FitRoundsSpec extends SparkSpec {

  test("spread rounds describe their jobs as '<fit> round i/n' and " +
      "restore the caller's description; the job group is kept") {
    val rdd = spark.sparkContext.parallelize(1 to 100, 4)
    val sc = spark.sparkContext
    var after: String = null
    val jobs = Jobs.during(spark, "caller") {
      val rounds = FitRounds("probe fit", 2, rdd, (_: Int) => 1L, 10L)
      try {
        val s1 = rounds.round(1)(() => 0L)(_ + _)(_ + _)
        val s2 = rounds.round(2)(() => 0L)(_ + _)(_ + _)
        assert(s1 == 5050L && s2 == 5050L)
      } finally rounds.close()
      after = sc.getLocalProperty("spark.job.description")
    }
    assert(after == "caller")
    val descs = jobs.map(_.getProperty("spark.job.description"))
    assert(descs == Seq("probe fit round 0/2", "probe fit round 1/2",
      "probe fit round 2/2"), descs)
    val groups = jobs.map(_.getProperty("spark.jobGroup.id")).distinct
    assert(groups.size == 1)
  }

  test("a driver fold runs no job per round and folds in the given " +
      "order") {
    val rdd = spark.sparkContext.parallelize(Seq(3, 1, 2), 3)
    val rounds = FitRounds("probe fit", 1, rdd, (_: Int) => 1L, 10L,
      Some(Ordering.Int))
    try {
      var seen = Vector.empty[Int]
      assert(Jobs.count(spark) {
        seen = rounds.round(1)(() => Vector.empty[Int])(_ :+ _)(_ ++ _)
      } == 0)
      assert(seen == Vector(1, 2, 3))
      assert(rounds.count == 3L)
    } finally rounds.close()
  }
}
