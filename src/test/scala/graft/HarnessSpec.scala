package graft

import org.apache.spark.sql.functions.{col, udf}

/** The harness's timing action computes every column, and its timer
  * reports a failure instead of a time. */
class HarnessSpec extends SparkSpec {

  test("materialize computes every column; count() prunes an unused one") {
    val calls = spark.sparkContext.longAccumulator("harness_udf_calls")
    val bump = udf { (x: Long) => calls.add(1); x }
    val df = spark.range(0, 100, 1, 4).withColumn("bumped", bump(col("id")))
    assert(df.count() == 100)
    assert(calls.value == 0)
    Harness.materialize(df)
    assert(calls.value == 100)
  }

  test("timed returns a failure's message and no seconds") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("harness boom")
      x
    }
    val df = spark.range(0, 10, 1, 2).withColumn("b", boom(col("id")))
    Harness.timed(Harness.materialize(df)) match {
      case Left(msg) => assert(msg.contains("harness boom"), msg)
      case Right(secs) => fail(s"a failed run was timed: $secs s")
    }
    assert(Harness.timed(()).isRight)
  }
}
