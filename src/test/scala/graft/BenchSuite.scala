package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** The bench's timing helper reports a query that throws, while its
  * frame is built or while it executes, as a failure and never as a
  * timing. */
class BenchSuite extends SparkSpec {

  test("timeQuery reports a throwing query as a failure, not a fast timing") {
    val built = Bench.timeQuery(spark, sf0001, (_, _) => throw new IllegalStateException("no plan"))
    assert(built.left.toOption.map(_.getMessage).contains("no plan"), built)
    val executed = Bench.timeQuery(spark, sf0001,
      (s, _) => s.range(10).select(raise_error(lit("boom")).as("x")))
    assert(executed.left.toOption.exists(_.getMessage.contains("boom")), executed)
    val passed = Bench.timeQuery(spark, sf0001, (s, _) => s.range(10).toDF())
    assert(passed.toOption.exists(_ > 0), passed)
  }
}
