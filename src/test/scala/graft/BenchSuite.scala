package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** The bench's timing helper reports a query that throws, while its
  * frame is built or while it executes, as a failure and never as a
  * timing; the query selection the mains share fails on an unknown name. */
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

  test("query selection names every unknown query; an empty list selects none") {
    val err = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_scan_timerange,q02_topn_entity")))
    assert(err.getMessage.contains("q02_topn_entity"), err.getMessage)
    assert(!err.getMessage.contains("q01_scan_timerange"), err.getMessage)
    assert(SparkEntry.select(Some("q02_filter_criteria, q01_scan_timerange")).map(_._1) ==
      Seq("q02_filter_criteria", "q01_scan_timerange"))
    assert(SparkEntry.select(Some("")).isEmpty)
    assert(SparkEntry.select(None).map(_._1).toSet == SparkEntry.queries.keySet)
  }
}
