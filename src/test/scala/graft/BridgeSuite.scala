package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Semantics of Bridge.materializeOwned — the round-loop primitive:
  * row-identical results, a LEAF Catalyst plan (no embedded upstream
  * tree), explicit block ownership, and RDD-lineage recompute after an
  * explicit free (plan-lineage cut ≠ data loss). */
class BridgeSuite extends SparkSpec {

  test("materializeOwned: identical rows, leaf plan, free + recompute") {
    val df = spark.range(0, 1000, 1, 4).toDF("id")
      .withColumn("k", col("id") % 7)
      .groupBy("k").agg(sum(col("id")).as("s"))
    val want = df.collect().map(_.toString).sorted

    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (m, free) = Bridge.materializeOwned(df)
    assert(m.collect().map(_.toString).sorted.sameElements(want))

    // the Catalyst plan must be a leaf scan: the upstream aggregate
    // appears nowhere in it (this is the property that keeps iterative
    // round plans O(1) — persist() fails it)
    val plan = m.queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate"), s"plan not cut to a leaf:\n$plan")

    // blocks are owned: a NEW persisted RDD appears, and free() drops it
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "materializeOwned must persist its RDD")
    free()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(!after.contains(_)), "free() must unpersist the owned RDD")
    // a post-free read recomputes through RDD lineage — same rows
    assert(m.collect().map(_.toString).sorted.sameElements(want))
  }

  test("materializedBytes: sees localCheckpoint blocks; an unmaterialized frame has none") {
    val df = spark.range(0, 50000, 1, 4).toDF("id").withColumn("k", col("id") % 7)
    val lc = df.localCheckpoint()
    try assert(Bridge.materializedBytes(lc).exists(_ > 0),
      "localCheckpoint blocks must be measurable")
    finally lc.unpersist(blocking = false)
    // an un-materialized frame has no measured size — callers fall back
    assert(Bridge.materializedBytes(df).isEmpty)
  }

  test("materializeOwned: preserves schema incl. nullable arrays and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("x"), Seq("a", "b")),
      (2L, None, Seq.empty[String]),
      (3L, Some("y"), null.asInstanceOf[Seq[String]]))
      .toDF("id", "tag", "labels")
    val (m, free) = Bridge.materializeOwned(df)
    try {
      assert(m.schema == df.schema)
      assert(m.collect().map(_.toString).sorted
        .sameElements(df.collect().map(_.toString).sorted))
    } finally free()
  }
}
