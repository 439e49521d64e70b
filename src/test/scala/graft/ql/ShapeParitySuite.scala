package graft.ql

import java.nio.file.{Files, Paths}
import java.time.Instant

import graft.SparkSpec
import graft.engine.Planners
import graft.sources.{Catalog, TableDef}
import graft.storage.{Layout, LayoutSpec, StageRoots, Stages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ExchangeQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Jobs

/** A statement over a resource no larger than the one-task cutoff is
  * planned as one task ([[Planners.oneTaskIfSmall]]). Every kind of the
  * wire dashboard mix, a staged resource, a multi-group union and a
  * flexible property run in that shape (cutoff `Long.MaxValue`) and in
  * the multi-partition shape the planner picks above the cutoff (cutoff
  * 0): the rows, the scans' pushed filters and, above the cutoff, the
  * plan itself must not change. */
class ShapeParitySuite extends SparkSpec with AdaptiveSparkPlanHelper {

  private val now = Instant.parse("2024-01-20T00:00:00Z")

  private def tmp(prefix: String): String = {
    val base = Paths.get("target/test-tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).toString
  }

  private lazy val resources: Map[String, BydbQL.Resource] = {
    import spark.implicits._
    val events = Catalog.load(spark, sf0001, "events")
    val tdef = Catalog.defs("events")
    val spec = LayoutSpec(group = "g", name = "events", entity = Seq("user_id"),
      tsCol = "ts_ns", tsIsNanos = true, shardNum = 4, segmentDays = 7)
    val root = tmp("shape")
    Layout.append(events, root, spec, mode = "overwrite")
    val cpm = BydbQL.Resource(Layout.read(spark, root, spec), tdef, fields = Set("value"))

    val cut = Instant.parse("2024-01-15T00:00:00Z").getEpochSecond * 1000000000L
    val sr = StageRoots(Map("hot" -> tmp("hot"), "warm" -> tmp("warm")))
    Stages.appendTo(events.filter(col("ts_ns") >= cut), "hot", sr, spec, mode = "overwrite")
    Stages.appendTo(events.filter(col("ts_ns") < cut), "warm", sr, spec, mode = "overwrite")
    val staged = cpm.copy(df = Stages.read(spark, spec, sr),
      stageDfs = Seq("hot", "warm").map(st => st -> Stages.read(spark, spec, sr, Seq(st))).toMap)

    // two groups with different schemas: `zone` exists in ga only
    val ga = cpm.copy(df = cpm.df.filter(col("event_id") % 2 === 0).withColumn("zone", lit("east")))
    val gb = cpm.copy(df = cpm.df.filter(col("event_id") % 2 === 1))

    def parquet(df: DataFrame, prefix: String): DataFrame = {
      val p = tmp(prefix)
      df.repartition(3).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val menu = parquet((0 until 120).flatMap(i => (1 to 1 + i % 3).map(rev =>
      (s"m$i", rev.toLong, s"cfg-${(i * 7 + rev) % 20}", (i + rev) % 11 == 0)))
      .toDF("id", "rev", "configuration", "deleted"), "menu")
    val colors = Seq("red", "green", "blue")
    val docs = parquet((0 until 120).flatMap(i => (1 to 1 + i % 2).map { rev =>
      val tags = if (i % 2 == 0) Map("color" -> colors(i % 3), "size" -> s"${i % 5}")
        else Map("color" -> colors((i + rev) % 3))
      (s"d$i", rev.toLong, i % 13 == 0, tags)
    }).toDF("id", "rev", "deleted", "tags"), "docs")
    val property = BydbQL.Resource(menu, TableDef("ui_menu"), propertyIdCol = Some("id"),
      propertyRevCol = Some("rev"), propertyDeletedCol = Some("deleted"))

    Map(
      "service_cpm" -> cpm,
      "service_cpm_topn" -> cpm.copy(topNRule = Some(BydbQL.TopNRule("ts_ns", "user_id",
        floor(col("value")).cast("long"), 3600000L, 3))),
      "sw_log" -> cpm.copy(df = cpm.df.withColumn("element_id", col("event_id").cast("string")),
        fields = Set.empty, elementIdCol = Some("element_id")),
      "sw_trace" -> cpm.copy(df = cpm.df.withColumn("trace_id", (col("event_id") / 8).cast("long")),
        fields = Set.empty, traceIdCol = Some("trace_id"),
        spanStruct = Seq("event_id", "event_type", "value", "ts_ns")),
      "staged" -> staged,
      "ga/mg" -> ga,
      "gb/mg" -> gb,
      "ui_menu" -> property,
      "flex" -> property.copy(df = docs, propertyTagsCol = Some("tags")))
  }

  /** A statement, its bind values, and whether its row order is fixed. */
  private case class Stmt(name: String, ql: String, params: Seq[Any], ordered: Boolean)

  private val window = "TIME > '-20d'"
  private val statements = Seq(
    Stmt("sum", s"SELECT event_type, SUM(value) FROM MEASURE service_cpm IN sw $window " +
      "GROUP BY event_type, value", Nil, ordered = false),
    Stmt("mean", s"SELECT event_type, MEAN(value) FROM MEASURE service_cpm IN sw $window " +
      "WHERE user_id IN (1, 2, 3, 4, 5, 6, 7, 8) GROUP BY event_type, value", Nil, ordered = false),
    Stmt("order_limit", s"SELECT event_id, user_id, value FROM MEASURE service_cpm IN sw " +
      s"$window WHERE event_type = 'click' ORDER BY value DESC LIMIT 7", Nil, ordered = true),
    Stmt("select_top", "SELECT TOP 5 value DESC, event_type, MEAN(value), value::field " +
      s"FROM MEASURE service_cpm IN sw $window GROUP BY event_type, value", Nil, ordered = true),
    Stmt("show_top", s"SHOW TOP 5 FROM MEASURE service_cpm_topn IN sw $window " +
      "AGGREGATE BY SUM ORDER BY DESC", Nil, ordered = true),
    Stmt("stream", s"SELECT event_id, value FROM STREAM sw_log IN sw $window " +
      "WHERE event_type = 'view' ORDER BY value DESC LIMIT 9", Nil, ordered = true),
    Stmt("trace", s"SELECT () FROM TRACE sw_trace IN sw $window WHERE value >= 20 AND " +
      "value <= 200 ORDER BY timestamp DESC LIMIT 6", Nil, ordered = true),
    Stmt("property", "SELECT id, configuration FROM PROPERTY ui_menu IN sw " +
      "WHERE configuration = ?", Seq("cfg-3"), ordered = false),
    Stmt("staged", "SELECT event_type, SUM(value) FROM MEASURE staged IN sw ON (hot, warm) " +
      s"STAGES $window GROUP BY event_type, value", Nil, ordered = false),
    Stmt("staged hot", "SELECT event_id, value FROM MEASURE staged IN sw ON (hot) STAGES " +
      "ORDER BY value DESC LIMIT 8", Nil, ordered = true),
    Stmt("multi-group", s"SELECT event_type, zone, COUNT(value) FROM MEASURE mg IN (ga, gb) " +
      s"$window GROUP BY event_type, zone, value", Nil, ordered = false),
    Stmt("flexible property", "SELECT id, color, size FROM PROPERTY flex IN sw " +
      "WHERE color = 'red'", Nil, ordered = false))

  private def run(s: Stmt, maxBytes: Long): DataFrame =
    BydbQL.run(s.ql, resources, s.params, now, maxBytes)

  /** What one execution of a statement showed. */
  private case class Shape(rows: Seq[String], counts: Jobs.Counts, stages: Int,
      exchanges: Int, pushed: Seq[String], files: Long, repartitions: Int)

  private def shape(s: Stmt, maxBytes: Long): Shape = {
    val df = run(s, maxBytes)
    val (rows, counts) = Jobs.during(spark.sparkContext)(df.collect().map(_.toString).toSeq)
    val plan = df.queryExecution.executedPlan
    Shape(if (s.ordered) rows else rows.sorted, counts,
      collect(plan) { case q: ExchangeQueryStageExec => q }.size,
      collect(plan) { case e: ShuffleExchangeExec => e }.size,
      collect(plan) { case f: FileSourceScanExec => f.metadata("PushedFilters") }.sorted,
      collect(plan) { case f: FileSourceScanExec => f.metrics("numFiles").value }.sum,
      df.queryExecution.optimizedPlan.collect { case r: Repartition => r }.size)
  }

  private lazy val shapes: Seq[(Stmt, Shape, Shape)] =
    statements.map(s => (s, shape(s, Long.MaxValue), shape(s, 0L)))

  test("the one-task shape returns the rows of the multi-partition shape") {
    for ((s, one, many) <- shapes) {
      assert(one.rows.nonEmpty, s"${s.name}: an empty result proves nothing")
      assert(one.rows == many.rows, s"${s.name}: one-task rows ${one.rows} vs ${many.rows}")
    }
  }

  test("the one-task shape plans no exchange and runs one job of one task") {
    for ((s, one, _) <- shapes) {
      assert(one.repartitions == 1, s"${s.name}: the read was not coalesced")
      assert(one.exchanges == 0, s"${s.name}: ${one.exchanges} exchanges")
      // Spark still wraps a plan whose operators require a distribution
      // in an adaptive plan; with no exchange it has no stage to re-plan
      assert(one.stages == 0, s"${s.name}: ${one.stages} exchange query stages")
      assert(one.counts == Jobs.Counts(1, 1, 1), s"${s.name}: ran ${one.counts}")
    }
  }

  test("above the cutoff the read is not coalesced and aggregations keep their exchange") {
    for ((s, _, many) <- shapes) {
      assert(many.repartitions == 0, s"${s.name}: the multi-partition read was coalesced")
      assert(many.counts.tasks > 1, s"${s.name}: the multi-partition shape ran ${many.counts}")
      if (!s.ordered || s.name.endsWith("top"))
        assert(many.exchanges > 0, s"${s.name}: the multi-partition shape lost its exchange")
    }
  }

  test("both shapes push the same filters into the same scans and read the same files") {
    for ((s, one, many) <- shapes) {
      assert(one.pushed.nonEmpty, s"${s.name}: no file scan")
      assert(one.pushed == many.pushed, s"${s.name}: ${one.pushed} vs ${many.pushed}")
      assert(one.files == many.files && one.files > 0, s"${s.name}: ${one.files} vs ${many.files} files")
    }
    val window = shapes.collectFirst { case (s, one, _) if s.name == "order_limit" => one.pushed }.get
    assert(window.exists(_.contains("GreaterThanOrEqual(ts_ns")), window)
  }

  test("the default cutoff reads these small resources as one task, but never a MATCH statement") {
    def coalesced(df: DataFrame) = df.queryExecution.optimizedPlan.collect { case r: Repartition => r }.size
    for (s <- statements)
      assert(coalesced(BydbQL.run(s.ql, resources, s.params, now)) == 1, s.name)
    // full-text MATCH tokenizes every row: it keeps the multi-partition
    // plan even under an unbounded cutoff, and returns the same rows
    val ql = s"SELECT event_id, value FROM MEASURE service_cpm IN sw $window " +
      "WHERE event_type MATCH('click') ORDER BY value DESC LIMIT 7"
    val df = BydbQL.run(ql, resources, Nil, now, Long.MaxValue)
    assert(coalesced(df) == 0)
    val rows = df.collect().toSeq
    assert(rows.nonEmpty && rows == BydbQL.run(ql, resources, Nil, now, 0L).collect().toSeq)
  }

  test("above the cutoff a statement plans exactly as the planner alone plans it") {
    val res = resources("service_cpm")
    val schema = QlSchema(res.df.schema, res.fields)
    def normalized(df: DataFrame) = df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#N")
    for (s <- statements.take(4)) {
      val direct = Transformer.transform(BydbQL.parse(s.ql), schema, now) match {
        case MeasureStatement(q) => Planners.measure(res.df, res.tdef, q)
        case other => fail(s"${s.name}: not a measure statement: $other")
      }
      assert(normalized(run(s, 0L)) == normalized(direct), s.name)
    }
  }
}
