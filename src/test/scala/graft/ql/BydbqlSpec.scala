package graft.ql

import java.time.Instant

import graft.SparkSpec
import graft.engine.Planners
import graft.model._
import graft.server.{BydbQLHttp, Json}
import graft.sources.Catalog
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.graftbridge.Jobs

/**
 * BydbQL front-end: grammar coverage over the reference's golden query
 * shapes (test/cases/&#42;/data/input/&#42;.ql), relative-time parsing
 * (docs/interacting/bydbql.md:137-176), and end-to-end equivalence
 * between a QL string and the directly-constructed typed query.
 */
class BydbqlSpec extends SparkSpec {

  private val now = Instant.parse("2024-01-15T00:00:00Z")

  private def measureOf(ql: String, fields: Set[String] = Set("value")): MeasureQuery = {
    val df = Catalog.load(spark, sf0001, "events")
    measureOfSchema(ql, QlSchema(df.schema, fields))
  }

  /** Synthetic reference-shaped schema for ported golden shapes whose tag
    * names don't exist on the testdata tables (WHERE on unknown tags is an
    * error since filter_non_existent_tag parity). */
  private val refSchema: QlSchema = {
    import org.apache.spark.sql.types._
    QlSchema(StructType(Seq(
      StructField("id", StringType), StructField("entity_id", StringType),
      StructField("total", LongType), StructField("value", DoubleType),
      StructField("msg", StringType),
      StructField("tags", ArrayType(StringType)))), Set("value", "total"))
  }

  private def measureOfSchema(ql: String, schema: QlSchema): MeasureQuery =
    Transformer.transform(Parser.parse(ql), schema, now) match {
      case MeasureStatement(q) => q
      case other => fail(s"expected measure, got $other")
    }

  // -- golden-shape parses (ported from test/cases/measure/data/input) ------

  test("group_max.ql shape: agg + group by incl field") {
    // reference golden case test/cases/measure/data/input/group_max.ql
    val q = measureOfSchema(
      """SELECT id, total::field, value::field, MAX(value)
        |FROM MEASURE service_cpm_minute IN sw_metric
        |TIME > '-15m'
        |GROUP BY id, value""".stripMargin, refSchema)
    assert(q.name == "service_cpm_minute" && q.groups == Seq("sw_metric"))
    assert(q.agg.contains((AggFn.Max, "value")))
    assert(q.groupByTags == Seq("id")) // `value` names the aggregated field
    assert(q.tagProjection == Seq("id"))
    assert(q.fieldProjection == Seq("total", "value"))
    val tr = q.timeRange.get
    assert(tr.begin == now.minusSeconds(15 * 60) && tr.end == now)
  }

  test("bottom.ql shape: TOP n ASC with agg") {
    val q = measureOfSchema(
      """SELECT TOP 2 value ASC, id, total, value, MEAN(value)
        |FROM MEASURE service_cpm_minute IN sw_metric
        |TIME > '-15m' GROUP BY id, value""".stripMargin, refSchema)
    assert(q.top.contains(TopSpec(2, "mean_value", desc = false)))
    assert(q.agg.contains((AggFn.Mean, "value")))
  }

  test("complex_and_or.ql shape: nested criteria tree") {
    val q = measureOfSchema(
      """SELECT id, entity_id, total, value FROM MEASURE m IN g TIME > '-15m'
        |WHERE (id = 'svc1' AND entity_id = 'entity_1') OR entity_id = 'entity_6'""".stripMargin,
      refSchema)
    q.criteria.get match {
      case Or(And(Cond("id", Op.Eq, _), Cond("entity_id", Op.Eq, _)),
              Cond("entity_id", Op.Eq, Seq("entity_6"))) => ()
      case other => fail(s"unexpected criteria: $other")
    }
  }

  test("entity_in.ql shape + int coercion against schema") {
    val q = measureOf(
      "SELECT user_id FROM MEASURE events IN testdata WHERE user_id IN ('1', '2')")
    // user_id is LongType in the events schema → values coerce to Long
    assert(q.criteria.contains(Cond("user_id", Op.In, Seq(1L, 2L))))
  }

  test("MATCH with analyzer and operator") {
    val q = measureOfSchema(
      "SELECT id FROM MEASURE m IN g WHERE msg MATCH (('alpha', 'beta'), 'url', 'AND')",
      refSchema)
    q.criteria.get match {
      case Cond("msg", Op.Match("url", MatchOp.And), Seq("alpha", "beta")) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("HAVING / NOT HAVING array predicates") {
    val q = measureOfSchema(
      "SELECT id FROM MEASURE m IN g WHERE tags HAVING ('a', 'b') AND tags NOT HAVING 'c'",
      refSchema)
    q.criteria.get match {
      case And(Cond("tags", Op.Having, Seq("a", "b")),
               Cond("tags", Op.NotHaving, Seq("c"))) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("LIMIT / OFFSET / ORDER BY tag DESC / multi-group") {
    val q = measureOfSchema(
      "SELECT id FROM MEASURE m IN (g1, g2) ORDER BY value DESC LIMIT 42 OFFSET 7",
      refSchema)
    assert(q.groups == Seq("g1", "g2"))
    assert(q.orderBy.contains(OrderBy(Some("value"), desc = true)))
    assert(q.limit == 42 && q.offset == 7)
  }

  test("SHOW TOP N with AGGREGATE BY and EQ conditions (aggr_desc.ql shape)") {
    val df = Catalog.load(spark, sf0001, "events")
    val stmt = Parser.parse(
      """SHOW TOP 3 FROM MEASURE m IN sw_metric TIME > '-15m'
        |WHERE entity = 'e1' AGGREGATE BY MAX ORDER BY DESC""".stripMargin)
    Transformer.transform(stmt, QlSchema(df.schema, Set.empty), now) match {
      case TopNStatement(q) =>
        assert(q.topN == 3 && q.desc && q.agg.contains(AggFn.Max))
        assert(q.conditions == Seq(Cond("entity", Op.Eq, Seq("e1"))))
      case other => fail(s"expected topn, got $other")
    }
  }

  test("stream query shape with keyword-ish projection") {
    // projected tags must exist (project_non_existent_tag, WantErr) — give
    // the frame the sw-style columns
    val df = Catalog.load(spark, sf0001, "events")
      .withColumn("trace_id", org.apache.spark.sql.functions.col("event_id"))
      .withColumn("data_binary", org.apache.spark.sql.functions.col("props"))
    val stmt = Parser.parse(
      "SELECT trace_id, data_binary FROM STREAM sw IN default TIME > '-15m' LIMIT 4294967295")
    Transformer.transform(stmt, QlSchema(df.schema, Set.empty), now) match {
      case StreamStatement(q) =>
        assert(q.projection == Seq("trace_id", "data_binary"))
        assert(q.limit == 4294967295L.toInt || q.limit == Int.MaxValue || q.limit == -1)
      case other => fail(s"expected stream, got $other")
    }
  }

  // -- relative time parsing ------------------------------------------------

  test("relative-time formats (transformer.go:1362-1380)") {
    import Transformer.parseTimestamp
    assert(parseTimestamp(now, "now") == now)
    assert(parseTimestamp(now, "NOW") == now)
    assert(parseTimestamp(now, "-30m") == now.minusSeconds(1800))
    assert(parseTimestamp(now, "2h") == now.plusSeconds(7200))
    assert(parseTimestamp(now, "-1d") == now.minusSeconds(86400))
    assert(parseTimestamp(now, "-1w") == now.minusSeconds(7 * 86400))
    assert(parseTimestamp(now, "1d2h") == now.plusSeconds(86400 + 7200))
    assert(parseTimestamp(now, "2024-01-10T12:00:00Z") ==
      Instant.parse("2024-01-10T12:00:00Z"))
    assertThrows[IllegalArgumentException](parseTimestamp(now, "nonsense"))
  }

  test("TIME < t yields [epoch, t); TIME = t yields [t, t)") {
    val q1 = measureOfSchema(
      "SELECT id FROM MEASURE m IN g TIME < '2024-01-10T00:00:00Z'", refSchema)
    assert(q1.timeRange.contains(
      TimeRange(Instant.EPOCH, Instant.parse("2024-01-10T00:00:00Z"))))
    val q2 = measureOfSchema(
      "SELECT id FROM MEASURE m IN g TIME = '2024-01-10T00:00:00Z'", refSchema)
    assert(q2.timeRange.contains(TimeRange(
      Instant.parse("2024-01-10T00:00:00Z"), Instant.parse("2024-01-10T00:00:00Z"))))
  }

  // -- binder ---------------------------------------------------------------

  test("positional parameter binding incl IN expansion") {
    val stmt = Parser.parse(
      "SELECT event_id FROM MEASURE events IN testdata WHERE event_type = ? AND user_id IN (?) LIMIT ?")
    val bound = Transformer.bind(stmt, Seq("click", Seq(1L, 2L, 3L), 25L))
    val df = Catalog.load(spark, sf0001, "events")
    Transformer.transform(bound, QlSchema(df.schema, Set("value")), now) match {
      case MeasureStatement(q) =>
        assert(q.limit == 25)
        q.criteria.get match {
          case And(Cond("event_type", Op.Eq, Seq("click")),
                   Cond("user_id", Op.In, Seq(1L, 2L, 3L))) => ()
          case other => fail(s"unexpected: $other")
        }
      case other => fail(s"expected measure, got $other")
    }
  }

  test("unbound parameter is rejected") {
    val stmt = Parser.parse("SELECT id FROM MEASURE m IN g WHERE a = ?")
    val df = Catalog.load(spark, sf0001, "events")
    assertThrows[IllegalArgumentException](
      Transformer.transform(stmt, QlSchema(df.schema, Set.empty), now))
  }

  // -- validation errors ----------------------------------------------------

  test("bare keyword identifier is rejected; quoted and ::spec forms pass") {
    assertThrows[QlParseException](Parser.parse("SELECT count FROM MEASURE m IN g"))
    val ok = Parser.parse("SELECT 'count', count::tag, count.sub FROM MEASURE m IN g")
    assert(ok.isInstanceOf[QlSelect])
  }

  test("syntax errors carry position") {
    val e = intercept[QlParseException](Parser.parse("SELECT FROM MEASURE m IN g"))
    assert(e.getMessage.contains("syntax error"))
  }

  // -- end-to-end: QL string vs directly built query ------------------------

  test("QL measure query executes identically to the direct planner call") {
    val df = Catalog.load(spark, sf0001, "events")
    val res = Map("events" -> BydbQL.Resource(df, Catalog.defs("events"), fields = Set("value")))
    val viaQl = BydbQL.run(
      """SELECT event_id, user_id, event_type, value FROM MEASURE events IN testdata
        |TIME BETWEEN '2024-01-05T00:00:00Z' AND '2024-01-20T00:00:00Z'
        |WHERE event_type = 'click' AND user_id IN ('1','2','3')
        |ORDER BY value DESC LIMIT 40""".stripMargin,
      res, now = now)
    val direct = Planners.measure(df, Catalog.defs("events"), MeasureQuery(
      groups = Seq("testdata"), name = "events",
      timeRange = Some(TimeRange(
        Instant.parse("2024-01-05T00:00:00Z"), Instant.parse("2024-01-20T00:00:00Z"))),
      criteria = Some(And(Cond("event_type", Op.Eq, Seq("click")),
        Cond("user_id", Op.In, Seq(1L, 2L, 3L)))),
      tagProjection = Seq("event_id", "user_id", "event_type"),
      fieldProjection = Seq("value"),
      orderBy = Some(OrderBy(Some("value"), desc = true)), limit = 40))
    val rows = viaQl.collect().toSeq
    assert(rows == direct.collect().toSeq)
    assert(rows.nonEmpty)
  }

  test("QL grouped aggregate matches direct planner output") {
    val df = Catalog.load(spark, sf0001, "events")
    val res = Map("events" -> BydbQL.Resource(df, Catalog.defs("events"), fields = Set("value")))
    val viaQl = BydbQL.run(
      "SELECT event_type, SUM(value) FROM MEASURE events IN testdata GROUP BY event_type, value",
      res, now = now)
    val direct = Planners.measure(df, Catalog.defs("events"), MeasureQuery(
      groups = Seq("testdata"), name = "events",
      groupByTags = Seq("event_type"), agg = Some((AggFn.Sum, "value"))))
    assert(viaQl.collect().toSet == direct.collect().toSet)
  }

  test("WITH QUERY_TRACE returns a timed span tree of the executed plan " +
      "(common.v1.Trace shape)") {
    val df = Catalog.load(spark, sf0001, "events")
    val res = Map("events" -> BydbQL.Resource(df, Catalog.defs("events"),
      fields = Set("value")))
    val (_, traced) = BydbQL.runTraced(
      """SELECT event_type, SUM(value) FROM MEASURE events IN testdata
        |TIME > '-365d' GROUP BY event_type, value WITH QUERY_TRACE""".stripMargin,
      res, now = now)
    val trace = traced.getOrElse(fail("trace missing"))
    assert(trace.trace_id.nonEmpty && !trace.error)
    // root span: the statement with wall-clock and a statement tag
    val root = trace.spans match {
      case Seq(r) => r
      case other => fail(s"expected one root span, got ${other.length}")
    }
    assert(root.message.startsWith("bydbql:"))
    assert(root.tags.exists(_.key == "statement"))
    // the tree reflects EXECUTION: some descendant carries an output-rows
    // metric with a positive value, and an aggregate operator appears
    def flatten(s: BydbQL.QuerySpan): Seq[BydbQL.QuerySpan] =
      s +: s.children.flatMap(flatten)
    val all = flatten(root)
    assert(all.length > 3, s"span tree too shallow: ${all.map(_.message)}")
    assert(all.exists(_.message.toLowerCase.contains("aggregate")),
      s"no aggregate span in ${all.map(_.message)}")
    assert(all.exists(_.tags.exists(t =>
      t.key == "numOutputRows" && t.value.toLong > 0)),
      "no populated output-rows metric — the trace did not reflect execution")
    assert(all.exists(s => s.message.startsWith("Scan") && s.duration_ms >= 0 &&
      s.tags.exists(_.key == "numFiles")), "no scan span with file metrics")
    // renderable for transport/debugging
    assert(trace.render.contains("ms)"))

    // a traced statement executes once: runTraced + resultJson run the
    // jobs of the untraced statement and return its columns and rows
    val ql = "SELECT event_type, SUM(value) FROM MEASURE events IN testdata " +
      "TIME > '-365d' GROUP BY event_type, value"
    def wire(q: String) = Jobs.during(spark.sparkContext) {
      val (out, t) = BydbQL.runTraced(q, res, now = now)
      BydbQLHttp.resultJson(out, t)
    }
    def table(json: String) = {
      val m = Json.parse(json).asInstanceOf[Map[String, Any]]
      (m("columns"), m("rows").asInstanceOf[List[Any]].map(_.toString).sorted)
    }
    val (plain, plainJobs) = wire(ql)
    val (withTrace, tracedJobs) = wire(ql + " WITH QUERY_TRACE")
    assert(plainJobs.jobs >= 1)
    assert(tracedJobs == plainJobs, s"traced $tracedJobs vs untraced $plainJobs")
    assert(table(withTrace) == table(plain) && table(plain)._2.nonEmpty)
    // an execution failure marks the trace and still reaches the caller
    val failing = Map("events" -> res("events").copy(df = df.withColumn("value",
      when(col("value") > -1e18, raise_error(lit("boom"))).otherwise(col("value")))))
    val (failed, failedTrace) = BydbQL.runTraced(ql + " WITH QUERY_TRACE", failing, now = now)
    assert(failedTrace.exists(_.error))
    intercept[Exception](BydbQLHttp.resultJson(failed, failedTrace))
  }
}
