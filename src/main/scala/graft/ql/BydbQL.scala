package graft.ql

import java.time.Instant

import graft.engine.{BindFilterLiterals, Planners}
import graft.model._
import graft.sources.TableDef
import org.apache.spark.sql.DataFrame

/**
 * BydbQL facade — the engine's text query API, equivalent to the
 * reference's `POST /api/v1/bydbql/query` entry
 * (banyand/liaison/grpc/bydbql.go:75-129: parse → bind → transform →
 * typed query → plan). `parse` and `bind` are pure; `run` resolves the
 * resource against a registry of tables and executes the planner.
 *
 * Literals are bound once per statement shape, the role of the
 * reference's prepared statements (pkg/bydbql binder/prepared): `run`
 * installs [[graft.engine.BindFilterLiterals]] into the resource's
 * session, which passes the numeric, date and timestamp constants of a
 * plan's filters (time windows, `IN` lists, range bounds, bound `?`
 * values) to generated code by reference. A repeated statement with a
 * new window or value therefore reuses the compiled classes of the
 * first; pushed scan filters and partition pruning still see the
 * literal values, and plans render exactly as before.
 */
object BydbQL {

  /** A queryable resource: the table plus the model-specific bindings the
    * planners need (the reference reads these from the schema registry). */
  final case class Resource(
      df: DataFrame,
      tdef: TableDef,
      /** aggregatable field columns (measure). */
      fields: Set[String] = Set.empty,
      /** index-mode measure (S2, database/v1/database.proto IndexMode):
        * the whole point lives in the index, so the read path skips the
        * latest-version merge. Declared on the resource — the reference
        * reads it from the measure schema, not the query. */
      indexMode: Boolean = false,
      /** lifecycle stage tiers (hot/warm/cold → per-stage frame), each
        * typically a [[graft.storage.Stages]] per-root scan; `ON (...)
        * STAGES` selects among them and an unselected stage's storage is
        * never touched. Empty = the resource is not stage-tiered. */
      stageDfs: Map[String, DataFrame] = Map.empty,
      /** stream element identity column. */
      elementIdCol: Option[String] = None,
      /** trace grouping column + span struct columns. */
      traceIdCol: Option[String] = None,
      spanStruct: Seq[String] = Nil,
      /** property key / revision / tombstone columns. */
      propertyIdCol: Option[String] = None,
      propertyRevCol: Option[String] = None,
      propertyDeletedCol: Option[String] = None,
      /** schema-flexible property documents: name of a map-typed column
        * holding each document's own tag set (docs/concept/
        * data-model.md:256-293); queried tags are promoted on demand. */
      propertyTagsCol: Option[String] = None,
      /** TopN fallback source (measure/v1/query.proto:149-150
        * rewrite_agg_top_n_result): when the resource is a RAW measure with
        * no `_top_n_result` table, this carries the TopNAggregation schema
        * (ranked field, interval, counters) so a SHOW TOP query is answered
        * by composing the pre-compute and the read in one plan. */
      topNRule: Option[TopNRule] = None)

  /** The TopNAggregation declaration a raw measure carries
    * (database/v1/schema.proto:129-156): what to rank, per which time
    * bucket, keeping how many per-bucket counters. */
  final case class TopNRule(
      tsNanosCol: String,
      entityCol: String,
      valueExpr: org.apache.spark.sql.Column,
      intervalMs: Long,
      countersNumber: Int,
      groupCols: Seq[String] = Nil)

  def parse(ql: String): QlStatement = Parser.parse(ql)

  def bind(stmt: QlStatement, params: Seq[Any]): QlStatement =
    Transformer.bind(stmt, params)

  /** Resolve the (possibly multi-group) resource: `group/name` entries take
    * precedence over a bare `name` entry. A query over several groups
    * schema-merges the per-group frames (T6, measure_analyzer.go:96-108) —
    * unless every group resolves to the same registry entry, which models
    * one dataset shared across groups. */
  private def resolve(resources: Map[String, Resource], name: String,
      groups: Seq[String]): Resource = {
    def find(key: String) = resources.get(key)
    val perGroup = groups.map(g => find(s"$g/$name").orElse(find(name))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown resource: $name in group $g")))
    val distinct = perGroup.distinct
    if (distinct.length <= 1) distinct.headOption.getOrElse(
      throw new IllegalArgumentException(s"unknown resource: $name"))
    else {
      // the merged frame is planned with ONE set of model bindings, so the
      // groups must agree on them — silently adopting the first group's
      // entity/ts/version/element-id would mis-plan the others (the same
      // refusal-to-coerce stance unionGroups takes for tag types)
      def uniform[A](what: String, f: Resource => A): A = {
        val vs = distinct.map(f).distinct
        if (vs.length > 1) throw new IllegalArgumentException(
          s"conflicting $what for '$name' across groups: ${vs.mkString(" vs ")}")
        vs.head
      }
      uniform("entity", _.tdef.entity)
      uniform("indexMode", _.indexMode)
      uniform("tsCol", _.tdef.tsCol)
      uniform("versionCol", _.tdef.versionCol)
      uniform("elementIdCol", _.elementIdCol)
      distinct.head.copy(
        df = Planners.unionGroups(distinct.map(_.df)),
        fields = distinct.flatMap(_.fields).toSet)
    }
  }

  /** A key-value annotation on a query span (common/v1/trace.proto Tag). */
  final case class QuerySpanTag(key: String, value: String)

  /** One timed node of the execution trace (common/v1/trace.proto Span):
    * `message` is the physical operator name, `duration_ms` its largest
    * timing metric, `tags` every SQL metric the operator reported, and
    * `children` the operator's inputs. */
  final case class QuerySpan(message: String, duration_ms: Long,
      tags: Seq[QuerySpanTag], children: Seq[QuerySpan]) {
    def render(indent: Int = 0): String = {
      val pad = "  " * indent
      val tagStr = tags.map(t => s"${t.key}=${t.value}").mkString(", ")
      s"$pad$message (${duration_ms}ms)${if (tagStr.isEmpty) "" else s" [$tagStr]"}\n" +
        children.map(_.render(indent + 1)).mkString
    }
  }

  /** The whole execution trace (common/v1/trace.proto Trace). */
  final case class QueryTrace(trace_id: String, spans: Seq[QuerySpan],
      error: Boolean) {
    def render: String = spans.map(_.render()).mkString
  }

  /** Span tree of an EXECUTED physical plan: per-operator SQL metrics
    * become span tags, the largest timing metric the span duration.
    * Adaptive wrappers (AQE plan, query stages, reused stages) are
    * traversed into their materialized plans so the tree reflects what
    * actually ran. */
  private def spanOf(p: org.apache.spark.sql.execution.SparkPlan): QuerySpan = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val tags = p.metrics.toSeq.sortBy(_._1)
      .map { case (name, m) => QuerySpanTag(name, m.value.toString) }
    val duration = p.metrics.values.collect {
      case m if m.metricType == "timing" => m.value
      case m if m.metricType == "nsTiming" => m.value / 1000000L
    }.foldLeft(0L)(math.max)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    QuerySpan(p.nodeName, duration, tags, kids.map(spanOf))
  }

  /**
   * Like [[run]], but when the statement carries `WITH QUERY_TRACE` the
   * query is EXECUTED and a per-stage timed span tree is returned
   * alongside the frame — the shape of the reference's
   * `common.v1.Trace` (banyand/liaison/grpc/bydbql.go attaches the span
   * tree of actual execution, not a plan rendering). The root span is
   * the statement itself with its wall-clock; children are the executed
   * physical operators with their `executedPlan.metrics` as tags.
   *
   * NOTE a traced statement executes HERE to populate the metrics; a
   * caller that then consumes the returned DataFrame re-executes the
   * plan (same rows — every statement is deterministic under the fixed
   * `now`). That mirrors the reference, where tracing wraps the real
   * execution and the result ships with the trace; callers that need
   * one-pass semantics should collect from the returned frame and keep
   * the trace as a side-channel.
   */
  def runTraced(ql: String, resources: Map[String, Resource],
      params: Seq[Any] = Nil, now: Instant = Instant.now()): (DataFrame, Option[QueryTrace]) = {
    val df = run(ql, resources, params, now)
    val wantsTrace = parse(ql) match {
      case s: QlSelect => s.withQueryTrace
      case _ => false
    }
    if (!wantsTrace) (df, None)
    else {
      val t0 = System.nanoTime()
      val error =
        try { df.queryExecution.toRdd.foreach(_ => ()); false }
        catch { case scala.util.control.NonFatal(_) => true }
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val root = QuerySpan("bydbql: " + ql.trim, wallMs,
        Seq(QuerySpanTag("statement", ql)),
        if (error) Nil else Seq(spanOf(df.queryExecution.executedPlan)))
      (df, Some(QueryTrace(java.util.UUID.randomUUID().toString,
        Seq(root), error)))
    }
  }

  /** Parse/bind/transform/execute one statement. `now` anchors relative
    * times (pass a fixed instant for reproducible queries). The first
    * call on a session installs the literal binding described above. */
  def run(ql: String, resources: Map[String, Resource],
      params: Seq[Any] = Nil, now: Instant = Instant.now()): DataFrame = {
    val stmt = bind(parse(ql), params)
    val (name, groups) = stmt match {
      case s: QlSelect => (s.from.name, s.from.groups)
      case t: QlShowTopN => (t.from.name, t.from.groups)
    }
    val res = resolve(resources, name, groups)
    BindFilterLiterals.install(res.df.sparkSession)
    val schema = QlSchema(res.df.schema, res.fields,
      flexible = res.propertyTagsCol.isDefined)
    Transformer.transform(stmt, schema, now) match {
      case MeasureStatement(q) =>
        Planners.measure(stagedDf(res, q.stages, name), res.tdef,
          q.copy(indexMode = q.indexMode || res.indexMode))
      case StreamStatement(q) =>
        val eid = res.elementIdCol.getOrElse(
          throw new IllegalArgumentException(s"resource $name has no elementIdCol"))
        Planners.stream(stagedDf(res, q.stages, name), res.tdef, q, eid)
      case TraceStatement(q) =>
        val tid = res.traceIdCol.getOrElse(
          throw new IllegalArgumentException(s"resource $name has no traceIdCol"))
        Planners.traceSpanGroups(stagedDf(res, q.stages, name), res.tdef, q,
          tid, res.spanStruct)
      case PropertyStatement(q) =>
        val (idc, revc) = (res.propertyIdCol, res.propertyRevCol) match {
          case (Some(i), Some(r)) => (i, r)
          case _ => throw new IllegalArgumentException(
            s"resource $name has no property id/revision columns")
        }
        res.propertyTagsCol match {
          case Some(tc) =>
            Planners.propertyFlexible(res.df, q, idc, revc,
              res.propertyDeletedCol, tc)
          case None =>
            Planners.property(res.df, q, idc, revc, res.propertyDeletedCol)
        }
      case TopNStatement(q) =>
        res.topNRule match {
          // no registered `_top_n_result` → rewrite to the raw measure
          case Some(r) => Planners.topNFromRaw(stagedDf(res, q.stages, name),
            r.tsNanosCol, r.entityCol, r.valueExpr, r.intervalMs,
            r.countersNumber, q, r.groupCols)
          case None => Planners.topNRead(stagedDf(res, q.stages, name), q)
        }
    }
  }

  /** Lifecycle-stage routing (common/v1/common.proto:65-94): `ON (...)
    * STAGES` selects among the resource's per-stage frames — the scan
    * never touches an unselected tier. Unspecified stages = all stages
    * (query.proto); naming a stage on a non-tiered resource, or a stage
    * the resource doesn't have, is an error. */
  private def stagedDf(res: Resource, stages: Seq[String], name: String): DataFrame =
    if (res.stageDfs.isEmpty) {
      if (stages.nonEmpty) throw new IllegalArgumentException(
        s"resource $name has no lifecycle stages (query asked for ${stages.mkString(",")})")
      res.df
    } else if (stages.isEmpty) {
      res.df // by convention the registered df IS the all-stage view
    } else {
      stages.map(st => res.stageDfs.getOrElse(st,
          throw new IllegalArgumentException(s"unknown stage '$st' for resource $name")))
        .reduce(_.unionByName(_))
    }
}
