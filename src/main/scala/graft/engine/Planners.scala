package graft.engine

import graft.functions.BanyanSemantics
import graft.model._
import graft.sources.TableDef
import graft.storage.Layout
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Query model → DataFrame plan builders, one per data model
 * (SURVEY.md §2, §3). These are the Spark analogue of the reference's
 * analyzers (measure_analyzer.go / stream_analyzer.go / trace_analyzer.go):
 * they produce a *declarative* plan — Limit ∘ Top? ∘ Agg? ∘ GroupBy? ∘
 * Filter ∘ Scan — and leave physical strategy (pushdown, partial agg,
 * exchange, sort) entirely to Catalyst. None of the reference's §4.1
 * rewrites need a custom Rule: order/limit/predicate pushdown, column
 * pruning and partial aggregation are all native.
 */
object Planners {

  /** Default result limit when the request omits one
    * (measure_analyzer.go:32; vec plan/analyzer.go:33). */
  val DefaultLimit = 100

  /** Column by EXACT tag name. BanyanDB tag names may contain dots
    * (`http.method`, `db.instance` — the sw stream schema), which Spark's
    * `col` would parse as a struct path; backtick-quote those. */
  private[graft] def qcol(name: String): Column =
    if (name.contains(".")) col("`" + name + "`") else col(name)

  private def effLimit(l: Int): Int = if (l <= 0) DefaultLimit else l

  private[engine] def applyTime(df: DataFrame, tdef: TableDef, tr: Option[TimeRange]): DataFrame =
    tr match {
      case Some(TimeRange(b0, e)) =>
        // CreatedAt clamp (banyand/liaison/grpc/schema_revision.go:32-49):
        // begin advances to the resource's creation time; a begin pushed
        // past end folds to an unsatisfiable range (empty result), matching
        // the reference's rangeEmpty short-circuit.
        val b = tdef.createdAt.filter(_.isAfter(b0)).getOrElse(b0)
        val name = tdef.tsCol.getOrElse("ts")
        val ts = col(name)
        // [begin, end) — model/v1/query.proto:125-130. A LongType ts column
        // holds raw epoch nanos (parquet timestamp[ns] read via
        // nanosAsLong): compare in nanos so the range reaches the parquet
        // scan as a pushed int64 filter.
        df.schema(name).dataType match {
          case org.apache.spark.sql.types.LongType =>
            // saturating: an instant outside the int64-ns span clamps
            val (bNs, eNs) = (Layout.epochNanos(b), Layout.epochNanos(e))
            // When ts_ns is DERIVED from a physical timestamp column (the
            // timestamp[us] testdata encoding), a filter on the derived
            // column cannot reach the parquet scan; mirror the range onto
            // the physical `ts` (widened outward to µs bounds — the exact
            // ns cut stays with the ts_ns filter) so row groups prune.
            val mirror: Option[Column] =
              if (name != "ts_ns") None
              else df.schema.fields.find(_.name == "ts").flatMap { f =>
                def ntz(us: Long) = java.time.LocalDateTime.ofEpochSecond(
                  Math.floorDiv(us, 1000000L),
                  (Math.floorMod(us, 1000000L) * 1000L).toInt,
                  java.time.ZoneOffset.UTC)
                def ltz(us: Long) = java.time.Instant.ofEpochSecond(
                  Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
                val toLit: Option[Long => Column] = f.dataType match {
                  case org.apache.spark.sql.types.TimestampNTZType =>
                    Some(us => lit(ntz(us)))
                  case org.apache.spark.sql.types.TimestampType =>
                    Some(us => lit(ltz(us)))
                  case _ => None
                }
                toLit.map { mk =>
                  val lo = col("ts") >= mk(Math.floorDiv(bNs, 1000L))
                  // ceil-div for the exclusive end, saturating near Long.Max
                  if (eNs > Long.MaxValue - 999L) lo
                  else lo && col("ts") < mk(Math.floorDiv(eNs + 999L, 1000L))
                }
              }
            val exact = ts >= lit(bNs) && ts < lit(eNs)
            df.filter(mirror.fold(exact)(m => m && exact))
          case org.apache.spark.sql.types.TimestampNTZType =>
            def ntz(i: java.time.Instant) =
              java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
            df.filter(ts >= lit(ntz(b)) && ts < lit(ntz(e)))
          case _ =>
            df.filter(ts >= lit(java.sql.Timestamp.from(b)) && ts < lit(java.sql.Timestamp.from(e)))
        }
      case None => df
    }

  private def applyCriteria(df: DataFrame, tdef: TableDef, c: Option[Criteria]): DataFrame =
    c match {
      case Some(cr) =>
        CriteriaTranslator.validateEntityOps(cr, tdef.entity.toSet)
        CriteriaTranslator.validateArrayOps(cr, tdef.arrayTags)
        tdef.matchableTags.foreach(CriteriaTranslator.validateMatchable(cr, _))
        if (tdef.matchableWindows.nonEmpty)
          CriteriaTranslator.validateBindingWindows(cr, tdef.matchableWindows,
            java.time.Instant.now())
        df.filter(CriteriaTranslator.toColumn(cr, df.columns.toSet))
      case None => df
    }

  /** Sort key plus deterministic tiebreaks (timestamp, then entity) — the
    * reference's merge is effectively ordered by (sort key, series, ts), and
    * a LIMIT without a total order would return a nondeterministic subset. */
  private def orderCols(ob: Option[OrderBy], tdef: TableDef): Seq[Column] = {
    val primary = ob match {
      case Some(OrderBy(tag, desc)) =>
        val c = qcol(tag.getOrElse(tdef.tsCol.getOrElse("ts")))
        Seq(if (desc) c.desc else c.asc)
      case None => tdef.tsCol.map(t => col(t).asc).toSeq
    }
    val ties = (tdef.tsCol.toSeq ++ tdef.entity)
      .filterNot(c => ob.fold(tdef.tsCol.contains(c))(o => o.tag.contains(c)))
      .map(col(_).asc)
    primary ++ ties
  }

  /** Measure read path (§3.2): scan → version dedup → filter → group/agg →
    * top → order → offset/limit. */
  def measure(df0: DataFrame, tdef: TableDef, q: MeasureQuery,
      meanIsIntegral: Boolean = true): DataFrame = {
    // groupBy keys must be scalar — array/binary group tags are rejected
    // (measure_plan_groupby.go:182-183).
    q.groupByTags.foreach { t =>
      if (tdef.arrayTags.contains(t))
        throw new IllegalArgumentException(s"invalid group-by tag '$t': array tags not allowed")
    }
    // measure-only: criteria must resolve to a consistent series set
    // (ParseEntities nil → error; streams scan the same tree fine)
    q.criteria.foreach(CriteriaTranslator.validateEntityResolvable(_, tdef.entity))
    var df = applyTime(df0, tdef, q.timeRange)
    // Latest-version-wins dedup runs before filters touch fields and
    // before any aggregation (banyand/measure/query.go:966-1026).
    df = tdef.versionCol match {
      case Some(v) if tdef.entity.nonEmpty =>
        // prune the dedup payload to the columns the query touches —
        // pruning can't reach inside the aggregate's struct buffer
        val keep = if (q.tagProjection.isEmpty && q.fieldProjection.isEmpty) None
          else Some((q.tagProjection ++ q.fieldProjection ++
            q.criteria.toSeq.flatMap(CriteriaTranslator.tags) ++
            q.orderBy.flatMap(_.tag).toSeq ++ q.groupByTags ++
            q.agg.map(_._2).toSeq ++
            // a raw TOP may rank a field outside the projection; agg-case
            // TOP fields name the agg output and are filtered out harmlessly
            q.top.map(_.fieldName).toSeq).distinct)
        if (!q.indexMode)
          BanyanSemantics.latestVersion(df, tdef.entity, tdef.tsCol.getOrElse("ts"), v, keep)
        else {
          // S2 skips the dedup MERGE, not the payload pruning: the frame
          // carries the identical (keys ++ kept payload) column set on
          // both paths, so the raw-TOP tie-break below spans the same
          // deterministic column set whether or not dedup ran. (The
          // composed index-mode × union fuzzer caught the asymmetry: an
          // unpruned index-mode frame tie-broke on every table column —
          // version, code — in table order, picking a different ties-row
          // than the dedup path's pruned ordering would.)
          val keys = tdef.entity :+ tdef.tsCol.getOrElse("ts")
          val payload = keep
            .map(k => (k :+ v).distinct.filterNot(keys.contains)
              .filter(df.columns.contains))
            .getOrElse(df.columns.filterNot(keys.contains).toSeq)
          df.select((keys ++ payload).map(col(_)): _*)
        }
      case _ => df
    }
    df = applyCriteria(df, tdef, q.criteria)

    // Hidden-tag semantics (P3, pkg/query/logical/hidden_tags.go): WHERE /
    // ORDER BY tags need not be projected — they stay materialized through
    // sort+limit and are stripped at egress. Catalyst prunes everything
    // else out of the scan either way.
    val projected: Seq[String] =
      if (q.tagProjection.nonEmpty || q.fieldProjection.nonEmpty)
        (q.tagProjection ++ q.fieldProjection).distinct
      else df.columns.toSeq

    // Projected tags OUTSIDE the group keys ride along as the group's
    // first-row values (A6/A7: "tag families from the first row of the
    // group", measure_plan_aggregation.go:242-369) — a partial-aggregable
    // `min_by` ordered by (ts, version), the same first-seen order A5 uses.
    def firstRowExtras(keys: Seq[String]): Seq[Column] = {
      val extras = q.tagProjection.filterNot(keys.contains)
      val ordCols = (tdef.tsCol.toSeq ++ tdef.versionCol.toSeq).map(col)
      extras.map { t =>
        (if (ordCols.nonEmpty) min_by(qcol(t), struct(ordCols: _*))
         else min(qcol(t))).as(t)
      }
    }
    def aggOutName(fn: AggFn, field: String): String = fn match {
      case AggFn.Sum => s"sum_$field"; case AggFn.Count => s"count_$field"
      case AggFn.Max => s"max_$field"; case AggFn.Min => s"min_$field"
      case AggFn.Mean => s"mean_$field"
    }

    val afterAgg = q.agg.isDefined
    val (core, postProject) = (q.groupByTags, q.agg) match {
      case (Nil, None) => (df, Some(projected))
      case (keys, Some((fn, field))) if keys.nonEmpty =>
        val grouped = df.groupBy(keys.map(qcol): _*).agg(
          aggColumn(df, fn, field, meanIsIntegral), firstRowExtras(keys): _*)
        // egress order: projected tags (projection order) then the agg value
        val post = if (q.tagProjection.isEmpty) None
          else Some(q.tagProjection.distinct :+ aggOutName(fn, field))
        (grouped, post)
      case (Nil, Some((fn, field))) =>
        // scalar reduce to one row (measure_plan_aggregation.go:306-369);
        // projected tags carry the first input row's values
        val reduced = df.agg(aggColumn(df, fn, field, meanIsIntegral),
          firstRowExtras(Nil): _*)
        val post = if (q.tagProjection.isEmpty) None
          else Some(q.tagProjection.distinct :+ aggOutName(fn, field))
        (reduced, post)
      case (keys, None) =>
        // GROUP BY without aggregation → first-seen row per group (A5),
        // as a partial-aggregable min(struct) — see BanyanSemantics. The
        // payload carries the projection plus whatever the later sort and
        // tiebreaks need (hidden-tag semantics, P3).
        val ord = Seq(col(tdef.tsCol.getOrElse("ts"))) ++
          tdef.versionCol.map(col(_)).toSeq
        val need = (projected ++ q.orderBy.flatMap(_.tag).toSeq ++
          tdef.tsCol.toSeq ++ tdef.entity ++ tdef.versionCol.toSeq)
          .distinct.filterNot(keys.contains)
        (BanyanSemantics.firstSeenRow(df, keys, ord, need), Some(projected))
    }

    val sorted = q.top match {
      case Some(TopSpec(n, field, desc)) =>
        val c = if (desc) col(field).desc else col(field).asc
        // deterministic tiebreak on the remaining columns for stable results
        val ties = core.columns.filterNot(_ == field).map(col(_).asc).toSeq
        core.orderBy(c +: ties: _*).limit(n)
      case None =>
        if (!afterAgg) {
          val oc = orderCols(q.orderBy, tdef)
          if (oc.nonEmpty) core.orderBy(oc: _*) else core
        } else q.orderBy match {
          // post-agg ordering is only meaningful on a surviving group key
          case Some(OrderBy(Some(tag), desc)) if core.columns.contains(tag) =>
            core.orderBy(if (desc) qcol(tag).desc else qcol(tag).asc)
          case _ => core
        }
    }
    val paged = page(sorted, q.offset, effLimit(q.limit))
    postProject.fold(paged)(p => paged.select(p.map(qcol): _*))
  }

  private def isFloat(df: DataFrame, field: String): Boolean =
    df.schema(field).dataType == org.apache.spark.sql.types.DoubleType

  /** Double sums accumulate via DECIMAL(25,6) then cast back — exact and
    * order-independent, so results are identical run-to-run regardless of
    * partial-aggregation merge order (plain double sums are not). */
  private def exactSum(f: Column): Column =
    sum(f.cast("decimal(25,6)")).cast("double")

  private def aggColumn(df: DataFrame, fn: AggFn, field: String, integral: Boolean): Column = {
    val f = col(field)
    val float = isFloat(df, field)
    fn match {
      case AggFn.Sum => (if (float) exactSum(f) else sum(f)).as(s"sum_$field")
      case AggFn.Count =>
        // COUNT emits the field's type — float for FLOAT fields (W8,
        // bench_test.go:208-218).
        (if (float) count(f).cast("double") else count(f)).as(s"count_$field")
      case AggFn.Max => max(f).as(s"max_$field")
      case AggFn.Min => min(f).as(s"min_$field")
      case AggFn.Mean =>
        (if (float || !integral) {
          val m = exactSum(f) / count(f)
          when(m < 1.0, lit(1.0)).otherwise(m)
        } else BanyanSemantics.banyanMeanLong(f)).as(s"mean_$field")
    }
  }

  /** offset applied after top/order (measure_analyzer.go:123-150). */
  private def page(df: DataFrame, offset: Int, limit: Int): DataFrame =
    (if (offset > 0) df.offset(offset) else df).limit(limit)

  /** Stream read path: filter → sort → element dedup → offset/limit
    * (stream_analyzer.go; dedup after global merge,
    * stream_plan_distributed.go:187-207). */
  def stream(df0: DataFrame, tdef: TableDef, q: StreamQuery, elementIdCol: String): DataFrame = {
    var df = applyTime(df0, tdef, q.timeRange)
    df = applyCriteria(df, tdef, q.criteria)
    val ord = orderCols(q.orderBy, tdef)
    df = BanyanSemantics.dedupByElementId(df, elementIdCol, ord)
    // order+limit on the full row (hidden tags usable as sort keys),
    // project at egress
    df = page(df.orderBy(ord: _*), q.offset, effLimit(q.limit))
    if (q.projection.nonEmpty) df.select(q.projection.map(qcol): _*) else df
  }

  /** Trace read path: spans grouped per trace, LIMIT counts traces
    * (dquery/trace.go:165 BuildTracesFromResult; T9 distinct-trace-id
    * limit, vectorized/trace/distinct_trace_id.go:27-90). */
  def traceSpanGroups(df0: DataFrame, tdef: TableDef, q: TraceQuery,
      traceIdCol: String, spanStruct: Seq[String]): DataFrame = {
    // traces have no full-text index (the sidx is an int64 TREE,
    // banyand/internal/sidx/) — MATCH criteria are rejected, golden case
    // gen_err_match_sw (trace.go:96, WantErr)
    q.criteria.foreach(CriteriaTranslator.rejectMatch(_, "trace"))
    var df = applyTime(df0, tdef, q.timeRange)
    df = applyCriteria(df, tdef, q.criteria)
    // Explicit projection restricts the tags each span carries
    // (trace/v1/query.proto:31-56 Span.tags follows the request's
    // projection; golden cases gen_feat_*_proj_explicit_*). An unknown
    // projected tag is an error (trace project_non_existent_tag, WantErr),
    // not a null column. Empty projection = raw span shape (P4).
    val spanCols = if (q.projection.nonEmpty) {
      val avail = df.columns.toSet
      q.projection.foreach(t => if (!avail.contains(t))
        throw new IllegalArgumentException(
          s"tag '$t' not found in the queried resource"))
      q.projection
    } else spanStruct
    // Per-trace sort key with sidx iteration semantics (banyand/internal/
    // sidx/): the index holds (span value, trace id) entries scanned in key
    // order with distinct trace ids, so a trace surfaces at its FIRST span
    // value in scan direction — min of the span tag ascending, max
    // descending. `timestamp` (and an absent tag) order on the span
    // timestamp column. Computed as one more aggregate in the same
    // groupBy — no extra shuffle.
    val (sortSrc, sortDesc) = q.orderBy match {
      case Some(OrderBy(tag, d)) =>
        (tag.filterNot(_ == "timestamp").getOrElse(tdef.tsCol.getOrElse("ts")), d)
      case None => (tdef.tsCol.getOrElse("ts"), false)
    }
    val grouped = df.groupBy(col(traceIdCol)).agg(
      count(lit(1)).as("span_count"),
      min(col(tdef.tsCol.getOrElse("ts"))).as("start_ts"),
      (if (sortDesc) max(qcol(sortSrc)) else min(qcol(sortSrc))).as("__sort"),
      // deterministic span ordering inside each trace
      sort_array(collect_list(struct(spanCols.map(qcol): _*))).as("spans"))
    val ranked = grouped.orderBy(
      (if (sortDesc) col("__sort").desc else col("__sort").asc),
      col(traceIdCol).asc).drop("__sort")
    page(ranked, q.offset, effLimit(q.limit))
  }

  /** Property read path: last-writer-wins by mod_revision
    * (property/v1/rpc.proto; docs/concept/data-model.md:256-293). */
  def propertyLatest(df: DataFrame, keyCols: Seq[String], revCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(revCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Full Property query path (S8, property/v1/rpc.proto:74-98): resolve
   * the latest revision per document, hide tombstones (soft deletes,
   * rpc.proto:100-112 delete = append with `deleted` set), then apply id
   * selection, criteria, projection, and limit. The id filter is an
   * equality/IN on the key column — on a layout bucketed by id this is
   * partition pruning, not a scan.
   */
  def property(df: DataFrame, q: PropertyQuery, idCol: String, revCol: String,
      deletedCol: Option[String] = None): DataFrame = {
    var d = propertyLatest(df, Seq(idCol), revCol)
    deletedCol.foreach(c => d = d.filter(!coalesce(col(c), lit(false))))
    if (q.ids.nonEmpty) d = d.filter(col(idCol).cast("string").isin(q.ids: _*))
    q.criteria.foreach(cr => d = d.filter(CriteriaTranslator.toColumn(cr)))
    // ORDER BY tag ASC|DESC with id tiebreak (property/data/input/order_by_*.ql);
    // sorted BEFORE projection so the sort tag may stay unprojected (P3).
    // Default = id ascending — the reference store iterates documents in id
    // order, which is what makes a bare LIMIT deterministic (limit.ql's
    // expected row is the lowest id).
    val OrderBy(obTag, obDesc) = q.orderBy.getOrElse(OrderBy(None, desc = false))
    val obCol = col(obTag.getOrElse(idCol))
    d = d.orderBy(if (obDesc) obCol.desc else obCol.asc, col(idCol).asc)
    if (q.projection.nonEmpty) d = d.select(q.projection.map(qcol): _*)
    if (q.limit > 0) d.limit(q.limit) else d
  }

  /**
   * Pre-aggregated TopN read (§3.3): per-bucket ranked lists with entity
   * dedup (topn_plan_distinct.go:44-289) and optional cross-bucket
   * AGGREGATE BY (topn.proto:63-64). Input is the derived topN result
   * table (bucket_start, entity, value).
   */
  def topNRead(buckets: DataFrame, q: TopNQuery): DataFrame = {
    // only EQ conditions are legal on a TopN query (topn.proto:66-67)
    q.conditions.foreach { c =>
      if (c.op != Op.Eq) throw new IllegalArgumentException(
        s"topN query conditions must be EQ, got ${c.op} on ${c.tag}")
    }
    var df = buckets
    // TopNRequest carries a time range over the pre-agg buckets
    // (measure/v1/topn.proto:55-75); [begin, end) on bucket start.
    q.timeRange.foreach { case TimeRange(b, e) =>
      df = df.filter(col("bucket_start") >= lit(b.toEpochMilli) &&
        col("bucket_start") < lit(e.toEpochMilli))
    }
    q.conditions.foreach(c => df = df.filter(CriteriaTranslator.toColumn(c)))
    val agged = q.agg match {
      case Some(fn) =>
        df.groupBy(col("entity")).agg(aggColumn(df, fn, "value", integral = true))
          .withColumnRenamed(aggName(fn), "value")
      case None =>
        // entity dedup: best value per entity across buckets
        val best = if (q.desc) max(col("value")) else min(col("value"))
        df.groupBy(col("entity")).agg(best.as("value"))
    }
    val ord = if (q.desc) col("value").desc else col("value").asc
    agged.orderBy(ord, col("entity").asc).limit(q.topN)
  }

  /**
   * TopN rewrite-to-raw fallback (measure/v1/query.proto:149-150
   * `rewrite_agg_top_n_result`): when the measure has NO registered
   * `_top_n_result` pre-aggregation (or it is stale), the reference answers
   * the TopN query from the raw measure. Spark shape: compose the bucket
   * pre-compute and the TopN read into ONE declarative plan — Catalyst
   * fuses them; the bucket ranking stays the bounded TopK aggregate, so
   * nothing unbounded appears even though the pre-agg table is skipped.
   */
  def topNFromRaw(df: DataFrame, tsNanosCol: String, entityCol: String,
      valueExpr: Column, intervalMs: Long, countersN: Int,
      q: TopNQuery, groupCols: Seq[String] = Nil): DataFrame = {
    val buckets = topNBuckets(df, tsNanosCol, entityCol, valueExpr,
      intervalMs, countersN, desc = q.desc, groupCols = groupCols)
      .withColumnRenamed("bucket_ms", "bucket_start").drop("rank")
    topNRead(buckets, q)
  }

  private def aggName(fn: AggFn): String = fn match {
    case AggFn.Sum => "sum_value"; case AggFn.Count => "count_value"
    case AggFn.Max => "max_value"; case AggFn.Min => "min_value"
    case AggFn.Mean => "mean_value"
  }

  /**
   * Schema-flexible property documents (docs/concept/data-model.md:256-293):
   * reference properties carry PER-DOCUMENT tag sets — two documents of one
   * property need not share columns. Spark shape: a map-typed `tags` column
   * holds each document's own tags; the tags a query actually references
   * (projection, criteria, order) are promoted to real columns via
   * `element_at` (null where a document lacks the tag — the reference
   * returns null tags the same way), then the normal property path runs.
   * Promotion is by-reference only, so the scan reads just the map column
   * plus the fixed keys regardless of how many distinct tag names exist
   * across a 100 TB property group.
   */
  def propertyFlexible(df: DataFrame, q: PropertyQuery, idCol: String,
      revCol: String, deletedCol: Option[String] = None,
      tagsCol: String = "tags"): DataFrame = {
    def tagsOf(c: Criteria): Seq[String] = c match {
      case Cond(t, _, _) => Seq(t)
      case And(l, r) => tagsOf(l) ++ tagsOf(r)
      case Or(l, r) => tagsOf(l) ++ tagsOf(r)
    }
    val referenced = (q.projection ++ q.criteria.toSeq.flatMap(tagsOf) ++
      q.orderBy.flatMap(_.tag).toSeq).distinct
    val fixed = df.columns.toSet
    val flat = referenced.filterNot(fixed.contains).foldLeft(df) { (acc, k) =>
      acc.withColumn(k, element_at(col(tagsCol), k))
    }
    property(flat.drop(tagsCol), q, idCol, revCol, deletedCol)
  }

  /** Largest Catalyst size estimate, in bytes, of a frame that
    * [[oneTaskIfSmall]] reads as one task: the measured crossover.
    * `graft.ql.OneTaskProbe` (local[4], one caller) timed the eight
    * dashboard statement kinds over compacted four-shard events layouts
    * with estimates from 0.13 to 4 MB, in four runs. Up to 1.1 MB the
    * kinds together (the sum of their medians) were faster as one task
    * in every run, by 2-35%, and used 26-35% less process CPU; above it
    * one run was 2% slower at 1.6 MB and two were 5-6% slower at 4 MB.
    * Per kind, `show_top` and `property` gained most (1.2-2x), while
    * `order_limit`, whose multi-partition plan has no exchange to save,
    * `trace` and `mean` were often slower alone (0.6-0.9x); with the
    * dashboard's two concurrent callers `trace` and `mean` gained too and
    * `order_limit` held level. */
  val OneTaskMaxBytes: Long = 1L << 20

  /** Catalyst's size estimate of `df`, in bytes, read from its analyzed
    * plan: file sizes from the listing the session already holds, scaled
    * by projections. It costs no I/O and no optimizer run, which a frame
    * built per request (a group or stage union) would otherwise pay
    * twice. */
  private[graft] def sizeEstimate(df: DataFrame): BigInt =
    df.queryExecution.analyzed.stats.sizeInBytes

  /** The frame a BydbQL statement reads, planned as one task when it is
    * small. When Catalyst's size estimate of `df` ([[sizeEstimate]]) is
    * at most `maxBytes`, the read becomes `coalesce(1)`. Filters and column
    * pruning still push through the coalesce into the scan, and its
    * single partition satisfies every distribution an aggregate, window
    * or sort requires, so the statement plans no exchange and runs as one
    * job of one task: the way BanyanDB answers a query on hot data inside
    * the node that holds it. A larger frame is returned unchanged, and so
    * is the frame of a statement whose `criteria` run a full-text MATCH:
    * that tokenizes every row's text, and the same probe measured one
    * task 5-37% slower at a 0.26 MB documents estimate and about 2x
    * slower at 1 MB. The estimate is of bytes on disk (or Catalyst's
    * projection of them), not of rows decoded, so the cutoff holds for
    * the per-row work the probe measured and not beyond it. */
  def oneTaskIfSmall(df: DataFrame, criteria: Option[Criteria] = None,
      maxBytes: Long = OneTaskMaxBytes): DataFrame =
    if (!criteria.exists(fullText) && sizeEstimate(df) <= maxBytes) df.coalesce(1) else df

  private def fullText(c: Criteria): Boolean = c match {
    case Cond(_, _: Op.Match, _) => true
    case And(l, r) => fullText(l) || fullText(r)
    case Or(l, r) => fullText(l) || fullText(r)
    case _ => false
  }

  /** Multi-group union with schema merge (measure_analyzer.go:96-108;
    * cross_group_merge.go): missing columns null-filled. A tag that exists
    * in several groups with CONFLICTING types widens to
    * `TAG_TYPE_UNSPECIFIED` (logical/schema.go:240-246 MergeTagSpecs;
    * fields likewise, measure/schema.go:165-176) — per-row values keep
    * their group's native form on the wire, which maps to a string-typed
    * merged column rendering each group's native value (golden case
    * multi_group_tag_type: int rows and str rows of `status_code` coexist,
    * null where a group lacks the tag). Only an entity-list mismatch
    * rejects (MergeSchemas, schema.go:201-204) — enforced where the model
    * bindings merge, [[graft.ql.BydbQL.resolve]]. */
  def unionGroups(dfs: Seq[DataFrame]): DataFrame = {
    val types = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.DataType]
    val conflicted = scala.collection.mutable.Set.empty[String]
    dfs.foreach(_.schema.fields.foreach { f =>
      types.get(f.name) match {
        case Some(t) if t != f.dataType => conflicted += f.name
        case None => types(f.name) = f.dataType
        case _ =>
      }
    })
    dfs.map { df =>
      conflicted.toSeq.sorted.intersect(df.columns.toSeq).foldLeft(df) {
        (acc, name) => acc.withColumn(name, col(name).cast("string"))
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /**
   * Batch form of the TopNAggregation pre-compute (§2.7 write path,
   * banyand/measure/topn.go:553-580): bucket event time to the measure
   * interval, aggregate the ranked field per (bucket, entity), keep the
   * top `n` entities per bucket. Output schema mirrors the derived
   * `_top_n_result` table (FIXTURES.md A7) with typed columns.
   *
   * Scale shape: the rank step is the bounded [[graft.functions.TopK
   * .topNEntities]] aggregate (≤ n entries in every partial buffer — the
   * batch analogue of `counters_number`, pkg/flow/streaming/topn.go:50-120)
   * rather than a per-bucket rank window, whose state is ALL aggregated
   * entities of a bucket in one task. Two partial-aggregated shuffles —
   * (bucket, group, entity) then (bucket, group) — and nothing unbounded.
   */
  def topNBuckets(df: DataFrame, tsNanosCol: String, entityCol: String,
      valueExpr: Column, intervalMs: Long, n: Int, desc: Boolean = true,
      groupCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.BanyanSemantics.longDiv
    import graft.functions.TopK.topNEntities
    val bucket = longDiv(longDiv(col(tsNanosCol).cast("long"), lit(1000000L)),
      lit(intervalMs)) * lit(intervalMs)
    // group_by_tag_names (topn.proto): entities rank WITHIN each group key
    val keys = (bucket.as("bucket_ms") +: groupCols.map(col)) :+
      col(entityCol).cast("string").as("entity")
    val agged = df.groupBy(keys: _*).agg(sum(valueExpr).as("value"))
    val bucketKeys = col("bucket_ms") +: groupCols.map(col)
    agged.groupBy(bucketKeys: _*)
      .agg(topNEntities(n, desc)(col("entity"), col("value")).as("__tk"))
      .select(bucketKeys :+ posexplode(col("__tk")): _*)
      .select(bucketKeys ++ Seq(col("col.entity").as("entity"),
        col("col.value").as("value"), (col("pos") + 1).cast("long").as("rank")): _*)
  }
}
