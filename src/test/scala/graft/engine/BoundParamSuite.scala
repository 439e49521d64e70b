package graft.engine

import java.time.Instant

import graft.{SparkEntry, SparkSpec}
import graft.ql.BydbQL
import graft.sources.Catalog
import graft.storage.{Layout, LayoutSpec}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Compile once per statement shape: BydbQL filter constants reach
  * generated code as [[BoundParam]]s, so a repeated statement with a new
  * time window, IN list or range bound reuses the compiled classes of the
  * first, returns the rows the inlined literals return, and leaves scan
  * pushdown, partition pruning and plan rendering as they were. The
  * "plain" side of each comparison is a second session planned without
  * [[BindFilterLiterals]]. */
class BoundParamSuite extends SparkSpec with AdaptiveSparkPlanHelper {

  private val now = Instant.parse("2024-01-20T00:00:00Z")

  private def resources(s: SparkSession): Map[String, BydbQL.Resource] = {
    val events = Catalog.load(s, sf0001, "events")
    val tdef = Catalog.defs("events")
    Map(
      "events" -> BydbQL.Resource(events, tdef, fields = Set("value")),
      "ev_log" -> BydbQL.Resource(events.withColumn("element_id", col("event_id").cast("string")),
        tdef, elementIdCol = Some("element_id")),
      "ev_trace" -> BydbQL.Resource(events.withColumn("trace_id", (col("event_id") / 8).cast("long")),
        tdef, traceIdCol = Some("trace_id"),
        spanStruct = Seq("event_id", "event_type", "value", "ts_ns")))
  }

  private lazy val bound = resources(spark)
  private lazy val plainSession = spark.newSession()
  private lazy val plain = resources(plainSession)

  /** Statement shapes, each taking the k-th value of its window or bind
    * literals. */
  private val shapes: Seq[(String, Int => String)] = Seq(
    "measure window" -> (k => "SELECT event_type, SUM(value) FROM MEASURE events IN g " +
      s"TIME > '-${5 + k}d' GROUP BY event_type, value"),
    "measure IN list" -> (k => "SELECT event_type, MEAN(value) FROM MEASURE events IN g " +
      s"TIME > '-20d' WHERE user_id IN (${k + 1}, ${k + 2}, ${k + 3}, ${k + 4}) " +
      "GROUP BY event_type, value"),
    "stream window" -> (k => "SELECT event_id, value FROM STREAM ev_log IN g " +
      s"TIME > '-${5 + k}d' WHERE event_type = 'click' ORDER BY value DESC LIMIT 10"),
    "trace range" -> (k => "SELECT () FROM TRACE ev_trace IN g TIME > '-20d' " +
      s"WHERE value >= ${10 * k} AND value <= ${10 * k + 120} ORDER BY timestamp DESC LIMIT 10"))

  private def compilesDuring(f: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def filters(plan: SparkPlan): Seq[FilterExec] = collect(plan) { case f: FilterExec => f }

  private def boundParams(df: DataFrame): Int =
    filters(df.queryExecution.executedPlan).map(_.condition.collect { case b: BoundParam => b }.size).sum

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Rows of `ql` with bound parameters, checking they were bound. */
  private def boundRows(ql: String, maxBytes: Long = Planners.OneTaskMaxBytes): Seq[String] = {
    val df = BydbQL.run(ql, bound, Nil, now, maxBytes)
    val out = rows(df)
    assert(boundParams(df) > 0, s"no bound parameter in the plan of $ql")
    out
  }

  /** Rows of `ql` with inlined literals: `BydbQL.run` installs the
    * strategy on the plain session, so it is removed again before the
    * frame is planned. */
  private def plainRows(ql: String): Seq[String] = {
    val df = BydbQL.run(ql, plain, Nil, now)
    plainSession.experimental.extraStrategies = Nil
    val out = rows(df)
    assert(boundParams(df) == 0, s"plain plan of $ql holds bound parameters")
    out
  }

  test("shifted windows, IN lists and range bounds compile 0 classes after the first request") {
    for ((name, ql) <- shapes) {
      boundRows(ql(0))
      val shifted = (1 to 3).map(k => compilesDuring(boundRows(ql(k))))
      assert(shifted.forall(_ == 0), s"$name: shifted requests compiled $shifted classes")
      // the control: the same shifts with inlined literals do compile
      plainRows(ql(10))
      val plainShifted = (11 to 12).map(k => compilesDuring(plainRows(ql(k))))
      assert(plainShifted.forall(_ > 0), s"$name: plain shifted requests compiled $plainShifted")
    }
  }

  test("one-task and multi-partition shapes: filters bound, 0 classes compiled on shifted requests") {
    for ((label, maxBytes) <- Seq("one-task" -> Long.MaxValue, "multi-partition" -> 0L);
        (name, ql) <- shapes) {
      val first = BydbQL.run(ql(4), bound, Nil, now, maxBytes)
      first.collect()
      val coalesced = collect(first.queryExecution.executedPlan) { case c: CoalesceExec => c }
      assert(coalesced.size == (if (maxBytes > 0) 1 else 0), s"$label $name: wrong shape")
      coalesced.foreach { c =>
        val params = filters(c).map(_.condition.collect { case b: BoundParam => b }.size).sum
        assert(params > 0, s"$name: no bound parameter under CoalesceExec")
      }
      val shifted = (5 to 7).map(k => compilesDuring(boundRows(ql(k), maxBytes)))
      assert(shifted.forall(_ == 0), s"$label $name: shifted requests compiled $shifted classes")
    }
  }

  test("bound requests return the rows of the same statements with plain literals") {
    for ((name, ql) <- shapes; k <- Seq(0, 2, 7)) {
      val (b, p) = (boundRows(ql(k)), plainRows(ql(k)))
      assert(b.nonEmpty, s"$name k=$k: empty result proves nothing")
      assert(b == p, s"$name k=$k: bound and plain rows differ")
    }
  }

  test("q01/q02 keep their pushed filters; plans render as with plain literals") {
    BindFilterLiterals.install(spark)
    for (q <- Seq("q01_scan_timerange", "q02_filter_criteria")) {
      val (b, p) = (SparkEntry.queries(q)(spark, sf0001), SparkEntry.queries(q)(plainSession, sf0001))
      plainSession.experimental.extraStrategies = Nil
      def pushed(df: DataFrame) = collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metadata("PushedFilters")
      }
      assert(pushed(b) == pushed(p) && pushed(b).nonEmpty, s"$q: ${pushed(b)} vs ${pushed(p)}")
      if (q == "q01_scan_timerange") assert(pushed(b).exists(_.contains("GreaterThanOrEqual(ts")))
      assert(boundParams(b) > 0 && boundParams(p) == 0, q)
      // expression ids differ between the sessions, and the scan's
      // DataFilters entry is cut at a fixed length before they are
      // normalized, so it is compared through PushedFilters above
      def shown(df: DataFrame) = df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#N").replaceAll("DataFilters: .*?, Format:", "Format:")
      assert(shown(b) == shown(p), q)
      assert(rows(b) == rows(p), q)
    }
  }

  test("a windowed Layout read keeps its partition filters and files read") {
    val spec = LayoutSpec(group = "testdata", name = "events", entity = Seq("user_id"),
      tsCol = "ts_ns", tsIsNanos = true, shardNum = 4, segmentDays = 1)
    val base = java.nio.file.Paths.get("target/test-tmp")
    java.nio.file.Files.createDirectories(base)
    val root = java.nio.file.Files.createTempDirectory(base, "boundparam").toString
    Layout.append(Catalog.load(spark, sf0001, "events"), root, spec, mode = "overwrite")
    BindFilterLiterals.install(spark)
    val window = Some((Instant.parse("2024-01-05T00:00:00Z"), Instant.parse("2024-01-09T00:00:00Z")))
    def read(s: SparkSession) = {
      val df = Layout.entityScan(s, root, spec, Seq(7L), window)
      val out = rows(df)
      val scan = collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }.head
      (out, scan.partitionFilters.map(_.toString.replaceAll("#\\d+", "#N")),
        scan.metrics("numFiles").value, boundParams(df))
    }
    val (bRows, bParts, bFiles, bParams) = read(spark)
    plainSession.experimental.extraStrategies = Nil
    val (pRows, pParts, pFiles, pParams) = read(plainSession)
    assert(bParams > 0 && pParams == 0)
    assert(bParts.exists(_.contains("seg")) && bParts == pParts, s"$bParts vs $pParts")
    assert(bFiles == pFiles && bFiles > 0, s"numFiles $bFiles vs $pFiles")
    assert(bRows.nonEmpty && bRows == pRows)
  }

  test("BoundParam renders exactly like the literal it replaces") {
    val values: Seq[(Any, DataType)] = Seq((7.toByte, ByteType), (7.toShort, ShortType),
      (7, IntegerType), (1705708800000000000L, LongType), (1.5f, FloatType), (-0.25, DoubleType),
      (Double.NaN, DoubleType), (19742, DateType), (1705708800123456L, TimestampType),
      (1705708800123456L, TimestampNTZType))
    for ((v, dt) <- values) {
      val (b, l) = (BoundParam(v, dt), Literal(v, dt))
      assert(b.toString == l.toString && b.sql == l.sql, s"$dt: $b / ${b.sql} vs $l / ${l.sql}")
    }
  }
}
