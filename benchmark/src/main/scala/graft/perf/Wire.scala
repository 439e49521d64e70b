package graft.perf

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import graft.ql.BydbQL
import graft.server.{BydbQLHttp, Json}
import graft.sources.TableDef
import org.apache.spark.sql.functions._

/** `wire_dashboard`: closed-loop clients post a seeded dashboard mix of
  * BydbQL statements to BydbQLHttp, served in the same process over
  * resources read from an events layout that set-up writes, compacts and
  * trims to its retention ([[Store]]). Every request gets a fresh time
  * window or bind value; about one in ten asks for a query trace. */
object Wire {

  val now: Instant = Instant.parse("2024-01-20T00:00:00Z")
  private val types = Array("click", "view", "purchase", "signup", "error")
  val kinds: Seq[String] = Seq("sum", "mean", "order_limit", "select_top",
    "show_top", "stream", "trace", "property")
  val propertyIds = 200

  final case class Req(kind: String, ql: String, params: Seq[Any]) {
    def traced: Boolean = ql.contains("WITH QUERY_TRACE")
    def ordered: Boolean = kind != "sum" && kind != "mean" && kind != "property"
    def body: String = "{\"query\": " + Json.render(ql) +
      (if (params.isEmpty) "" else ", \"params\": " + Json.render(params.toList)) +
      ", \"now\": " + Json.render(now.toString) + "}"
  }

  /** A caller's statement stream: the eight kinds in turn, in an order
    * shuffled per round so that every run sees the same mix, each with a
    * window and literals drawn from the caller's own seeded stream. */
  final class Mix(r: SplittableRandom, traceOneIn: Int = 10) {
    private var round: Seq[String] = Nil
    def next(): Req = {
      if (round.isEmpty) round = kinds.map(k => (r.nextInt(), k)).sortBy(_._1).map(_._2)
      val kind = round.head
      round = round.tail
      statement(kind, r, traceOneIn)
    }
  }

  def statement(kind: String, r: SplittableRandom, traceOneIn: Int): Req = {
    val win = s"TIME > '-${30 + r.nextInt(1410)}m'"
    val trace = if (r.nextInt(traceOneIn) == 0) " WITH QUERY_TRACE" else ""
    val t = types(r.nextInt(types.length))
    val n = 3 + r.nextInt(18)
    kind match {
      case "sum" => Req(kind, s"SELECT event_type, SUM(value) FROM MEASURE service_cpm IN sw " +
        s"$win GROUP BY event_type, value$trace", Nil)
      case "mean" => Req(kind, s"SELECT event_type, MEAN(value) FROM MEASURE service_cpm IN sw " +
        s"$win WHERE user_id IN (${Seq.fill(4)(r.nextInt(Gen.users)).mkString(", ")}) " +
        s"GROUP BY event_type, value$trace", Nil)
      case "order_limit" => Req(kind, s"SELECT event_id, user_id, value FROM MEASURE service_cpm " +
        s"IN sw $win WHERE event_type = '$t' ORDER BY value DESC$trace LIMIT $n", Nil)
      case "select_top" => Req(kind, s"SELECT TOP $n value DESC, event_type, MEAN(value), " +
        s"value::field FROM MEASURE service_cpm IN sw $win GROUP BY event_type, value$trace", Nil)
      case "show_top" => Req(kind, s"SHOW TOP $n FROM MEASURE service_cpm_topn IN sw $win " +
        "AGGREGATE BY SUM ORDER BY DESC", Nil)
      case "stream" => Req(kind, s"SELECT event_id, value FROM STREAM sw_log IN sw $win " +
        s"WHERE event_type = '$t' ORDER BY value DESC$trace LIMIT $n", Nil)
      case "trace" =>
        val lo = r.nextInt(200)
        Req(kind, s"SELECT () FROM TRACE sw_trace IN sw $win WHERE value >= $lo AND " +
          s"value <= ${lo + 20 + r.nextInt(200)} ORDER BY timestamp DESC$trace LIMIT $n", Nil)
      case "property" => Req(kind, "SELECT id, configuration FROM PROPERTY ui_menu IN sw " +
        "WHERE configuration = ?", Seq(s"cfg-${r.nextInt(propertyIds / 2)}"))
    }
  }

  private def post(url: String, body: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val os = conn.getOutputStream
    try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val status = conn.getResponseCode
    val is = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = try new String(is.readAllBytes(), StandardCharsets.UTF_8) finally is.close()
    (status, text)
  }

  /** Columns and rows of a result payload; rows sorted unless the
    * statement fixes their order. */
  private def content(body: String, ordered: Boolean): (Any, Seq[String]) = {
    val m = Json.parse(body).asInstanceOf[Map[String, Any]]
    val rows = m("rows").asInstanceOf[List[Any]].map(Json.render)
    (m("columns"), if (ordered) rows else rows.sorted)
  }

  final case class Done(req: Req, ms: Double, status: Int, body: String)

  def run(run: Run): Outcome = {
    val spark = run.spark
    // -- set-up: generate, load through the sources layer, ingest ----------
    val store = Store.setUp(run, now)
    Gen.write(Gen.propertyLog(spark, run.seed + 1, propertyIds), run.dir("data/ui_menu.parquet"))
    val opened = store.resources
    val cpm = opened("service_cpm")
    val resources = opened ++ Map(
      "service_cpm_topn" -> cpm.copy(topNRule = Some(BydbQL.TopNRule("ts_ns", "user_id",
        floor(col("value")).cast("long"), 3600000L, 3))),
      "ui_menu" -> BydbQL.Resource(spark.read.parquet(run.dir("data/ui_menu.parquet")),
        TableDef("ui_menu"), propertyIdCol = Some("id"), propertyRevCol = Some("rev"),
        propertyDeletedCol = Some("deleted")))
    val clients = math.max(1, math.min(2, run.cores))
    val server = BydbQLHttp.start(resources, threads = run.cores)

    var failed, attempted, mismatches = 0L
    def send(req: Req): Done = {
      val t0 = System.nanoTime()
      val (status, body) =
        try post(server.url, req.body)
        catch { case scala.util.control.NonFatal(e) => (-1, e.toString) }
      val done = Done(req, (System.nanoTime() - t0) / 1e6, status, body)
      synchronized {
        attempted += 1
        if (status != 200) { failed += 1; run.log(s"FAILED ${req.kind} $status: ${body.take(300)}") }
      }
      done
    }

    /** `clients` closed-loop callers, each on its own seeded stream, for
      * `count` requests (when > 0), or else until the deadline has passed
      * and at least `minOps` requests have completed. */
    def load(stream: Long, count: Int, seconds: Double, minOps: Int = 0,
        callers: Int = clients): Seq[Done] = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
      val threads = (0 until callers).map { c =>
        new Thread(() => {
          val mix = new Mix(run.rng(stream * 100 + c))
          var k = 0
          while ((count > 0 && k < count / callers) || (count == 0 && (System.nanoTime() < deadline || out.size < minOps))) {
            out.add(send(mix.next())); k += 1
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      scala.jdk.CollectionConverters.ListHasAsScala(out).asScala.toSeq
    }

    try {
      // warm up on a fixed amount of work, with a caller per core: more
      // requests through the JIT in the same time
      val warm = (1 to 4).map(w => Stats.median(load(w, 16, 0, callers = run.cores).map(_.ms)))
      run.log(f"warm-up: 4 windows of 16 requests, p50 ${warm.map(v => f"$v%.1f").mkString(" ")} ms")
      val setupS = run.sinceJvmStart
      val m = mutable.Map[String, Double]()
      val calibration = Jvm.calibrationMs()
      val jvm0 = Jvm.snap(); Jvm.resetHeapPeak()
      if (!run.trace) {
        val t0 = System.nanoTime()
        val done = load(1000, 0, run.seconds, minOps = 100)
        val elapsed = (System.nanoTime() - t0) / 1e9
        val jvmD = Jvm.snap() - jvm0
        val ok = done.filter(_.status == 200)
        val lat = ok.map(_.ms)
        m ++= Map("setup_s" -> setupS, "p50_ms" -> Stats.median(lat), "p90_ms" -> Stats.quantile(lat, 0.9),
          "ops_per_s" -> ok.length / elapsed, "cpu_ms_per_op" -> jvmD.cpuNs / 1e6 / ok.length,
          "pass_s" -> ok.groupBy(_.req.kind).values.map(xs => Stats.median(xs.map(_.ms))).sum / 1000.0)
        run.log(f"samples=${lat.length} host.steal_share=${jvmD.stealShare}%.4f " +
          f"host.calibration_ms=$calibration%.1f " +
          f"cpu_ms_per_op=${m("cpu_ms_per_op")}%.1f " + kinds.map(k =>
            f"$k=${Stats.median(ok.filter(_.req.kind == k).map(_.ms))}%.0f").mkString(" "))
        mismatches = checkParity(run, resources, ok, run.rng(7))
      } else m ++= traced(run, resources, send, jvm0, calibration) ++ store.metrics ++
        Batch.queries.flatMap(q => Seq(s"operators.$q.build_ms", s"operators.$q.exec_ms"))
          .map(_ -> 0.0)
      val bad = mismatches + store.checksFailed
      run.log(f"error_rate=${(failed + bad).toDouble / math.max(1L, attempted + store.checks)}%.4f")
      Outcome(attempted + store.checks, failed, bad, m.toMap)
    } finally server.stop()
  }

  /** Re-run a seeded sample of the timed requests through BydbQL.run and
    * the wire encoder, and compare with what the wire returned: the exact
    * bytes for untraced requests, columns and rows for traced ones (a
    * trace carries timings). */
  private def checkParity(run: Run, resources: Map[String, BydbQL.Resource],
      done: Seq[Done], r: SplittableRandom): Long = {
    val sample = done.filter(_ => r.nextInt(8) == 0).take(16)
    val differ = sample.count { d =>
      val (df, trace) = BydbQL.runTraced(d.req.ql, resources, d.req.params, now)
      val expect = BydbQLHttp.resultJson(df, trace)
      val same =
        if (d.req.traced) content(expect, d.req.ordered) == content(d.body, d.req.ordered)
        else expect == d.body || (!d.req.ordered &&
          content(expect, ordered = false) == content(d.body, ordered = false))
      if (!same) run.log(s"CHECK FAILED ${d.req.kind}: wire and library results differ for ${d.req.ql}")
      !same
    }
    run.log(s"parity: ${sample.length} sampled requests re-run in process, $differ differ")
    differ.toLong
  }

  /** The traced run: one caller rotates a wire request, a plain
    * in-process request (what the server runs), and the same in-process
    * request timed layer by layer, each with a fresh statement. One
    * statement in four asks for a query trace, so both trace readings
    * get samples. The probes (the separate parse, bind and run calls, the
    * counter reads and the plan walk) run inside the layered request's
    * timed span, so layered minus plain time is the cost of tracing. */
  private def traced(run: Run, resources: Map[String, BydbQL.Resource],
      send: Req => Done, jvm0: JvmSnap, calibration: Double): Map[String, Double] = {
    val mix = new Mix(run.rng(2000), traceOneIn = 4)
    val s = new LayerSamples
    val wire, plain, layered = mutable.ArrayBuffer[Double]()
    val compiles = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val bytes = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    var i, layeredTraced = 0
    while (System.nanoTime() < deadline || i < 30 || layeredTraced < 3 ||
        layered.length - layeredTraced < 3) {
      val req = mix.next()
      i % 3 match {
        case 0 =>
          val d = send(req)
          wire += d.ms; bytes += d.body.length
        case 1 =>
          val t0 = System.nanoTime()
          val (df, trace) = BydbQL.runTraced(req.ql, resources, req.params, now)
          BydbQLHttp.resultJson(df, trace)
          plain += (System.nanoTime() - t0) / 1e6
        case 2 =>
          val start = System.nanoTime()
          val (t, cg) = (run.tasks.snap(), Codegen.snap())
          val t0 = System.nanoTime()
          val stmt = BydbQL.parse(req.ql)
          val t1 = System.nanoTime()
          BydbQL.bind(stmt, req.params)
          val t2 = System.nanoTime()
          BydbQL.run(req.ql, resources, req.params, now)
          val t3 = System.nanoTime()
          val (df, trace) = BydbQL.runTraced(req.ql, resources, req.params, now)
          val t4 = System.nanoTime()
          BydbQLHttp.resultJson(df, trace)
          val cgD = Codegen.snap() - cg
          s.addSpark(run.tasks.snap() - t, cgD)
          s.addPlan(df)
          layered += (System.nanoTime() - start) / 1e6
          s.add("ql.parse_ms", (t1 - t0) / 1e6)
          s.add("ql.bind_ms", (t2 - t1) / 1e6)
          s.add("ql.run_ms", (t3 - t2) / 1e6)
          s.add(if (req.traced) "ql.trace_extra_ms" else "ql.trace_extra_untraced_ms",
            ((t4 - t3) - (t3 - t2)) / 1e6)
          compiles.getOrElseUpdate(req.kind, mutable.ArrayBuffer()) += cgD.compiles.toDouble
          if (req.traced) layeredTraced += 1
      }
      i += 1
    }
    val jvmD = Jvm.snap() - jvm0
    run.log(f"traced: $i requests; wire p50 ${Stats.median(wire.toSeq)}%.1f ms, " +
      f"in-process p50 ${Stats.median(plain.toSeq)}%.1f ms, layered p50 ${Stats.median(layered.toSeq)}%.1f ms")
    s.medians ++ Phase.jvmMetrics(jvmD, i, calibration) ++ Phase.windows(wire.toSeq) ++ Map(
      "server.overhead_ms" -> (Stats.median(wire.toSeq) - Stats.median(plain.toSeq)),
      "server.response_bytes" -> Stats.median(bytes.toSeq),
      "trace.overhead_ms" -> (Stats.median(layered.toSeq) - Stats.median(plain.toSeq)),
      "spark.codegen_compiles_per_pass" -> compiles.values.map(xs => Stats.median(xs.toSeq)).sum)
  }
}
