package graft.ql

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.{Comparator, SplittableRandom}

import graft.GraftSession
import graft.engine.Planners
import graft.sources.{Catalog, TableDef}
import graft.storage.{CatalogEntry, CatalogStore, Layout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Where one task stops beating the multi-partition plan: the
  * measurement behind [[Planners.OneTaskMaxBytes]]. For each target size
  * it writes an events layout (the dashboard lifecycle's shape: one day
  * of live events, four shards, compacted) and a documents log in 128 KB
  * files (the batch surface's text layout), then times every statement
  * kind of the dashboard mix plus two document statements in both shapes
  * with one caller, kinds and shapes in turn, each request with fresh
  * literals, after three untimed rounds. It prints, per size, the gate's
  * own size estimate and each kind's median wall and process CPU
  * milliseconds as one task and as the multi-partition plan.
  *
  * {{{
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.ql.OneTaskProbe <sf-dir> [MB,MB,...] [rounds]"
  * }}}
  * `<sf-dir>` holds `events.parquet` and `documents.parquet` (sf0.1's
  * 100,000 events and 5,000 documents are copied with fresh ids to reach
  * the larger sizes). The session is the engine's
  * ([[graft.GraftSession]]), with one core per available processor
  * unless `SPARK_GRAFT_CPUS` says otherwise. */
object OneTaskProbe {

  private val now = Instant.parse("2024-01-20T00:00:00Z")
  private val nowNs = now.getEpochSecond * 1000000000L
  private val dayNs = 86400L * 1000000000L
  private val types = Array("click", "view", "purchase", "signup", "error")
  private val words = Array("partition", "shuffle", "query", "data", "engine", "storage")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sys.error("usage: OneTaskProbe <sf-dir> [MB,...] [rounds]"))
    val sizesMb = args.lift(1).map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq(0.1, 0.25, 0.5, 1, 1.5, 2, 4))
    val rounds = args.lift(2).map(_.toInt).getOrElse(9)
    val cores = GraftSession.cores
    val spark = GraftSession.builder(cores).appName("one-task-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("one-task-probe").toString
    println(s"# local[$cores], $rounds rounds per kind and shape, medians in ms")
    println("# dataset target_mb estimate_bytes files kind one_task_ms multi_ms multi/one " +
      "one_task_cpu_ms multi_cpu_ms")
    try for (mb <- sizesMb) {
      val target = (mb * (1 << 20)).toLong
      report("events", mb, eventResources(spark, sfDir, target, s"$work/ev$mb"), eventKinds, rounds)
      report("documents", mb, docResources(spark, sfDir, target, s"$work/doc$mb"), docKinds, rounds)
    } finally {
      spark.stop()
      Files.walk(Paths.get(work)).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    }
  }

  /** One statement kind: builds a request from a seeded stream. */
  private type Kind = (String, SplittableRandom => (String, Seq[Any]))

  private val eventKinds: Seq[Kind] = {
    def win(r: SplittableRandom) = s"TIME > '-${30 + r.nextInt(1410)}m'"
    def t(r: SplittableRandom) = types(r.nextInt(types.length))
    def n(r: SplittableRandom) = 3 + r.nextInt(18)
    Seq(
      "sum" -> (r => (s"SELECT event_type, SUM(value) FROM MEASURE service_cpm IN sw ${win(r)} " +
        "GROUP BY event_type, value", Nil)),
      "mean" -> (r => (s"SELECT event_type, MEAN(value) FROM MEASURE service_cpm IN sw ${win(r)} " +
        s"WHERE user_id IN (${Seq.fill(4)(r.nextInt(1500)).mkString(", ")}) " +
        "GROUP BY event_type, value", Nil)),
      "order_limit" -> (r => (s"SELECT event_id, user_id, value FROM MEASURE service_cpm IN sw " +
        s"${win(r)} WHERE event_type = '${t(r)}' ORDER BY value DESC LIMIT ${n(r)}", Nil)),
      "select_top" -> (r => (s"SELECT TOP ${n(r)} value DESC, event_type, MEAN(value), " +
        s"value::field FROM MEASURE service_cpm IN sw ${win(r)} GROUP BY event_type, value", Nil)),
      "show_top" -> (r => (s"SHOW TOP ${n(r)} FROM MEASURE service_cpm_topn IN sw ${win(r)} " +
        "AGGREGATE BY SUM ORDER BY DESC", Nil)),
      "stream" -> (r => (s"SELECT event_id, value FROM STREAM sw_log IN sw ${win(r)} " +
        s"WHERE event_type = '${t(r)}' ORDER BY value DESC LIMIT ${n(r)}", Nil)),
      "trace" -> { r =>
        val lo = r.nextInt(200)
        (s"SELECT () FROM TRACE sw_trace IN sw ${win(r)} WHERE value >= $lo AND " +
          s"value <= ${lo + 20 + r.nextInt(200)} ORDER BY timestamp DESC LIMIT ${n(r)}", Nil)
      },
      "property" -> (r => ("SELECT id, configuration FROM PROPERTY ui_menu IN sw " +
        "WHERE configuration = ?", Seq(s"cfg-${r.nextInt(100)}"))))
  }

  private val docKinds: Seq[Kind] = Seq(
    "flexible_property" -> (r => ("SELECT id, lang, source FROM PROPERTY docs IN sw " +
      s"WHERE lang = '${if (r.nextBoolean()) "en" else "de"}'", Nil)),
    "match" -> (r => ("SELECT lang, COUNT(n_chars) FROM MEASURE documents IN sw " +
      s"WHERE text MATCH('${words(r.nextInt(words.length))}') GROUP BY lang, n_chars", Nil)))

  /** `df` copied with fresh ids until it has at least `rows` rows, then
    * cut to about `rows` by a hash of the id. */
  private def sized(df: DataFrame, idCol: String, rows: Long): DataFrame = {
    val have = df.count()
    val span = df.agg(max(idCol)).first().getLong(0) + 1
    val copies = math.max(1L, (rows + have - 1) / have).toInt
    val all = (0 until copies).map(k => df.withColumn(idCol, col(idCol) + k * span)).reduce(_ union _)
    val keep = math.min(1.0, rows.toDouble / (have * copies))
    all.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) < lit((keep * 1000000).toLong))
  }


  /** The dashboard's resources over one day of live events of about
    * `target` bytes on disk. */
  private def eventResources(spark: SparkSession, sfDir: String, target: Long,
      dir: String): Map[String, BydbQL.Resource] = {
    val ev = Catalog.load(spark, sfDir, "events")
    val Seq(lo, hi) = { val r = ev.agg(min("ts_ns"), max("ts_ns")).first(); Seq(r.getLong(0), r.getLong(1)) }
    // the source's 30 days squeezed into the day before `now`
    val day = ev.withColumn("ts_ns", lit(nowNs - dayNs) +
      ((col("ts_ns") - lo).cast("double") / (hi - lo + 1) * dayNs).cast("long"))
    val entry = CatalogEntry("sw", "service_cpm", entity = Seq("user_id"), tsCol = "ts_ns",
      fields = Seq("value"))
    def write(rows: Long, root: String): Map[String, BydbQL.Resource] = {
      CatalogStore.ingest(sized(day, "event_id", rows), root, entry, mode = "overwrite")
      Layout.compactSegments(spark, root, entry.spec)
      CatalogStore.open(spark, root)
    }
    // bytes a row on disk, from a first layout of the whole source
    val bytesPerRow = Planners.sizeEstimate(write(ev.count(), s"$dir-calibrate")("service_cpm").df).toDouble / ev.count()
    val rows = math.max(100L, (target / bytesPerRow).toLong)
    val cpm = write(rows, dir)("service_cpm")
    // a property log with as many rows, in four files
    val log = sized(day, "event_id", rows).select(
      concat(lit("m"), col("user_id").cast("string")).as("id"), col("event_id").as("rev"),
      concat(lit("cfg-"), pmod(col("event_id"), lit(100L)).cast("string")).as("configuration"),
      (col("event_type") === "error").as("deleted"))
    log.repartition(4).write.mode("overwrite").parquet(s"$dir-menu")
    Map(
      "service_cpm" -> cpm,
      "service_cpm_topn" -> cpm.copy(topNRule = Some(BydbQL.TopNRule("ts_ns", "user_id",
        floor(col("value")).cast("long"), 3600000L, 3))),
      "sw_log" -> cpm.copy(df = cpm.df.withColumn("element_id", col("event_id").cast("string")),
        fields = Set.empty, elementIdCol = Some("element_id")),
      "sw_trace" -> cpm.copy(df = cpm.df.withColumn("trace_id", (col("event_id") / 8).cast("long")),
        fields = Set.empty, traceIdCol = Some("trace_id"),
        spanStruct = Seq("event_id", "event_type", "value", "ts_ns")),
      "ui_menu" -> BydbQL.Resource(spark.read.parquet(s"$dir-menu"), TableDef("ui_menu"),
        propertyIdCol = Some("id"), propertyRevCol = Some("rev"),
        propertyDeletedCol = Some("deleted")))
  }

  /** Documents of about `target` bytes on disk in 128 KB files, and the
    * flexible property log over them that `q56_property_flexible` reads. */
  private def docResources(spark: SparkSession, sfDir: String, target: Long,
      dir: String): Map[String, BydbQL.Resource] = {
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
    val bytesPerRow = Planners.sizeEstimate(src).toDouble / src.count()
    sized(src, "doc_id", math.max(20L, (target / bytesPerRow).toLong))
      .repartition(math.max(1, (target / (128L << 10)).toInt))
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val log = docs.select(col("doc_id").as("id"), lit(1L).as("rev"), lit(false).as("deleted"),
      map_concat(map(lit("lang"), col("lang")),
        when(col("doc_id") % 2 === 0, map(lit("source"), col("source"))).otherwise(map()))
        .as("tags"))
    Map(
      "documents" -> BydbQL.Resource(docs, TableDef("documents"), fields = Set("n_chars")),
      "docs" -> BydbQL.Resource(log, TableDef("docs"), propertyIdCol = Some("id"),
        propertyRevCol = Some("rev"), propertyDeletedCol = Some("deleted"),
        propertyTagsCol = Some("tags")))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def report(dataset: String, mb: Double, resources: Map[String, BydbQL.Resource],
      kinds: Seq[Kind], rounds: Int): Unit = {
    // `BydbQL.run` keeps a full-text statement off one task whatever the
    // cutoff, so that shape is planned here directly, to measure it
    def plan(ql: String, params: Seq[Any], maxBytes: Long): DataFrame =
      if (!ql.contains(" MATCH(")) BydbQL.run(ql, resources, params, now, maxBytes)
      else {
        val res = resources("documents")
        Transformer.transform(BydbQL.bind(BydbQL.parse(ql), params),
          QlSchema(res.df.schema, res.fields), now) match {
          case MeasureStatement(q) =>
            Planners.measure(Planners.oneTaskIfSmall(res.df, None, maxBytes), res.tdef, q)
          case other => sys.error(s"not a measure statement: $other")
        }
      }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** Wall and process CPU milliseconds of one request (one caller, so
      * the process's CPU is the request's, plus JIT and GC). */
    def ms(ql: String, params: Seq[Any], maxBytes: Long): Seq[Double] = {
      val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
      plan(ql, params, maxBytes).collect()
      Seq((System.nanoTime() - t0) / 1e6, (os.getProcessCpuTime - c0) / 1e6)
    }
    val shapes = Seq(Long.MaxValue, 0L)
    val streams = kinds.map(k => new SplittableRandom(k._1.hashCode.toLong))
    // rounds outside, kinds inside: JIT and codegen warm-up spreads over
    // every kind, and the first 3 rounds are not timed
    val times = (-2 to rounds).map { _ =>
      kinds.zip(streams).map { case ((_, make), r) =>
        val (q, p) = make(r)
        shapes.map(m => ms(q, p, m))
      }
    }.drop(3)
    val totals = Array.fill(4)(0.0)
    for (((kind, make), k) <- kinds.zipWithIndex) {
      val res = resources(BydbQL.parse(make(new SplittableRandom(0))._1) match {
        case s: QlSelect => s.from.name
        case t: QlShowTopN => t.from.name
      })
      val files = res.df.inputFiles.length
      // wall one, wall multi, cpu one, cpu multi
      val m = for (j <- 0 to 1; i <- shapes.indices) yield median(times.map(_(k)(i)(j)))
      m.indices.foreach(i => totals(i) += m(i))
      println(f"$dataset%-9s $mb%5.2f ${Planners.sizeEstimate(res.df)}%10s $files%3d $kind%-17s " +
        f"${m(0)}%8.1f ${m(1)}%8.1f ${m(1) / m(0)}%5.2f ${m(2)}%8.1f ${m(3)}%8.1f")
    }
    println(f"$dataset%-9s $mb%5.2f ${"-"}%10s ${"-"}%3s ${"sum of medians"}%-17s " +
      f"${totals(0)}%8.1f ${totals(1)}%8.1f ${totals(1) / totals(0)}%5.2f ${totals(2)}%8.1f ${totals(3)}%8.1f")
  }
}
