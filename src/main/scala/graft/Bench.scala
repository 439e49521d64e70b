package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Wall seconds to build a query's frame and execute it to its last
    * row, or the error that stopped it: a query that throws is a failure,
    * never a fast timing. The query's OWN output columns are evaluated
    * (toRdd executes the plan as declared); a count() would let Catalyst
    * prune every computed column, so map-only queries would time a bare
    * scan while the DuckDB oracle fetchall()s fully materialized rows. */
  private[graft] def timeQuery(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case NonFatal(e) => Left(e) }
  }

  /** UNTIMED isolation between timed runs: each query starts from the
    * clean-session state it would have alone. */
  private[graft] def isolate(spark: SparkSession): Unit = {
    // drop storage blocks the finished query left behind (dedup barriers
    // localCheckpoint intermediates; the ContextCleaner frees them only on
    // a GC, and measured r6 the accreted blocks degraded the NEXT several
    // queries 2-7×; at sf25 q78 completed run 1 and OOM'd run 2)
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    // explicit GC: the ContextCleaner only discovers dead
    // broadcasts/shuffles/RDDs when their references are COLLECTED —
    // without this the JVM defers collection until it lands inside a
    // later query's measurement (measured r8: q71 timed 9.3s after the
    // dedup-pipeline query vs 2.4s isolated). Collecting between
    // timings moves that reclamation cost off the clock.
    try System.gc() catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated query filter for isolating one query's
    // time without the rest of the surface (diagnostics only; unset for a
    // full timing)
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every failure, by the name of the query or set-up step that threw:
    // listed as `failed` on the bench line, and the run exits non-zero.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    def fail(name: String, e: Throwable): Unit = if (!failed.contains(name)) {
      failed(name) = e
      System.err.println(s"[bench] $name failed: $e")
    }
    def attempt(name: String)(f: => Unit): Unit =
      try f catch { case NonFatal(e) => fail(name, e) }
    // Untimed warmup: JVM/codegen initialization and parquet footer reads
    // otherwise land entirely on whichever query runs first (~4s of fixed
    // cost that is not operator time). NEUTRAL shape — a trivial count per
    // source table, never one of the timed queries, so no timed entry gets
    // warm caches the others lack.
    Seq("events", "documents", "embeddings", "lineitem", "orders", "customer")
      .foreach(t => attempt(s"warmup_$t")(graft.sources.Catalog.load(spark, sfDir, t).count()))
    // Executor-path class initialization over SYNTHETIC rows (no source
    // table, no timed-query shape): the FIRST constant-fold, window,
    // object-hash aggregate, and broadcast join in a JVM each pay ~0.5-1.5s
    // of one-time class loading that plain scans never trigger — without
    // this, whichever timed query hits each path first absorbs it.
    attempt("warmup") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.range(4)
        .select(graft.functions.Analyzers.standard(lit("warm up")).as("t")).count()
      // first interpreted Lower.eval loads ICU collation dictionaries
      // (CollationAwareUTF8String static init, ~1s) — fold one here
      spark.range(1).select(lower(lit("WARM")).as("l"))
        .filter(col("l") === "warm").count()
      spark.range(64).withColumn("g", col("id") % 4)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("id"))))
        .filter(col("rn") === 1).count()
      spark.range(64).withColumn("g", col("id") % 4)
        .groupBy("g").agg(graft.functions.TopK.topNEntities(2, desc = true)(
          col("id").cast("string"), col("id")).as("tk")).count()
      spark.range(64).join(broadcast(spark.range(4)), "id").count()
      // javax.imageio plugin registry + PNG/BMP codec classes load on
      // first use (~3s measured) — one synthetic 2-blob encode+decode
      // round trip folds it here instead of into the first decoded-plane
      // query
      locally {
        import spark.implicits._
        val p = graft.operators.Multimodal.docPlane(0L, "warm")
        val wb = Seq(
          graft.operators.Multimodal.MediaBlob(0L, "image",
            graft.operators.Multimodal.encodePlane(p, "png")),
          graft.operators.Multimodal.MediaBlob(1L, "image",
            graft.operators.Multimodal.encodePlane(p, "bmp")))
        graft.operators.Multimodal.decodedSignature(
          spark.createDataset(wb)).count()
      }
    }
    // Untimed setup: one-time materializations (the storage layout, the
    // streaming topN snapshot) whose READ paths q41/q44 then measure.
    attempt("prepare")(SparkEntry.prepare(spark, sfDir))
    // Warm pass (default on; SPARK_GRAFT_BENCH_WARM=0 disables for long
    // sweeps): each plan executes a second time after the cold timing.
    // The warm column isolates the per-plan compile constant — codegen +
    // whole-stage compilation is cached by generated source, so the warm
    // run is the steady-state number a reused plan pays on a cluster,
    // where sub-second artifact-scan queries (q70/q71) otherwise report
    // mostly compile time. Cold stays the headline (comparable across
    // rounds); warm is reported alongside.
    val warmPass = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") != "0"
    // Cold passes (default 2): r14's driver bench swung +22% on
    // UNTOUCHED code — individual cold queries spike 2-3× run-to-run
    // (cleaner/GC churn) while the calibration anchors stay flat. The
    // second pass re-traverses the WHOLE query list after the first
    // completes, as a NOISE DIAGNOSTIC: it runs in a JVM whose codegen
    // cache and JIT are warmed by pass 1, so its times sit between true
    // cold and warm and are NOT equivalent to a separate-JVM cold run —
    // which is why the HEADLINE `value`/`queries` stay the pass-1
    // single-cold numbers (comparable with every prior round and with
    // the sweeps' per-JVM passes) and the per-query min across passes is
    // published separately as `value_min`/`queries_min`. A headline
    // min(cold, warmed-retraversal) would bias low (r15's did; the r16
    // advisor flagged it). Sweeps set SPARK_GRAFT_BENCH_COLD_PASSES=1 —
    // their min across separate JVMs is the genuinely-cold min.
    val coldPasses = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_COLD_PASSES", "2").toInt)
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t = timeQuery(spark, sfDir, fn).fold(e => { fail(name, e); Double.NaN }, identity)
      isolate(spark)
      t
    }
    val timed = selected.map { case (name, fn) =>
      val cold = timeOnce(name, fn)
      val warm = if (warmPass && !failed.contains(name)) timeOnce(name, fn) else cold
      (name, cold, warm)
    }
    // later cold passes: full-list re-traversals (codegen/JIT-warmed —
    // diagnostic only, never folded into the headline)
    val coldRuns = scala.collection.mutable.Map(
      timed.map { case (n, c, _) => n -> List(c) }: _*)
    for (_ <- 2 to coldPasses) selected.foreach { case (name, fn) =>
      if (!failed.contains(name)) coldRuns(name) = coldRuns(name) :+ timeOnce(name, fn)
    }
    // a query that failed in any run has no timing
    failed.keys.foreach(coldRuns.remove)
    val passed = timed.filterNot { case (n, _, _) => failed.contains(n) }
    // headline: pass-1 true-cold; min-across-passes published alongside
    val results = passed.map { case (n, c, _) => n -> c }.toMap
    val resultsMin = coldRuns.map { case (n, cs) => n -> cs.min }.toMap
    val warmResults = passed.map { case (n, _, w) => n -> w }.toMap
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalMin = if (resultsMin.nonEmpty) resultsMin.values.sum else 0.0
    val totalWarm = if (warmResults.nonEmpty) warmResults.values.sum else 0.0
    // Calibration anchors embedded in the output: the two fixed-shape
    // queries the sweeps time around every run. With their per-pass raw
    // times in the JSON, a round-over-round bench delta decomposes
    // mechanically into box-speed drift (anchors moved) × code change
    // (anchors flat, queries moved).
    val failedJson = failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val anchorNames = Seq("q01_scan_timerange", "q35_lineitem_pricing")
      .filter(coldRuns.contains)
    val anchorsJson = anchorNames.map { n =>
      "\"" + n + "\":[" + coldRuns(n).map(v => f"$v%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    def line(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      // Per-query min-across-passes for the SAME keys, in the SAME order
      // as `queries` (an aligned value array — a keyed map would double
      // the per-entry cost and halve how many queries fit the ~1900-char
      // stdout budget). Published because the pass-1 cold samples carry
      // 2-7× GC/cleaner spikes (r16: q72 13.4 s cold vs 2.4 s at 8 cores
      // on the identical binary) and the driver's per-query comparison
      // reads only this truncated line — the spike-resistant statistic
      // must live here, not just in bench_full.json. `value`/`queries`
      // stay pass-1 single-cold (r14-era comparable); additions only.
      val qmins = entries.map { case (k, _) =>
        f"${resultsMin.getOrElse(k, 0.0)}%.3f" }.mkString("[", ",", "]")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs$om,""" +
        s""""failed":$failedJson,""" +
        s""""value_min":${f"$totalMin%.3f"},"queries_min_vals":$qmins,""" +
        s""""anchors":$anchorsJson,""" +
        s""""cold_passes":$coldPasses,"sf":"$sfDir"}"""
    }
    // Full-precision per-query maps (cold + warm): one diagnostic stdout
    // line + a file (the trend tooling reads the file).
    val full = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullWarm = warmResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullMin = resultsMin.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullRuns = coldRuns.map { case (k, cs) =>
      "\"" + k + "\":[" + cs.mkString(",") + "]" }.mkString("{", ",", "}")
    val fullJson = s"""{"total":$total,"total_min":$totalMin,"total_warm":$totalWarm,""" +
      s""""queries":$full,"queries_min":$fullMin,"queries_warm":$fullWarm,""" +
      s""""queries_cold_runs":$fullRuns,"failed":$failedJson,""" +
      s""""anchors":$anchorsJson,"cold_passes":$coldPasses,"sf":"$sfDir"}"""
    println(s"BENCH_FULL $fullJson")
    try {
      val p = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, fullJson.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // The machine-readable line MUST be (a) the process's last stdout line
    // and (b) short enough to survive a bounded tail capture (~2000 chars
    // observed): rounds 1-6 all recorded parsed:null because sbt's
    // [success] banner followed a >2000-char line. showSuccess is disabled
    // in build.sbt; here, if the full map would overflow the window, keep
    // the slowest queries (the ones a baseline comparison cares about) and
    // count the rest as queries_omitted.
    val sorted = results.toSeq.sortBy(-_._2)
    var keep = sorted.length
    while (keep > 1 && line(sorted.take(keep), sorted.length - keep).length > 1900)
      keep -= 1
    println(line(sorted.take(keep), sorted.length - keep))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
