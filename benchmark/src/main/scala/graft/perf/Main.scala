package graft.perf

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints progress lines and, last, one
  * `RESULT {json}` line that `run.py` turns into the benchmark's output.
  * Everything the run writes lives under `--work`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = new Run(new File(opts("work")), opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1")
    val outcome = try workload match {
      case "wire_dashboard" => Wire.run(run)
      case "pipeline_batch" => Batch.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    } finally run.spark.stop()
    println("RESULT " + outcome.json)
  }
}

/** What a workload hands back: operation counts and the metric values,
  * by name. `run.py` attaches the units and checks the names against
  * `BENCHMARK.json`; a value that is not a finite number fails the run. */
final case class Outcome(attempted: Long, failed: Long, checksFailed: Long,
    metrics: Map[String, Double]) {
  def json: String = {
    val bad = metrics.collect { case (k, v) if v.isNaN || v.isInfinite => k }
    if (bad.nonEmpty)
      throw new IllegalStateException(s"non-finite metrics: ${bad.toSeq.sorted.mkString(", ")}")
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
    s"""{"correct": ${checksFailed == 0}, "attempted": $attempted, """ +
      s""""failed": ${failed + checksFailed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Shared state of one run: the session, the run's own directory, and
  * the probes every workload reads. */
final class Run(val work: File, val seed: Long, val seconds: Double, val trace: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // graft.Bench's session settings (the codegen cache stays at
      // Spark's default size)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)
    s
  }

  val tasks = new TaskTotals(spark)
  log("session ready")
  def dir(name: String): String = new File(work, name).getPath
  def rng(stream: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + stream)

  /** Seconds since the JVM started: set-up time includes JVM start. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Drop cached blocks and collect garbage between operations, off the
    * clock, as graft.Bench's `isolate()` does. */
  def isolate(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def log(msg: String): Unit = println(f"[perfbench $sinceJvmStart%6.1fs] $msg")
}

/** Per-operation layer readings, collected during a traced phase and
  * reported as medians. */
final class LayerSamples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit = { m.getOrElseUpdate(name, mutable.ArrayBuffer()) += v; () }
  def medians: Map[String, Double] = m.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap

  /** Record the Spark and JVM readings of one operation. */
  def addSpark(t: TaskSnap, c: CodegenSnap): Unit = {
    add("spark.jobs", t.jobs); add("spark.stages", t.stages); add("spark.tasks", t.tasks)
    add("spark.executor_run_ms", t.runMs); add("spark.executor_cpu_ms", t.cpuNs / 1e6)
    add("spark.scheduler_delay_ms", t.schedDelayMs); add("spark.task_gc_ms", t.gcMs)
    add("spark.shuffle_write_bytes", t.shuffleWrite)
    add("spark.shuffle_read_bytes", t.shuffleRead)
    add("spark.input_bytes", t.inputBytes)
    add("spark.codegen_compiles", c.compiles); add("spark.codegen_ms", c.compileNs / 1e6)
  }

  def addPlan(df: org.apache.spark.sql.DataFrame): Unit = {
    val (a, o, p) = Plans.phasesMs(df)
    add("spark.analysis_ms", a); add("spark.optimization_ms", o); add("spark.planning_ms", p)
    add("spark.files_scanned", Plans.filesScanned(df).toDouble)
  }
}

/** Timed phase bookkeeping shared by the workloads: process counters
  * around the phase, and the windowed p50s that show whether warm-up
  * was long enough. */
object Phase {
  def jvmMetrics(d: JvmSnap, ops: Long, calibrationMs: Double): Map[String, Double] = Map(
    "host.calibration_ms" -> calibrationMs,
    "jvm.gc_ms" -> d.gcMs.toDouble / math.max(1L, ops),
    "jvm.jit_ms" -> d.jitMs.toDouble / math.max(1L, ops),
    "jvm.classes_loaded" -> d.classes.toDouble / math.max(1L, ops),
    "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
    "host.steal_share" -> d.stealShare)

  /** p50 of the first and last tenth of a timed phase (in completion
    * order); a falling series means the warm-up ended too early. */
  def windows(lat: Seq[Double]): Map[String, Double] = {
    val w = math.max(1, lat.length / 10)
    Map("timed.first_window_p50_ms" -> Stats.median(lat.take(w)),
      "timed.last_window_p50_ms" -> Stats.median(lat.takeRight(w)))
  }
}
