package graft.perf

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** Order statistics over timing samples. Quantiles interpolate linearly
  * between closest ranks (numpy's default), so p50 of an even-sized sample
  * is the mean of the two middle values. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Process-wide JVM counters, read before and after a phase. */
final case class JvmSnap(cpuNs: Long, gcMs: Long, jitMs: Long, classes: Long,
    stealTicks: Long, allTicks: Long) {
  def -(o: JvmSnap): JvmSnap = JvmSnap(cpuNs - o.cpuNs, gcMs - o.gcMs,
    jitMs - o.jitMs, classes - o.classes, stealTicks - o.stealTicks,
    allTicks - o.allTicks)
  /** Share of all CPU time on the host that the hypervisor stole. */
  def stealShare: Double = if (allTicks > 0) stealTicks.toDouble / allTicks else 0.0
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val cl = ManagementFactory.getClassLoadingMXBean
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def cpuNs: Long = os.getProcessCpuTime

  /** `/proc/stat` aggregate cpu line: (steal ticks, all ticks). */
  private def procStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: java.io.IOException => (0L, 0L) }

  def snap(): JvmSnap = {
    val (steal, all) = procStat()
    JvmSnap(cpuNs,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      jit.getTotalCompilationTime, cl.getTotalLoadedClassCount, steal, all)
  }

  /** Median time of a fixed single-threaded integer loop: how fast this
    * host runs the same work right now. It does not depend on the engine,
    * so it tells a slow box from a slow program. */
  def calibrationMs(): Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) println("unreachable")
    (System.nanoTime() - t0) / 1e6
  })

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Spark's global code-generation counters: classes compiled and the
  * time spent compiling them. */
final case class CodegenSnap(compiles: Long, compileNs: Long) {
  def -(o: CodegenSnap): CodegenSnap =
    CodegenSnap(compiles - o.compiles, compileNs - o.compileNs)
}

object Codegen {
  def snap(): CodegenSnap = CodegenSnap(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** Job/stage/task totals from the scheduler, read before and after an
  * operation. Listener events arrive asynchronously, so a reading first
  * drains the listener bus. */
final case class TaskSnap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    cpuNs: Long, schedDelayMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, inputBytes: Long) {
  def -(o: TaskSnap): TaskSnap = TaskSnap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    schedDelayMs - o.schedDelayMs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    inputBytes - o.inputBytes)
}

final class TaskTotals(spark: SparkSession) extends SparkListener {
  private val c = Array.fill(10)(new AtomicLong())
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = { c(0).incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { c(1).incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.executorCpuTime)
      // launch-to-finish time the executor did not spend running the task
      val overhead = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      c(5).addAndGet(math.max(0L, overhead))
      c(6).addAndGet(m.jvmGCTime)
      c(7).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(8).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(9).addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }

  def snap(): TaskSnap = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val v = c.map(_.get)
    TaskSnap(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9))
  }
}

/** Readings taken from an executed DataFrame. */
object Plans {
  /** Catalyst's analysis, optimization and planning time, in ms. */
  def phasesMs(df: DataFrame): (Double, Double, Double) = {
    val ph = df.queryExecution.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    (ms("analysis"), ms("optimization"), ms("planning"))
  }

  /** Files the executed plan's scans opened (the `numFiles` scan metric),
    * walking into adaptive query stages. */
  def filesScanned(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Long = {
      val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children ++ other.subqueries
      }
      own + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}

/** Bytes and files under a directory tree (data files only: names that
  * start with `.` or `_` are bookkeeping). */
object Disk {
  def usage(root: java.io.File): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(root).filter { f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_")
    }
    (files.length.toLong, files.map(_.length).sum)
  }
}
