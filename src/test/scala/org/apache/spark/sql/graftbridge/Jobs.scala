package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskStart}

/** The Spark jobs, stages and tasks started while a block runs. The
  * listener bus delivers events asynchronously and draining it is
  * package-private to Spark, hence this package. */
object Jobs {
  final case class Counts(jobs: Int, stages: Int, tasks: Int)

  def during[A](sc: SparkContext)(f: => A): (A, Counts) = {
    sc.listenerBus.waitUntilEmpty()
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = { stages.incrementAndGet(); () }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = { tasks.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, Counts(jobs.get, stages.get, tasks.get))
    } finally sc.removeSparkListener(listener)
  }
}
