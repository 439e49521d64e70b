package graft.tools

import graft.{Bench, GraftSession}

/** Per-query stage-level timing, a diagnostic outside the library
  * surface: `sbt "runMain graft.tools.Scratch
  * q15_version_dedup"` runs each named query `SCRATCH_RUNS` times (default
  * 5) in the engine's session (`SPARK_GRAFT_CPUS` cores) with Bench's
  * timing and isolation between runs. `SCRATCH_STAGES=1` prints the last
  * run's stages; `graft.Explain` prints plans. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SCRATCH_NO_PREPARE skips the full artifact build — the sf25
    // documents-only spot-check runs queries whose inputs either read the
    // scale dir directly or materialize on demand inside the query fn
    if (!sys.env.contains("SCRATCH_NO_PREPARE"))
      graft.SparkEntry.prepare(spark, sfDir)
    val names = args.toSeq match {
      case Nil => Seq("q15_version_dedup", "q14_element_dedup")
      case xs  => xs
    }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dur = for { s <- si.submissionTime; e <- si.completionTime } yield e - s
          stages.add(s"stage${si.stageId} tasks=${si.numTasks} " +
            s"dur=${dur.getOrElse(-1L)}ms runTime=${si.taskMetrics.executorRunTime}ms " +
            s"cpu=${si.taskMetrics.executorCpuTime / 1000000}ms " +
            s"shufW=${si.taskMetrics.shuffleWriteMetrics.bytesWritten}")
        }
      })
    val runs = sys.env.getOrElse("SCRATCH_RUNS", "5").toInt
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to runs).foreach { i =>
        stages.clear()
        Bench.timeQuery(spark, sfDir, fn) match {
          case Right(sec) => println(f"$n run$i $sec%.3f s")
          case Left(e) => println(s"$n run$i failed: $e")
        }
        if (i == runs && sys.env.contains("SCRATCH_STAGES")) {
          Thread.sleep(300)
          stages.forEach(s => println(s"  $s"))
        }
        Bench.isolate(spark)
      }
    }
    spark.stop()
  }
}
