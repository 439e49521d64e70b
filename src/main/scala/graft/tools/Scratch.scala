package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query stage-level timing, a diagnostic outside the library
  * surface: `sbt "runMain graft.tools.Scratch
  * q15_version_dedup"` runs each named query `SCRATCH_RUNS` times (default
  * 5) with Bench's session settings and isolation between runs.
  * `SCRATCH_STAGES=1` prints the last run's stages, `SCRATCH_EXPLAIN=1`
  * the formatted plan; `SCRATCH_CORES` / `SCRATCH_SHUFFLE` size the
  * session (default 32 / 32). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SCRATCH_CORES", "32") + "]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SCRATCH_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m") // match Bench
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        println(f"$n run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
        if (i == runs && sys.env.contains("SCRATCH_STAGES")) {
          Thread.sleep(300)
          stages.forEach(s => println(s"  $s"))
        }
        // UNTIMED inter-run isolation, same as Bench.isolate(): drop the
        // finished run's barrier blocks and let the ContextCleaner see
        // them — without this, run i+1 of a barrier-heavy query starts
        // against run i's resident localCheckpoint blocks (measured:
        // q78 at sf25 completed run 1 and OOM'd run 2).
        try spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        catch { case _: Throwable => () }
        try System.gc() catch { case _: Throwable => () }
      }
      if (sys.env.contains("SCRATCH_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
