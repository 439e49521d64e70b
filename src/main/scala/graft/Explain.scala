package graft

import scala.util.control.NonFatal

/** Plan inspector: print the formatted physical plan of named
  * SparkEntry queries without executing them —
  * `sbt -batch "runMain graft.Explain <sfDir> <q1,q2,...>"` (no list:
  * every query). Every plan is printed; the run exits 1 if any query
  * threw or a name is not a query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected = SparkEntry.select(args.lift(1))
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = selected.filter { case (n, fn) =>
      println(s"===== $n =====")
      try { fn(spark, sfDir).explain("formatted"); false }
      catch { case NonFatal(e) => println(s"failed: $e"); true }
    }.map(_._1)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.length} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
