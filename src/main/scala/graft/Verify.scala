package graft
import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws leaves no output directory (an earlier run's is deleted first),
  * is named on stderr, and makes the run exit 1 once the oracle SQL is
  * written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional comma-separated filter for fast single-query iteration
    // (like Bench's SPARK_GRAFT_BENCH_ONLY); unset = full surface, empty =
    // no query (the oracle SQL dump alone)
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(outDir).mkdirs()
    val failed = selected.flatMap { case (name, fn) =>
      val out = new File(s"$outDir/$name")
      if (out.exists) FileUtils.forceDelete(out)
      try { fn(spark, sfDir).coalesce(1).write.parquet(out.getPath); None }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: $e")
        Some(name)
      }
    }
    // oracleSqlFor derives the learned-tokenizer twins from THIS sfDir's
    // materialized artifact (not from whichever query ran last), so a
    // filtered verify pass still dumps the full, correct oracle surface
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.server.Json.render(SparkEntry.oracleSqlFor(spark, sfDir)))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
