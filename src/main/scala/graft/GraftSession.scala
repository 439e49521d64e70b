package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session configuration. Every main (`graft.Bench`,
  * `graft.Verify`, `graft.Explain`, `graft.RecallTable`,
  * `graft.tools.Scratch`) and the test session build from [[builder]], so
  * the DuckDB oracle checks the configuration that `graft.Bench` times.
  * A caller that needs more (an app name) chains onto the returned
  * builder. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or the machine's processor count when unset —
    * the deployment target is local[32]. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cores]`, with one shuffle partition per core. */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    // Spark-docs-recommended production setting: coalesce post-shuffle
    // partitions to the target size instead of maximizing parallelism —
    // fewer, fuller reduce tasks per stage.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // NOTE a session-wide initialPartitionNum was tried for scale
    // robustness and REJECTED: A/B/A/B at sf0.1 measured 78-90 s at the
    // fixed core count vs 95-98 s at 136 initial partitions — per-map
    // bucket overhead × hundreds of toy-scale shuffles. Scale-dependent
    // partitioning lives IN the heavy operators instead, derived from
    // their barriered inputs' measured bytes (Dedup.scaledPartitions).
    // Scan-split size matched to the LOCAL scale factors (Spark tuning
    // guidance: size maxPartitionBytes so every core gets work at the
    // target SF). The 128m default is right for a 100 TB cluster but
    // serializes a toy-scale scan into one task when a table is a single
    // ~100 MB file.
    .config("spark.sql.files.maxPartitionBytes", "8m")
    // Post-shuffle advisory size gets the same local-scale treatment as
    // the scan split above: the 64m default folds every toy-scale
    // aggregation onto ONE reduce task (measured: q81's two ~16 MB
    // aggregations ran single-threaded, 0.7 s each at sf1; 4m runs them
    // 4-way and halves the query). A 100 TB deployment keeps the
    // default — this knob, like maxPartitionBytes, is sized to the SF
    // the local bench actually runs.
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    // NOTE: spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    // stays at its default (128): raising it to 1M was measured 23%
    // SLOWER on this surface at sf1 — with nearly-unique keys partial
    // aggregation combines nothing, and the sort-based fallback streams
    // groups cache-friendly where a giant object hash map churns GC.
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
}
