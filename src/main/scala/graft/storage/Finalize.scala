package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Trace finalization sampling — the background backstop for the in-merge
 * trace retention filter (reference `CHANGES.md` §0.11.0, first feature:
 * `PIPELINE_EVENT_FINALIZE`). Spans that arrive AFTER their segment's hot
 * merge ran were never offered to the sampler chain; without a backstop
 * they are retained forever. The reference periodically sweeps cooled
 * segments (`segEnd < now − finalize_grace`) and force-merges each
 * shard's un-finalized parts through the group's registered sampler
 * chain, stamping a per-part `finalizeGen` (written to disk before the
 * part metadata, so a crash cannot double-sample on replay), with
 * re-rounds bounded by a hard `max_finalize_rounds`.
 *
 * Spark shape: one bounded driver sweep over the layout's cooled
 * (seg, shard) directories; per directory, the un-finalized data files
 * (file set difference against the generation state) are read as one
 * small DataFrame, pushed through the SAME sampler transform the hot
 * path uses (e.g. [[graft.operators.TracePipeline.latencyStatusSample]]),
 * and swapped in via a staged-commit manifest — the same [[Commit]] as
 * [[Layout.compactSegments]]. The reference's single
 * node-wide concurrency-1 scanner maps to the sweep being a maintenance
 * job, not a query-path operation.
 *
 * Exactly-once across crashes: the per-directory `.finalize-commit`
 * manifest (staged file moves + old file deletes + the new generation
 * state) is written atomically BEFORE any live file is touched — the
 * analogue of the reference writing `finalizeGen` before part metadata.
 * A crash before the manifest leaves the directory un-finalized (the
 * next sweep redoes the whole round from the same inputs); a crash after
 * it is completed by the next sweep's recovery replaying the manifest
 * (moves and deletes are existence-checked, the state write is a
 * rewrite) — the sampler NEVER re-runs over rows a committed round
 * already decided.
 *
 * Composition with [[Layout.compactSegments]]: compaction rewrites the
 * state file set through [[compactedStateContent]] — a directory whose
 * inputs were ALL finalized stays finalized (its compacted output holds
 * exactly the committed survivors), and a directory with any
 * un-finalized input re-enters the sweep whole, the analogue of the
 * reference min-propagating `finalizeGen` across ordinary merges. Only
 * that second, mixed case re-offers already-kept rows to the sampler,
 * and THE invariant a sampler must satisfy for it is keep-stability on
 * survivors: re-sampling a batch made of previously-kept whole traces
 * (possibly merged with new ones) must keep them again. Per-trace
 * determinism (the reference's FNV-1a trace-id hash; "a trace is never
 * half-kept") is the usual way to get that, and evidence-aggregating
 * samplers like [[graft.operators.TracePipeline.latencyStatusSample]]
 * qualify because a kept trace retains ALL its spans, so its keep
 * evidence re-derives. A batch-RATE sampler ("keep 1% of healthy
 * traces") is NOT keep-stable and may only be used if finalized rows
 * never co-mingle with un-finalized ones in a directory (e.g. compact
 * before the first finalize sweep, or never after).
 *
 * Coverage is best-effort, like the reference: a segment TTL-deleted
 * before its sweep is a miss, not an error.
 */
object Finalize {

  /** One directory's sweep outcome. */
  final case class Report(seg: Int, shard: Int, gen: Long,
      filesSampled: Int, rowsBefore: Long, rowsAfter: Long)

  private[storage] val StateName = ".finalize.state"
  private val CommitName = ".finalize-commit"
  private val StagingName = ".finalize-staging"

  /** generation state: (gen, rounds, finalized file names). */
  private final case class State(gen: Long, rounds: Int, files: Set[String]) {
    def content: String = (s"$gen" :: s"$rounds" :: files.toList.sorted).mkString("\n")
  }

  /** `dir`'s generation state; the empty state when it has none. */
  private def readState(fs: FileSystem, dir: Path): State = {
    val p = new Path(dir, StateName)
    if (!fs.exists(p)) State(0L, 0, Set.empty)
    else Commit.readText(fs, p).split('\n').toList match {
      case g :: r :: rest => State(g.toLong, r.toInt, rest.filter(_.nonEmpty).toSet)
      case _ => State(0L, 0, Set.empty)
    }
  }

  /**
   * Post-compaction state maintenance, called by
   * [[Layout.compactSegments]] inside ITS commit manifest (crash-safe via
   * the same replay): when every pre-compaction data file of `dir` was
   * finalized, the compacted output holds exactly the rows a committed
   * sampling round already decided, so the rewritten state names the new
   * files and the directory STAYS finalized — the sampler never re-runs
   * over committed survivors, even one that is only keep-stable on whole
   * batches (a healthy-rate sampler re-offered its own survivors would
   * silently re-drop them). When any input was un-finalized the output
   * file set re-enters the sweep (min-propagating `finalizeGen`, like the
   * reference's merges) — the state keeps its gen/rounds but drops the
   * now-deleted file names so they cannot accrete forever.
   *
   * @return the state content to write, or None when the directory has
   *         no finalize state at all
   */
  private[storage] def compactedStateContent(fs: FileSystem, dir: Path,
      oldNames: Set[String], newNames: Seq[String]): Option[String] =
    if (!fs.exists(new Path(dir, StateName))) None
    else {
      val st = readState(fs, dir)
      val kept = if (oldNames.subsetOf(st.files)) newNames.toSet else Set.empty[String]
      Some(st.copy(files = kept).content)
    }

  /**
   * Sweep every cooled (seg, shard) directory of the layout whose data
   * files include un-finalized ones, pushing those files' rows through
   * `sampler` and committing the survivors in place.
   *
   * @param now       sweep wall clock (passed in — deterministic tests)
   * @param graceDays settling window: a segment is cooled when its LAST
   *                  covered day ended at least `graceDays` before `now`
   *                  (the reference's `finalize_grace`, default 5m there;
   *                  day-granular here because segments are day-aligned)
   * @param sampler   spans → kept spans; MUST be deterministic per trace
   * @param maxRounds hard bound on re-rounds per directory (reference
   *                  `max_finalize_rounds`, default 8)
   */
  def finalizeSegments(spark: SparkSession, root: String, spec: LayoutSpec,
      sampler: DataFrame => DataFrame, now: java.time.Instant,
      graceDays: Int = 1, maxRounds: Int = 8): Seq[Report] = {
    require(graceDays >= 0 && maxRounds >= 1, "graceDays/maxRounds must be sane")
    val table = new Path(Layout.path(root, spec))
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(table)) return Nil
    // cooled = the segment's last covered epoch-day ended ≥ graceDays ago
    val horizonSeg = Layout.segFor(spec,
      now.minus(java.time.Duration.ofDays(graceDays.toLong)))
    // the segment covers [seg, seg + segmentDays) — cooled when the
    // whole window is at or before the horizon
    val dirs = Layout.shardDirs(fs, table)
      .filter { case (seg, _, _) => seg + spec.segmentDays <= horizonSeg }

    val reports = dirs.flatMap { case (seg, shard, dir) =>
      // finish a crashed earlier round before anything else
      val commit = new Path(dir, CommitName)
      if (fs.exists(commit)) Commit.replay(fs, commit)
      val staging = new Path(dir, StagingName)
      if (fs.exists(staging)) fs.delete(staging, true)
      val st = readState(fs, dir)
      val unfinalized = Layout.dataFiles(fs, dir).map(_.getPath)
        .filterNot(f => st.files(f.getName))
      if (unfinalized.isEmpty || st.rounds >= maxRounds) None
      else {
        val rows = spark.read.parquet(unfinalized.map(_.toString): _*)
        val kept = sampler(rows)
        val rowsBefore = rows.count()
        kept.write.mode("overwrite").parquet(staging.toString)
        val staged = Layout.dataFiles(fs, staging).map(_.getPath)
        val rowsAfter = spark.read.parquet(staging.toString).count()
        val newState = State(st.gen + 1, st.rounds + 1,
          st.files ++ staged.map(_.getName))
        // durable before any live file is touched, then applied
        Commit.commit(fs, commit,
          staged.map(f => Commit.Move(f, new Path(dir, f.getName))) ++
            unfinalized.map(Commit.Del) :+ Commit.State(dir, newState.content),
          "finalize")
        fs.delete(staging, true)
        Some(Report(seg, shard, newState.gen, unfinalized.length,
          rowsBefore, rowsAfter))
      }
    }
    spark.catalog.refreshByPath(Layout.path(root, spec))
    reports.sortBy(r => (r.seg, r.shard))
  }
}
