package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Lifecycle-stage routing (hot/warm/cold): one layout ROOT per stage,
 * selected at scan-build time.
 *
 * The reference attaches lifecycle `stages` to a group
 * (common/v1/common.proto:65-94 LifecycleStage; docs/concept/
 * data-model.md:26-60) and routes queries to the per-stage nodes holding
 * that tier; a background job migrates expired segments tier-to-tier
 * (banyand/backup/lifecycle/). The Spark shape: each stage is a layout
 * root on its own storage class (NVMe / object store / archive class) and
 * a query `ON (hot) STAGES` plans scans over ONLY the selected roots —
 * stage selection is directory selection, before any file is listed.
 * Within each root the usual (seg, shard) partition pruning still applies.
 */
final case class StageRoots(roots: Map[String, String]) {
  require(roots.nonEmpty, "at least one stage root required")
  def root(stage: String): String = roots.getOrElse(stage,
    throw new IllegalArgumentException(
      s"unknown lifecycle stage '$stage' (have: ${roots.keys.toSeq.sorted.mkString(",")})"))
}

object Stages {

  /** In-flight migration record, persisted as `_graft_migration` inside the
    * TARGET stage's table directory (underscore-prefixed → invisible to
    * parquet file listing, like `_SUCCESS`). The reference's lifecycle
    * migration keeps a segment live in exactly one tier by tracking segment
    * state (banyand/backup/lifecycle/); the marker is that state:
    *
    *  - `copying`:   target may hold partial data for `segs` → target reads
    *                 exclude them; source still serves them. Exactly once.
    *  - `committed`: target copy is complete → source reads exclude `segs`;
    *                 target serves them. Exactly once, before the source
    *                 delete has happened.
    *
    * A crash at any point leaves a state where every row is visible in
    * exactly one tier, and re-running [[migrate]] resumes idempotently
    * (the copy is a dynamic-partition overwrite, not an append).
    */
  private[storage] final case class Migration(
      state: String, from: String, to: String, segs: Seq[Int])

  private val MarkerName = "_graft_migration"

  private def markerPath(root: String, spec: LayoutSpec): Path =
    new Path(Layout.path(root, spec), MarkerName)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeMarker(spark: SparkSession, root: String, spec: LayoutSpec,
      m: Migration): Unit = {
    val p = markerPath(root, spec)
    Commit.writeText(fs(spark, p), p,
      s"${m.state}\n${m.from}\n${m.to}\n${m.segs.mkString(",")}\n")
  }

  private[storage] def readMarker(spark: SparkSession, root: String,
      spec: LayoutSpec): Option[Migration] = {
    val p = markerPath(root, spec)
    val f = fs(spark, p)
    if (!f.exists(p)) return None
    val lines = Commit.readText(f, p).split("\n")
    Some(Migration(lines(0), lines(1), lines(2),
      lines.lift(3).filter(_.nonEmpty).toSeq.flatMap(_.split(",")).map(_.trim.toInt)))
  }

  private def clearMarker(spark: SparkSession, root: String, spec: LayoutSpec): Unit = {
    val p = markerPath(root, spec)
    fs(spark, p).delete(p, false)
  }

  /** Per-stage segment exclusions implied by in-flight migrations: scan
    * every stage root for a marker (driver-side, one tiny file per root)
    * and fence the tier that must NOT serve the in-flight segments. */
  private def migrationExclusions(spark: SparkSession, spec: LayoutSpec,
      sr: StageRoots): Map[String, Set[Int]] =
    sr.roots.values.toSeq.distinct
      .flatMap(root => readMarker(spark, root, spec))
      .flatMap { m =>
        m.state match {
          case "copying"   => Some(m.to -> m.segs.toSet)   // target partial
          case "committed" => Some(m.from -> m.segs.toSet) // source stale
          case _           => None
        }
      }
      .groupBy(_._1).map { case (st, xs) => st -> xs.flatMap(_._2).toSet }

  /** Scan the selected stages (all stages when `stages` is empty —
    * query.proto: unspecified = query every stage). One parquet scan per
    * selected root, unioned; an unselected stage's directories are never
    * listed. Segments of an in-flight migration are excluded from the tier
    * that must not serve them (see [[Migration]]) — the exclusion is a
    * partition-column predicate, so the fenced directories are pruned at
    * file-listing time. */
  def read(spark: SparkSession, spec: LayoutSpec, sr: StageRoots,
      stages: Seq[String] = Nil): DataFrame = {
    val sel = if (stages.isEmpty) sr.roots.keys.toSeq.sorted else stages
    val excl = migrationExclusions(spark, spec, sr)
    sel.map { st =>
      val df = Layout.read(spark, sr.root(st), spec)
      excl.get(st).filter(_.nonEmpty)
        .fold(df)(s => df.filter(!col(Layout.SegCol).isin(s.toSeq.sorted: _*)))
    }.reduce(_.unionByName(_))
  }

  /** Ingest into one stage's root (writes normally land in `hot`). */
  def appendTo(df: DataFrame, stage: String, sr: StageRoots, spec: LayoutSpec,
      mode: String = "append"): Unit =
    Layout.append(df, sr.root(stage), spec, mode)

  /**
   * Lifecycle migration (banyand/backup/lifecycle/): move whole segments
   * older than the horizon from one stage tier to the next. Segment-
   * granular like TTL — the moved unit is a directory, so at scale this
   * is a copy + prefix-delete, never a row-level rewrite. Returns the
   * migrated segment ids.
   *
   * Exactly-once under concurrency AND crash-retry:
   *  1. record the in-flight segment ids (marker `copying` in the target
   *     table dir) — concurrent readers fence the target for those segs;
   *  2. copy with dynamic-partition OVERWRITE — a retried migration
   *     replaces the target segment directories instead of appending a
   *     second copy;
   *  3. flip the marker to `committed` — readers now fence the source;
   *  4. TTL the segments out of the source, drop the marker.
   *
   * `onPhase` is a test seam: invoked with "copying" / "copied" /
   * "committed" between the steps so a suite can assert mid-migration
   * visibility.
   */
  def migrate(spark: SparkSession, spec: LayoutSpec, sr: StageRoots,
      from: String, to: String, olderThan: java.time.Instant,
      onPhase: String => Unit = _ => (),
      reportDir: Option[String] = None): Seq[Int] = {
    val horizon = Layout.segFor(spec, olderThan)
    val srcTable = new Path(Layout.path(sr.root(from), spec))
    val segs = Layout.segDirs(fs(spark, srcTable), srcTable).map(_._1)
      .filter(_ < horizon).sorted
    if (segs.isEmpty) {
      // resume tail of a crashed run: source already emptied, marker left
      readMarker(spark, sr.root(to), spec) match {
        case Some(m) if m.state == "committed" && m.from == from =>
          clearMarker(spark, sr.root(to), spec)
          writeMigrationReport(spark, spec, sr, from, to, horizon, m.segs, reportDir)
          return m.segs
        case _ => return Nil
      }
    }
    writeMarker(spark, sr.root(to), spec, Migration("copying", from, to, segs))
    onPhase("copying")
    val src = Layout.read(spark, sr.root(from), spec)
      .filter(col(Layout.SegCol).isin(segs: _*))
    // rows are already routed (seg/shard are partition columns of the
    // source layout) — write them straight into the target's directories
    src.repartition(col(Layout.SegCol), col(Layout.ShardCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(Layout.SegCol, Layout.ShardCol)
      .parquet(Layout.path(sr.root(to), spec))
    spark.catalog.refreshByPath(Layout.path(sr.root(to), spec))
    onPhase("copied")
    writeMarker(spark, sr.root(to), spec, Migration("committed", from, to, segs))
    onPhase("committed")
    Layout.enforceTtl(spark, sr.root(from), spec, olderThan)
    clearMarker(spark, sr.root(to), spec)
    writeMigrationReport(spark, spec, sr, from, to, horizon, segs, reportDir)
    segs
  }

  /** Migration run report (test/cases/lifecycle/lifecycle.go:445-626
    * verifyMigrationReport/verifyAllRatesAt100): a completed migration
    * documents itself as JSON — per-resource summary with
    * total/completed/errors/completion_rate (0 when total=0, else 100 on
    * the all-or-nothing Spark job), an errors list (always empty here: a
    * failed write throws and the fencing marker keeps the target
    * invisible — there is no partially-completed success to report), and
    * snapshot_info. `rows_moved` is counted from the TARGET after commit,
    * so the report can never disagree with what readers see. */
  private def writeMigrationReport(spark: SparkSession, spec: LayoutSpec,
      sr: StageRoots, from: String, to: String, horizon: Int,
      segs: Seq[Int], reportDir: Option[String]): Unit = reportDir.foreach { rd =>
    val rows =
      if (segs.isEmpty) 0L
      else Layout.read(spark, sr.root(to), spec)
        .filter(col(Layout.SegCol).isin(segs: _*)).count()
    val rate = if (segs.isEmpty) 0.0 else 100.0
    val body =
      s"""{"report_version":"1.0",
         |"summary":{"${spec.group}":{"${spec.name}":{
         |  "total":${segs.length},"completed":${segs.length},"errors":0,
         |  "completion_rate":$rate,"rows_moved":$rows}}},
         |"errors":[],
         |"snapshot_info":{"from_stage":"$from","to_stage":"$to",
         |  "horizon_seg":$horizon,"marker":"cleared",
         |  "completed_at_ms":${System.currentTimeMillis()}}}""".stripMargin
    val p = new Path(
      s"$rd/migration-${spec.group}__${spec.name}-h$horizon.json")
    val f = fs(spark, p)
    f.mkdirs(p.getParent)
    Commit.writeText(f, p, body)
  }

  /**
   * Orphan-schema archive (test/cases/lifecycle/orphan.go; the lifecycle
   * command's `--migration-orphan-policy=archive`): a table directory
   * under a group root whose schema is NO LONGER registered cannot migrate
   * to the next tier — there is no schema to serve it there. Instead its
   * expired segments are archived as gzipped JSON-lines plus a
   * `manifest.json` of per-resource row counts (the reference's
   * `part-*.jsonl.gz` + manifest shape), then TTL'd out of the source.
   *
   * Scale shape: the archive is ONE distributed write per orphan (the
   * gzip JSONL lands partitioned, like any sink) and the source delete is
   * segment-directory unlinks — no row-level rewrite, no driver loop over
   * rows. Counts come from `spark.read.json` over what was actually
   * written, so the manifest can never disagree with the archive.
   *
   * @param registered resource names still in the schema registry (e.g.
   *                   `CatalogStore.entries(...).map(_.name)`); everything
   *                   else under the group directory is an orphan
   * @return (orphan resource name, archived row count) per orphan
   */
  def archiveOrphans(spark: SparkSession, sourceRoot: String, group: String,
      registered: Set[String], archiveDir: String,
      olderThan: java.time.Instant, segmentDays: Int = 1): Seq[(String, Long)] = {
    val groupDir = new Path(s"$sourceRoot/$group")
    val f = fs(spark, groupDir)
    if (!f.exists(groupDir)) return Nil
    val horizon = Layout.segFor(segmentDays, olderThan)
    val orphans = f.listStatus(groupDir).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(_.getPath)
      .filterNot(p => registered.contains(p.getName))
    val archived = orphans.map { table =>
      val name = table.getName
      val expired = Layout.segDirs(f, table).filter(_._1 < horizon)
      if (expired.isEmpty) name -> 0L
      else {
        // horizon-scoped output dir: a LATER run (new horizon, new expired
        // segments) lands beside earlier archives instead of overwriting
        // them — the rows deleted from the source in run 1 must survive
        // run 2. The archive is written to a temp dir and PUBLISHED BY
        // RENAME BEFORE any source delete, so a crash at any point leaves
        // either (a) both archive and source intact, or (b) a published
        // archive plus not-yet-deleted source segments. A rerun of the
        // same horizon never overwrites the published dir: it archives
        // only the expired segments the existing archive does not already
        // cover (each archived row carries its seg value) and merges them
        // in as a sub-run — no row loss, no row duplication.
        val out = s"$archiveDir/$group/$name/h$horizon"
        val outPath = new Path(out)
        val covered: Set[Int] =
          if (f.exists(outPath))
            spark.read.option("recursiveFileLookup", "true").json(out)
              .select(Layout.SegCol).distinct().collect()
              .map(_.get(0).toString.toDouble.toInt).toSet
          else Set.empty
        val toArchive = expired.map(_._1).filterNot(covered.contains)
        if (toArchive.nonEmpty) {
          val attempt = new Path(s"$out.tmp")
          f.delete(attempt, true)
          spark.read.parquet(table.toString)
            .filter(col(Layout.SegCol).isInCollection(toArchive))
            .write.mode("overwrite").option("compression", "gzip")
            .json(attempt.toString)
          f.mkdirs(outPath.getParent)
          // a publish that fails throws here, before any source delete
          Commit.rename(f, attempt,
            if (!f.exists(outPath)) outPath
            else new Path(outPath, s"run-${System.nanoTime()}"))
        }
        val rows =
          spark.read.option("recursiveFileLookup", "true").json(out).count()
        expired.foreach { case (_, dir) => f.delete(dir, true) }
        spark.catalog.refreshByPath(table.toString)
        name -> rows
      }
    }
    // manifest is horizon-scoped like the data: each run documents ITS
    // archive exactly and never rewrites a previous run's counts
    if (archived.exists(_._2 > 0L)) {
      val mPath = new Path(s"$archiveDir/$group/manifest_h$horizon.json")
      val entries = archived.filter(_._2 > 0L).map { case (n, r) =>
        s"""{"measure":"$n","rows":$r}""" }.mkString(",")
      val body =
        s"""{"measures":[$entries],"total_rows":${archived.map(_._2).sum}}"""
      Commit.writeText(fs(spark, mPath), mPath, body)
    }
    archived
  }
}
