package graft.storage

import org.apache.spark.sql.SparkSession

/**
 * Persistent catalog: resource schemas survive the session.
 *
 * The reference persists Group/Measure/Stream/Trace/Property schemas with
 * revisions in its metadata store (pkg/schema;
 * database/v1/schema.proto:105-127) — a client never re-declares a
 * resource to query it. The per-session Scala maps (`Catalog.defs`,
 * hand-built `BydbQL.Resource`s) lacked that: a fresh session had to
 * re-register every table by hand.
 *
 * Spark shape: the catalog entry (LayoutSpec + TableDef + model-specific
 * bindings) is written as JSON under `<root>/_graft_catalog/<group>__<name>`
 * whenever a resource is ingested through [[ingest]], and [[open]] turns a
 * layout root back into ready-to-query [[graft.ql.BydbQL.Resource]]s —
 * stored WITH the data, the way the bucketed path already records its
 * layout in the table catalog (Layout.saveBucketed).
 */
final case class CatalogEntry(
    group: String,
    name: String,
    entity: Seq[String],
    tsCol: String,
    tsIsNanos: Boolean = true,
    shardNum: Int = 4,
    segmentDays: Int = 1,
    versionCol: Option[String] = None,
    arrayTags: Seq[String] = Nil,
    fields: Seq[String] = Nil,
    elementIdCol: Option[String] = None,
    traceIdCol: Option[String] = None,
    spanStruct: Seq[String] = Nil,
    propertyIdCol: Option[String] = None,
    propertyRevCol: Option[String] = None,
    propertyDeletedCol: Option[String] = None,
    /** lifecycle stage → layout root (hot/warm/cold tiers). When present,
      * [[CatalogStore.open]] rebuilds the per-stage frames so `ON (...)
      * STAGES` routing survives the session like the rest of the schema. */
    stageRoots: Map[String, String] = Map.empty,
    /** ingest-time tokenization (source column → analyzer name) — part of
      * the schema exactly like the reference's IndexRule `analyzer`
      * (database/v1/schema.proto:180-189): it must survive save/open, or a
      * reopened resource would stop materializing its MATCH token columns. */
    analyzerColumns: Map[String, String] = Map.empty,
    /** tags carrying an analyzer index rule (schema.proto:180-189); a
      * MATCH on any other tag rejects. None/absent = undeclared
      * (permissive) — matching TableDef.matchableTags, and like it this
      * must survive save/open or a reopened resource would silently stop
      * validating MATCH targets. */
    matchableTags: Option[Seq[String]] = None,
    /** IndexRuleBinding effective windows (schema.proto:203-214): tag →
      * [begin_at_ms, expire_at_ms], enforced at plan time like
      * TableDef.matchableWindows. Epoch millis for JSON portability. */
    matchableWindowsMs: Map[String, Seq[Long]] = Map.empty,
    /** resource creation time (epoch millis); query begin times clamp
      * forward to it (schema_revision.go:32-49 clampTimeRangeBegin). */
    createdAtMs: Option[Long] = None,
    /** schema revision, bumped by every accepted [[CatalogStore.update]]
      * (common/v1/common.proto Metadata.mod_revision; pkg/schema/cache.go
      * tracks the latest per resource). Optional so catalogs persisted
      * BEFORE this field existed still deserialize (a missing field reads
      * as null, and a non-nullable Long would throw) — absent means
      * revision 1, see [[revision]]. */
    modRevision: Option[Long] = Some(1L),
    /** last accepted schema change (epoch millis). Equals [[createdAtMs]]
      * right after create — test/cases/schema/apply_rollback.go:121-122
      * asserts exactly that. */
    updatedAtMs: Option[Long] = None,
    /** presentation layout: tag family name → tags in declaration order
      * (database/v1/schema.proto TagFamilySpec). PURELY presentational in
      * this engine — storage is flat columns — which is exactly why a
      * tag may MOVE between families in an accepted update
      * (test/cases/schema/tag_family_move.go: data written before the
      * move stays queryable by the moved tag afterwards). Empty map =
      * undeclared (single implicit family). */
    tagFamilies: Map[String, Seq[String]] = Map.empty,
    /** optional explicit shard key (ShardingKey, database/v1/schema.proto;
      * validated ⊆ entity in order by [[LayoutSpec]]) — must survive
      * save/open or a reopened resource would re-route writes by the
      * default entity key and split series across shards. */
    shardingKey: Seq[String] = Nil) {

  /** Null-guarded family layout (catalogs persisted before the field
    * existed deserialize it as null). */
  def families: Map[String, Seq[String]] = Option(tagFamilies).getOrElse(Map.empty)

  /** Effective mod revision (pre-revision catalogs read as 1). */
  def revision: Long = modRevision.getOrElse(1L)

  def spec: LayoutSpec = LayoutSpec(group, name, entity, tsCol, tsIsNanos,
    shardNum, segmentDays, analyzerColumns,
    // null-guard: catalogs persisted before the field deserialize it null
    shardingKey = Option(shardingKey).getOrElse(Nil))

  def tdef: graft.sources.TableDef = graft.sources.TableDef(name,
    entity = entity, tsCol = Some(tsCol), versionCol = versionCol,
    arrayTags = arrayTags.toSet,
    // Option(...) guards: a catalog persisted BEFORE these fields existed
    // deserializes them as null (the JSON column is absent), and must read
    // as "undeclared", not NPE
    matchableTags = Option(matchableTags).flatten.map(_.toSet),
    matchableWindows = Option(matchableWindowsMs).getOrElse(Map.empty).collect {
      case (tag, Seq(b, e)) => tag -> (java.time.Instant.ofEpochMilli(b),
        java.time.Instant.ofEpochMilli(e))
    },
    createdAt = createdAtMs.map(java.time.Instant.ofEpochMilli))
}

object CatalogStore {

  private val CatalogDir = "_graft_catalog"

  private def entryPath(root: String, group: String, name: String): String =
    s"$root/$CatalogDir/${group}__$name"

  /** Persist one resource's catalog entry under the layout root.
    *
    * Crash-safe overwrite, NOT Spark's delete-then-write `mode(overwrite)`:
    * the entry renders through the same Spark JSON encoder reads use, but
    * lands as a single file written to a dot-prefixed temp name (invisible
    * to Spark's listing), atomically renamed to `entry-<rev>-<uuid>.json`,
    * and only THEN are the previous entry files retired. A reader
    * therefore always sees at least one complete entry during an update
    * (old, new, or both — [[get]] picks the max revision), and a save that
    * crashes mid-way leaves the old entry intact instead of the
    * "marker present, entry unreadable" stuck state the delete-then-write
    * shape could strand (the reference's etcd put is atomic; this is the
    * file-backed equivalent). */
  def save(spark: SparkSession, root: String, e: CatalogEntry): Unit = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val json = Seq(e).toDS().toJSON.collect().head
    val dir = new Path(entryPath(root, e.group, e.name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val id = java.util.UUID.randomUUID().toString
    val tmp = new Path(dir, s".tmp-$id")
    val out = fs.create(tmp, false)
    try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
    val fin = new Path(dir, f"entry-${e.revision}%019d-$id.json")
    Commit.rename(fs, tmp, fin)
    // the new entry is durable and visible: retire everything else in the
    // dir (older entry files, orphaned temps, pre-round part-file layouts)
    fs.listStatus(dir).foreach { st =>
      if (st.getPath.getName != fin.getName) fs.delete(st.getPath, st.isDirectory)
    }
  }

  /** Pick the authoritative entry when a read races a save and observes
    * both the old and the new file: max revision wins (ties — e.g. two
    * re-`ingest` saves of the same schema — break on updated_at then
    * arbitrary-but-deterministic field order). Rows with a null
    * group/name are PERMISSIVE-mode corruption artifacts of a torn
    * concurrent write and are never authoritative. */
  private def freshest(rows: Seq[CatalogEntry]): Option[CatalogEntry] =
    rows.filter(r => r.group != null && r.name != null)
      .sortBy(r => (r.revision, r.updatedAtMs.getOrElse(0L)))
      .lastOption

  /** Retry a catalog read that raced a concurrent `save` overwrite: the
    * read plans against a file listing, overwrite deletes those parts, and
    * the deferred scan throws FILE_NOT_EXIST / FileNotFoundException. The
    * reference reads the etcd registry as an atomic snapshot; the
    * file-backed store approximates that by re-reading — every retry
    * observes either the old or the new entry, both valid linearization
    * points. Non-listing failures rethrow immediately. */
  private def isStaleListing(t: Throwable): Boolean = t != null && (
    t.isInstanceOf[java.io.FileNotFoundException] ||
      Option(t.getMessage).exists(_.contains("FAILED_READ_FILE")) ||
      // the dir passed fs.exists but the overwrite removed it before
      // spark.read's own listing ran — same transient, different shape
      Option(t.getMessage).exists(_.contains("PATH_NOT_FOUND")) ||
      isStaleListing(t.getCause))

  private def retryingStaleRead[A](attempts: Int = 5)(read: => A): A = {
    var left = attempts
    while (true) {
      try return read catch {
        case t: Throwable if isStaleListing(t) && left > 1 =>
          left -= 1
          Thread.sleep(20L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One entry by (group, name), if registered — a direct read of that
    * entry's own directory (the path is addressable), NOT a scan of the
    * whole catalog: registry mutations stay O(1) in the resource count.
    *
    * Existence alone cannot distinguish "deleted" from "mid-create":
    * [[create]] stamps its `.created` marker before [[save]] lands the
    * first entry file, so a concurrent reader can observe the directory
    * present but still empty for that (now sub-second, driver-side)
    * window — the registry watch once surfaced this as a false `deleted`
    * event. The marker disambiguates: it is written once at [[create]],
    * survives every overwrite, and is removed only by [[delete]] — so
    * "marker present, entry unreadable" is a transient create window to
    * ride out, and "marker absent" is a true None. UPDATES have no such
    * window at all since save() became write-new-then-retire-old: a
    * reader always sees at least one complete entry file mid-update. A
    * window that persists past the deadline means a create crashed
    * between its marker and first save — surfaced loudly rather than
    * misread as a registry delete. */
  def get(spark: SparkSession, root: String, group: String, name: String): Option[CatalogEntry] = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = new Path(entryPath(root, group, name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(dir.toString + ".created")
    val deadline = System.currentTimeMillis() + 2000L
    while (true) {
      // under CONTINUOUS save churn one read can straddle several
      // consecutive overwrites and exhaust retryingStaleRead's fixed
      // attempts — that exhaustion is the same transient the marker
      // deadline loop already rides out, so fold it into this loop
      // instead of letting it escape as an error
      val read: Option[CatalogEntry] =
        if (!fs.exists(dir)) None
        else try retryingStaleRead() {
          freshest(spark.read
            .schema(implicitly[org.apache.spark.sql.Encoder[CatalogEntry]].schema)
            .json(dir.toString).as[CatalogEntry].collect().toSeq)
        } catch { case t: Throwable if isStaleListing(t) => None }
      read match {
        case some @ Some(_) => return some
        case None if !fs.exists(marker) => return None
        case None if System.currentTimeMillis() >= deadline =>
          throw new IllegalStateException(
            s"catalog entry $group/$name unreadable: create marker present " +
              "but no entry after 2s — a create crashed before its first " +
              "save; delete() clears the stuck marker and makes the " +
              "resource re-creatable")
        case None => Thread.sleep(20L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /**
   * Registry create (MeasureRegistryService.Create and siblings): stamps
   * `mod_revision` and `created_at = updated_at` (apply_rollback.go:104-122
   * asserts revision > 0 and the timestamp equality on first create; a
   * caller-supplied backdated createdAtMs stamps BOTH so the invariant
   * holds). Creating an already-registered resource is an error — the
   * reference registry returns AlreadyExists via an atomic etcd txn; here
   * the atomicity guard is a `FileSystem.createNewFile` marker (atomic on
   * HDFS and local fs): two concurrent creates both pass the readback
   * check, but only one wins the marker — the loser gets AlreadyExists
   * instead of silently last-write-wins.
   */
  def create(spark: SparkSession, root: String, e: CatalogEntry,
      nowMs: Long = System.currentTimeMillis()): CatalogEntry = {
    if (get(spark, root, e.group, e.name).isDefined)
      throw new IllegalArgumentException(
        s"resource ${e.group}/${e.name} already exists")
    val created = e.createdAtMs.getOrElse(nowMs)
    // Tombstone invariant (test/cases/schema/tombstone_gc.go Step 1.3):
    // while a delete tombstone is retained, a recreate must stamp
    // created_at AFTER the recorded delete_time. A normal recreate
    // (created = now) always satisfies this — the server stamps now() >
    // T_del — so only a BACKDATED createdAtMs at or before the tombstone
    // rejects. Old data written before the delete then stays hidden by
    // the Rule-7 CreatedAt clamp (shape_break.go:262-266).
    val tomb = tombstoneInfo(spark, root, e.group, e.name)
    tomb.foreach { case (tDel, _) =>
      if (created <= tDel)
        throw new IllegalArgumentException(
          s"tombstone invariant: created_at ($created ms) must be after " +
            s"delete_time ($tDel ms) of ${e.group}/${e.name}")
    }
    val marker = new org.apache.hadoop.fs.Path(
      entryPath(root, e.group, e.name) + ".created")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mfs.mkdirs(marker.getParent)
    if (!mfs.createNewFile(marker))
      throw new IllegalArgumentException(
        s"resource ${e.group}/${e.name} already exists")
    // mod_revision stays MONOTONE across a delete+recreate while the
    // tombstone is retained (the reference's revisions are etcd-global and
    // never restart — shape_break.go's stale-write rejection after a
    // recreate depends on R2 > R1): the tombstone records the deleted
    // lineage's last revision and the recreate continues past it. After
    // tombstone GC the lineage info is gone and the revision restarts at 1
    // — by then no client can hold a pre-delete schema within retention.
    val baseRev = tomb.fold(0L)(_._2)
    val stamped = e.copy(modRevision = Some(baseRev + 1),
      createdAtMs = Some(created), updatedAtMs = Some(created))
    save(spark, root, stamped)
    stamped
  }

  /**
   * Registry update with APPLY-ROLLBACK semantics (test/cases/schema/
   * apply_rollback.go:134-223): a schema change that alters the ENTITY is
   * rejected with an error and the stored schema — revision, created_at,
   * updated_at, every field — stays byte-identical (validation runs before
   * any write, so rejection is trivially atomic). An accepted update bumps
   * `mod_revision`, preserves `created_at`, and stamps `updated_at`.
   *
   * SINGLE-WRITER ASSUMPTION: unlike the reference's etcd compare-and-swap,
   * the read-bump-write here is not atomic — two concurrent updates to the
   * SAME resource can lose a revision bump. Schema mutation in this library
   * is a driver-side admin operation (one writer per registry), matching
   * how the bench and tests use it; a multi-writer deployment would need a
   * CAS-capable store behind `save`.
   */
  def update(spark: SparkSession, root: String, e: CatalogEntry,
      nowMs: Long = System.currentTimeMillis()): CatalogEntry = {
    val prev = get(spark, root, e.group, e.name).getOrElse(
      throw new IllegalArgumentException(s"resource ${e.group}/${e.name} not found"))
    if (e.entity != prev.entity)
      throw new IllegalArgumentException(
        s"entity of ${e.group}/${e.name} is immutable " +
          s"(${prev.entity.mkString(",")} -> ${e.entity.mkString(",")}): update rejected")
    val stamped = e.copy(modRevision = Some(prev.revision + 1),
      createdAtMs = prev.createdAtMs, updatedAtMs = Some(nowMs))
    save(spark, root, stamped)
    stamped
  }

  /** Registry delete: drops the entry; returns whether anything existed
    * (DeleteMeasure returns deleted=true, apply_rollback.go:376-380). The
    * DATA under the layout root stays — schema deletion and segment TTL
    * are separate lifecycles in the reference too; a recreate hides the
    * old rows through the Rule-7 CreatedAt clamp rather than a rewrite.
    *
    * A successful delete also stamps a TOMBSTONE recording delete_time
    * (tombstone_gc.go; the schema server's
    * `--schema-server-tombstone-retention` window): [[deleteTime]] reads
    * it back, [[create]] enforces created_at > delete_time against it,
    * and [[gcTombstones]] purges it after retention. */
  def delete(spark: SparkSession, root: String, group: String, name: String,
      nowMs: Long = System.currentTimeMillis()): Boolean = {
    // delete is the REPAIR PATH for a crashed create (marker stamped,
    // entry never written — get() surfaces that state as an
    // IllegalStateException after its deadline): fold it into "no
    // readable entry" so the delete below clears the stuck marker and
    // the resource becomes re-creatable, instead of the repair action
    // itself throwing.
    val lastRev =
      try get(spark, root, group, name).map(_.revision)
      catch { case _: IllegalStateException => None }
    val p = new org.apache.hadoop.fs.Path(entryPath(root, group, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // drop the create-lock marker too, so delete → create is re-creatable
    fs.delete(new org.apache.hadoop.fs.Path(p.toString + ".created"), false)
    val existed = fs.delete(p, true)
    if (existed) {
      val t = new org.apache.hadoop.fs.Path(tombstonePath(root, group, name))
      fs.mkdirs(t.getParent)
      Commit.writeText(fs, t, s"$nowMs ${lastRev.getOrElse(0L)}")
    }
    existed
  }

  private def tombstonePath(root: String, group: String, name: String): String =
    s"$root/$CatalogDir/_tombstones/${group}__$name"

  /** delete_time (epoch millis) of a retained tombstone, if one exists
    * (DeleteResponse.delete_time; tombstone_gc.go asserts it > 0). */
  def deleteTime(spark: SparkSession, root: String, group: String, name: String): Option[Long] =
    tombstoneInfo(spark, root, group, name).map(_._1)

  /** (delete_time_ms, last mod_revision of the deleted lineage). */
  private def tombstoneInfo(spark: SparkSession, root: String, group: String,
      name: String): Option[(Long, Long)] = {
    val t = new org.apache.hadoop.fs.Path(tombstonePath(root, group, name))
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(t)) None
    else {
      val parts = Commit.readText(fs, t).trim.split(" ")
      Some((parts(0).toLong, if (parts.length > 1) parts(1).toLong else 0L))
    }
  }

  /** Tombstone GC (tombstone_gc.go:132 "physically removes tombstone
    * after retention"): purge tombstones whose delete_time is older than
    * `retentionMs`; a later recreate then runs with no tombstone
    * constraint at all. Returns the (group, name) pairs purged. Driver
    * FileSystem metadata only — the tombstone set is bounded by deleted
    * resources, not data. */
  def gcTombstones(spark: SparkSession, root: String, retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[(String, String)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/$CatalogDir/_tombstones")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val parts = st.getPath.getName.split("__", 2)
      if (parts.length != 2) None
      else deleteTime(spark, root, parts(0), parts(1)) match {
        case Some(tDel) if nowMs - tDel > retentionMs =>
          fs.delete(st.getPath, false)
          Some((parts(0), parts(1)))
        case _ => None
      }
    }.sortBy(identity)
  }

  /** Ingest through the layout AND record the schema — the write path a
    * client actually uses (the reference's write RPC requires the schema
    * to exist; here the two land together). */
  def ingest(df: org.apache.spark.sql.DataFrame, root: String, e: CatalogEntry,
      mode: String = "append"): Unit = {
    Layout.append(df, root, e.spec, mode)
    save(df.sparkSession, root, e)
  }

  /** All catalog entries recorded under a root: ONE json read over every
    * entry directory (one Spark job total, not one per entry — at a
    * thousand registered resources a per-entry job loop is a thousand
    * driver round-trips for kilobytes of metadata). */
  def entries(spark: SparkSession, root: String): Seq[CatalogEntry] = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = new Path(s"$root/$CatalogDir")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    // underscore-prefixed dirs are catalog INTERNALS (_tombstones), not
    // resource entries
    val dirs = fs.listStatus(dir)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.toString)
    if (dirs.isEmpty) return Nil
    retryingStaleRead() {
      spark.read
        .schema(implicitly[org.apache.spark.sql.Encoder[CatalogEntry]].schema)
        .json(dirs: _*).as[CatalogEntry].collect().toSeq
        // a scan racing a save can see both the old and new entry file of
        // one resource — collapse to the freshest, same rule as get()
        .groupBy(e => (e.group, e.name)).values
        .flatMap(rows => freshest(rows.toSeq)).toSeq
        .sortBy(e => (e.group, e.name))
    }
  }

  /** Open a layout root as ready-to-query resources — no manual
    * registration. Keys: both `name` and `group/name` (the resolution
    * order BydbQL.resolve expects). */
  def open(spark: SparkSession, root: String): Map[String, graft.ql.BydbQL.Resource] =
    openAll(spark, Seq(root))

  /** Multi-root open: one deployment commonly spreads groups over several
    * roots (per-tenant buckets, per-stage storage classes); the merged map
    * is queryable as one namespace. Later roots win on key collisions, the
    * same last-writer rule a re-`save` has within one root. */
  def open(spark: SparkSession, roots: Seq[String]): Map[String, graft.ql.BydbQL.Resource] =
    openAll(spark, roots)

  private def openAll(spark: SparkSession,
      roots: Seq[String]): Map[String, graft.ql.BydbQL.Resource] =
    roots.flatMap { root =>
      entries(spark, root).flatMap { e =>
        // stage reads route through Stages.read so migration fencing
        // (Stages.Migration) applies to catalog-opened resources too
        val sr = if (e.stageRoots.nonEmpty) Some(StageRoots(e.stageRoots)) else None
        val stageDfs = sr.fold(Map.empty[String, org.apache.spark.sql.DataFrame]) { s =>
          e.stageRoots.keys.map(st => st -> Stages.read(spark, e.spec, s, Seq(st))).toMap
        }
        val res = graft.ql.BydbQL.Resource(
          df = sr.fold(Layout.read(spark, root, e.spec))(s => Stages.read(spark, e.spec, s)),
          tdef = e.tdef,
          stageDfs = stageDfs,
          fields = e.fields.toSet,
          elementIdCol = e.elementIdCol,
          traceIdCol = e.traceIdCol,
          spanStruct = e.spanStruct,
          propertyIdCol = e.propertyIdCol,
          propertyRevCol = e.propertyRevCol,
          propertyDeletedCol = e.propertyDeletedCol)
        Seq(e.name -> res, s"${e.group}/${e.name}" -> res)
      }
    }.toMap
}
