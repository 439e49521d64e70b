package graft.storage

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._

/**
 * Physical storage layout: one parquet dataset per (group, resource),
 * hive-partitioned by `seg` (time segment) and `shard` (entity hash).
 *
 * Mirrors the reference's group resource options — `shard_num`,
 * `segment_interval`, `ttl` (common/v1/common.proto:96-189) — and its
 * entity→shard write routing (banyand/liaison/grpc/measure.go:304
 * publishToNodes): a data point lands in segment = its time bucket and
 * shard = hash(entity) % shard_num.
 *
 * The 100 TB story: an entity-EQ query computes the shard id at PLAN time
 * (same hash, evaluated driver-side) and a time range maps to a segment
 * range, so the parquet scan only lists `seg∈range ∧ shard=h` directories —
 * partition pruning does what the reference's series index + segment
 * selection do (banyand/measure/query.go:314 searchSeriesList). Within one
 * (seg, shard) all rows of a series are co-located, so the latest-version
 * window and entity group-bys see pre-clustered input.
 */
final case class LayoutSpec(
    group: String,
    name: String,
    /** entity = series key, docs/concept/data-model.md:382-391. */
    entity: Seq[String],
    /** event-time column in the source frame. */
    tsCol: String,
    /** true when tsCol holds raw epoch nanos as long (testdata events). */
    tsIsNanos: Boolean = true,
    /** shard_num, common/v1/common.proto. */
    shardNum: Int = 4,
    /** segment_interval in days. */
    segmentDays: Int = 1,
    /** Ingest-time tokenization (source column → analyzer name): the
      * reference tokenizes ONCE at index build (pkg/index/inverted/), not
      * per query; the layout analogue is a materialized token column
      * `<col>__<analyzer>_tokens` written with the data. MATCH criteria
      * on such a column then filter the stored array instead of
      * re-running the analyzer over 100 TB of text per query
      * (CriteriaTranslator picks the materialized column up by name). */
    analyzerColumns: Map[String, String] = Map.empty,
    /** Optional explicit shard key, defaulting to the entity
      * (docs/concept/storage-and-format.md:102; database/v1/schema.proto
      * ShardingKey). Reference 0.11 validates every sharding-key tag
      * exists in the entity IN THE SAME RELATIVE ORDER
      * (api/validate/validate.go:226-255 CheckShardingKeySubset) so all
      * rows of a series stay shard-local; a SINGLE entity tag is exempt
      * (it may be a composite id already encoding the sharding fields,
      * e.g. OAP's entity_id). */
    shardingKey: Seq[String] = Nil) {
  require(entity.nonEmpty, "layout requires a non-empty entity")
  require(shardNum > 0 && segmentDays > 0, "shardNum and segmentDays must be positive")
  if (shardingKey.nonEmpty && entity.length > 1) {
    val pos = entity.zipWithIndex.toMap
    shardingKey.foldLeft(-1) { (prev, tag) =>
      val p = pos.getOrElse(tag, throw new IllegalArgumentException(
        s"ShardingKey tag '$tag' is not present in Entity tags ${entity.mkString("[", ",", "]")}"))
      if (p <= prev) throw new IllegalArgumentException(
        s"ShardingKey ${shardingKey.mkString("[", ",", "]")} is not in the same " +
          s"relative order as Entity tags ${entity.mkString("[", ",", "]")}")
      p
    }
    ()
  }
  /** columns shard routing hashes: the sharding key when declared, else
    * the entity. */
  def routingKey: Seq[String] = if (shardingKey.nonEmpty) shardingKey else entity
}

object Layout {

  val SegCol = "seg"
  val ShardCol = "shard"

  def path(root: String, spec: LayoutSpec): String =
    s"$root/${spec.group}/${spec.name}"

  /** Exact integer FLOOR division (a - pmod makes the numerator an exact
    * multiple, so `DIV`'s truncation can't disagree with floor) — must
    * match [[segFor]]'s Math.floorDiv on the read path exactly, or
    * pre-1970 timestamps land in a partition the plan-time segment
    * predicate never lists. */
  private def floorDivCol(a: Column, b: Long): Column =
    call_function("div", a - pmod(a, lit(b)), lit(b))

  /** Epoch-day segment bucket (floored to segmentDays). */
  private def segOf(spec: LayoutSpec): Column = {
    val days =
      if (spec.tsIsNanos) floorDivCol(col(spec.tsCol).cast("long"), 86400L * 1000000000L)
      else floorDivCol(expr(s"CAST(unix_timestamp(${spec.tsCol}) AS BIGINT)"), 86400L)
    (days - pmod(days, lit(spec.segmentDays.toLong))).cast("int")
  }

  /** Shard id = xxhash64(routing key...) mod shardNum — same expression on
    * the write path and (driver-evaluated) on the read path. The routing
    * key defaults to the entity; a declared sharding key is a validated
    * SUBSET of it (same order), so series locality holds either way. */
  private def shardOf(spec: LayoutSpec): Column =
    pmod(xxhash64(spec.routingKey.map(col): _*), lit(spec.shardNum.toLong)).cast("int")

  /** Driver-side shard id for concrete entity values, via Spark's own
    * XxHash64 so it can never drift from the written partition values.
    * With a declared sharding key, the hashed values are the sharding-key
    * POSITIONS of the given entity values (subset rule). */
  def shardFor(spec: LayoutSpec, entityValues: Seq[Any]): Int =
    shardForOpt(spec, entityValues).getOrElse(throw new IllegalArgumentException(
      s"sharding key ${spec.shardingKey.mkString("[", ",", "]")} is not " +
        s"derivable from entity tags ${spec.entity.mkString("[", ",", "]")} — " +
        "shard pruning needs the full routing key"))

  /** [[shardFor]] that reports non-derivability instead of throwing.
    * `None` arises only under the single-entity-tag sharding-key
    * EXEMPTION (validate.go:226-255 skips the subset check when
    * `len(entity) == 1`): a spec like entity=[entity_id],
    * shardingKey=[service_id] is legal, but an entity-EQ query supplies
    * no service_id value, so the row's shard cannot be computed —
    * callers must fall back to an unpruned scan. */
  def shardForOpt(spec: LayoutSpec, entityValues: Seq[Any]): Option[Int] = {
    require(entityValues.length == spec.entity.length,
      s"expected ${spec.entity.length} entity values, got ${entityValues.length}")
    val byTag = spec.entity.zip(entityValues).toMap
    val routed = spec.routingKey.map(byTag.get)
    if (routed.exists(_.isEmpty)) None
    else {
      val h = XxHash64(routed.map(v => Literal(v.get)), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
      val m = h % spec.shardNum
      Some((if (m < 0) m + spec.shardNum else m).toInt)
    }
  }

  /** Column form of the segment bucket for callers outside the write path
    * (e.g. tests proving migration moved exactly the right rows). */
  def segExprFor(spec: LayoutSpec): Column = segOf(spec)

  /** Epoch-day segment bucket for a concrete instant. */
  def segFor(spec: LayoutSpec, t: java.time.Instant): Int = segFor(spec.segmentDays, t)

  /** [[segFor]] for a bare segment interval, for callers with no spec. */
  def segFor(segmentDays: Int, t: java.time.Instant): Int = {
    val days = Math.floorDiv(t.getEpochSecond, 86400L)
    val aligned = days - Math.floorMod(days, segmentDays.toLong)
    // saturate: an extreme query bound (Instant.MAX/MIN) must clamp to the
    // widest segment filter, not wrap Int and silently exclude segments
    if (aligned > Int.MaxValue) Int.MaxValue
    else if (aligned < Int.MinValue) Int.MinValue
    else aligned.toInt
  }

  /** Epoch nanos of an instant, SATURATING: stored timestamps are int64
    * nanos (the reference's representable span, ~1677..2262), and an
    * instant outside it clamps to Long.MinValue/MaxValue instead of
    * overflowing into a sign flip — the stream golden "invalid time range"
    * case spans [minInt64 ns, maxInt64 ns] and must return everything. */
  def epochNanos(t: java.time.Instant): Long =
    try Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000000L), t.getNano.toLong)
    catch { case _: ArithmeticException =>
      if (t.getEpochSecond < 0) Long.MinValue else Long.MaxValue }

  /** Every `seg=N` directory of a layout table as (seg, dir); none when
    * the table does not exist. The one parser of the directory names. */
  private[storage] def segDirs(fs: FileSystem, table: Path): Seq[(Int, Path)] =
    if (!fs.exists(table)) Nil
    else fs.listStatus(table).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(s"$SegCol=") =>
        (st.getPath.getName.stripPrefix(s"$SegCol=").toInt, st.getPath)
    }

  /** Every `seg=N/shard=M` directory of a layout table as (seg, shard, dir). */
  private[storage] def shardDirs(fs: FileSystem, table: Path): Seq[(Int, Int, Path)] =
    for {
      (seg, segDir) <- segDirs(fs, table)
      st <- fs.listStatus(segDir).toSeq
      if st.isDirectory && st.getPath.getName.startsWith(s"$ShardCol=")
    } yield (seg, st.getPath.getName.stripPrefix(s"$ShardCol=").toInt, st.getPath)

  /** The data files of a directory: names starting `_` or `.` are
    * metadata (`_SUCCESS`, checksums, manifests, state), as in Spark's
    * own file listing. */
  private[storage] def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { f =>
      val name = f.getPath.getName
      f.isFile && !name.startsWith("_") && !name.startsWith(".")
    }

  /** Batch append (S7 write path): route every row to its (seg, shard)
    * directory. Rows with a null entity component are rejected, as the
    * reference rejects writes without a full series key.
    *
    * The pre-write repartition on the routing columns means each (seg,
    * shard) directory is written by exactly one task — without it every
    * input task opens a writer per directory it touches, producing
    * tasks × partitions small files (the classic small-files blowup at
    * scale, and 10× slower even locally). */
  def append(df: DataFrame, root: String, spec: LayoutSpec,
      mode: String = "append"): Unit =
    routed(df, spec)
      .repartition(col(SegCol), col(ShardCol))
      .write.mode(mode)
      .partitionBy(SegCol, ShardCol).parquet(path(root, spec))

  /** Materialized analyzer-token column name for (column, analyzer). */
  def tokenColName(column: String, analyzer: String): String =
    s"${column}__${analyzer}_tokens"

  /** df + derived (seg, shard) routing columns; null-entity rows rejected. */
  private[storage] def routed(df: DataFrame, spec: LayoutSpec): DataFrame = {
    val missing = (spec.entity ++ spec.routingKey).distinct
      .filterNot(df.columns.contains) ++
      (if (df.columns.contains(spec.tsCol)) Nil else Seq(spec.tsCol))
    require(missing.isEmpty, s"write missing required columns: ${missing.mkString(",")}")
    val fullEntity = spec.entity.map(col(_).isNotNull).reduce(_ && _)
    // assert_true yields NULL on success and raises on violation; the filter
    // keeps it in the plan so every row is checked.
    var out = df.withColumn("__chk",
        assert_true(fullEntity, lit(s"write rejected: null entity ${spec.entity.mkString(",")}")))
      .filter(col("__chk").isNull)
      .drop("__chk")
    // ingest-time tokenization (index materialization, pkg/index/inverted/)
    spec.analyzerColumns.foreach { case (c, analyzer) =>
      out = out.withColumn(tokenColName(c, analyzer),
        graft.functions.Analyzers.byName(analyzer)(col(c)))
    }
    out.withColumn(SegCol, segOf(spec))
      .withColumn(ShardCol, shardOf(spec))
  }

  /** Full-table read (partition columns `seg`/`shard` retained). */
  def read(spark: SparkSession, root: String, spec: LayoutSpec): DataFrame =
    spark.read.parquet(path(root, spec))

  /**
   * TTL enforcement (the `ttl` group option, common/v1/common.proto:96-189;
   * the reference's segment retention in banyand/internal/storage). Drops
   * whole segment directories older than the horizon — segment-granular
   * deletes are the point of time-partitioned layouts: expiry is a
   * directory unlink (an object-store prefix delete at scale), never a
   * row-level rewrite. Returns the dropped segment ids.
   */
  def enforceTtl(spark: SparkSession, root: String, spec: LayoutSpec,
      olderThan: java.time.Instant): Seq[Int] = {
    val horizon = segFor(spec, olderThan)
    val table = new Path(path(root, spec))
    // Hadoop FileSystem, not java.io.File — retention must work against
    // whatever store the path's scheme names (s3a/gs/hdfs/file), where a
    // segment drop is a prefix delete.
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(table)) return Nil
    val expired = segDirs(fs, table).filter(_._1 < horizon)
    expired.foreach { case (_, dir) => fs.delete(dir, true) }
    // a session that already listed this table may hold deleted files in
    // its FileStatusCache — drop them so the next scan re-lists
    spark.catalog.refreshByPath(path(root, spec))
    expired.map(_._1).sorted
  }

  /**
   * Small-file compaction (the reference's background part merge,
   * banyand/internal/storage — parts accrete per flush and a merger
   * rewrites many small parts into one): rewrite every (seg, shard)
   * directory whose file count exceeds `maxFiles` into
   * ceil(bytes / targetBytes) files. Steady ingest otherwise accretes
   * one file per micro-batch per directory, and at 100 TB the scan's
   * file-listing and per-file open cost come to dominate the read path —
   * compaction is the maintenance op that keeps a layout scannable.
   *
   * Crash safety — the rewrite never deletes a row's only copy: compacted
   * output is staged to a sibling `.compact-staging` directory (a separate
   * Spark job commit, so the victim directories are read-only inputs),
   * then a `.compact-commit` manifest records the exact file moves and
   * old-file deletes before any live directory is touched. A crash before
   * the manifest exists leaves the old layout untouched (staging garbage
   * is swept on the next run); a crash after it is completed by the next
   * run's replay of the manifest ([[Commit]], shared with
   * [[Finalize.finalizeSegments]]; a move that fails throws and keeps the
   * manifest) — exactly-once via the manifest, the same
   * generation-stamp discipline as [[Stages]].migrate. Like the
   * reference's part merger this assumes one MAINTAINER per table (the
   * CatalogStore single-writer rule); a concurrent READER can transiently
   * observe a partition holding both old and new files between the move
   * and delete steps — snapshot the file listing (or pause maintenance)
   * for externally consistent reads, as with any non-transactional
   * object-store layout. Row content is untouched — same data, fewer
   * files.
   *
   * @return (seg, shard, filesBefore, filesAfter) per compacted directory
   */
  def compactSegments(spark: SparkSession, root: String, spec: LayoutSpec,
      targetBytes: Long = 128L << 20, maxFiles: Int = 1): Seq[(Int, Int, Int, Int)] = {
    require(targetBytes > 0 && maxFiles >= 1, "targetBytes/maxFiles must be positive")
    val table = new Path(path(root, spec))
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(table)) return Nil
    val stagingRoot = new Path(table, ".compact-staging")
    val marker = new Path(table, ".compact-commit")
    // complete a crashed commit first (replay finishes exactly the
    // interrupted compaction, or throws and keeps it), then sweep staging
    if (fs.exists(marker)) Commit.replay(fs, marker)
    if (fs.exists(stagingRoot)) fs.delete(stagingRoot, true)

    val victims = shardDirs(fs, table).flatMap { case (seg, shard, dir) =>
      val files = dataFiles(fs, dir)
      val bytes = files.map(_.getLen).sum
      val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (files.length > maxFiles) Some((seg, shard, dir, files.length, n)) else None
    }
    if (victims.isEmpty) return Nil
    // one job rewrites all victim directories: read ONLY those directories
    // (basePath keeps the partition columns), bin each directory's rows
    // into its own ceil(bytes/targetBytes) output files (broadcast bin
    // counts, entity-hash binning keeps a series co-located), and stage
    // the result BESIDE the live tree. Non-victim directories are never
    // read or touched; victim directories stay pure inputs of this job.
    import spark.implicits._
    val bins = victims.map(v => (v._1, v._2, v._5))
      .toDF(SegCol, ShardCol, "__nbins")
    spark.read
      .option("basePath", path(root, spec))
      .parquet(victims.map(_._3.toString): _*)
      .join(broadcast(bins), Seq(SegCol, ShardCol))
      .withColumn("__bin",
        pmod(xxhash64(spec.entity.map(col): _*), col("__nbins").cast("long")))
      .repartition(victims.map(_._5).sum, col(SegCol), col(ShardCol), col("__bin"))
      .drop("__nbins", "__bin")
      .write.mode("overwrite")
      .partitionBy(SegCol, ShardCol)
      .parquet(stagingRoot.toString)
    // the commit: move every staged data file into its live directory
    // (job-unique part names cannot clash with live files), then delete
    // the superseded old files
    val steps = victims.flatMap { case (seg, shard, live, _, _) =>
      val staged = dataFiles(fs, new Path(stagingRoot, s"$SegCol=$seg/$ShardCol=$shard"))
        .map(_.getPath)
      val old = dataFiles(fs, live).map(_.getPath)
      // fully-finalized directories stay finalized across the rewrite
      // (mixed ones re-enter the sweep); committed with the same manifest
      staged.map(f => Commit.Move(f, new Path(live, f.getName))) ++
        old.map(Commit.Del) ++
        Finalize.compactedStateContent(fs, live, old.map(_.getName).toSet, staged.map(_.getName))
          .map(Commit.State(live, _))
    }
    Commit.commit(fs, marker, steps, "compact")
    fs.delete(stagingRoot, true)
    spark.catalog.refreshByPath(path(root, spec))
    victims.map { case (seg, shard, dir, before, _) =>
      (seg, shard, before, dataFiles(fs, dir).length)
    }.sortBy(v => (v._1, v._2))
  }

  /**
   * Catalog-backed bucketed form of the layout: partitioned by `seg` and
   * BUCKETED (not just directory-sharded) by the entity, sorted within
   * buckets by (entity, ts). Because bucketing is recorded in the table
   * catalog, Catalyst knows the data is hash-clustered on the entity —
   * entity group-bys, version-dedup windows, and entity co-located joins
   * plan WITHOUT an exchange. This is the at-scale answer to "why does
   * the reference sort parts by (seriesID, ts)": pre-clustering replaces
   * the per-query shuffle.
   */
  def saveBucketed(df: DataFrame, tableName: String, spec: LayoutSpec): Unit =
    routed(df, spec)
      .repartition(spec.shardNum, spec.entity.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(SegCol)
      .bucketBy(spec.shardNum, spec.entity.head, spec.entity.tail: _*)
      .sortBy(spec.entity.head, (spec.entity.tail :+ spec.tsCol): _*)
      .format("parquet")
      .saveAsTable(tableName)

  /**
   * Entity-EQ scan: the shard id becomes a LITERAL partition predicate and
   * the time range a segment range, so file listing prunes to
   * |segments in range| × 1 shard directory out of segments × shardNum.
   */
  def entityScan(spark: SparkSession, root: String, spec: LayoutSpec,
      entityValues: Seq[Any],
      timeRange: Option[(java.time.Instant, java.time.Instant)] = None): DataFrame = {
    // Shard pruning when the routing key is derivable from the entity
    // values; under the single-entity-tag sharding-key exemption it is
    // not (see [[shardForOpt]]) — scan all shards and let the residual
    // entity predicate below select the series.
    var df = shardForOpt(spec, entityValues).fold(read(spark, root, spec))(sh =>
      read(spark, root, spec).filter(col(ShardCol) === lit(sh)))
    // residual exact-entity predicate (other series can share the shard)
    df = df.filter(spec.entity.zip(entityValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
    timeRange.foreach { case (b, e) =>
      df = df.filter(col(SegCol) >= lit(segFor(spec, b)) &&
        col(SegCol) <= lit(segFor(spec, e)))
      df = if (spec.tsIsNanos)
        df.filter(col(spec.tsCol) >= lit(epochNanos(b)) && col(spec.tsCol) < lit(epochNanos(e)))
      else df.filter(col(spec.tsCol) >= lit(java.sql.Timestamp.from(b)) &&
        col(spec.tsCol) < lit(java.sql.Timestamp.from(e)))
    }
    df
  }
}
