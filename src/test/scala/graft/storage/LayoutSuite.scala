package graft.storage

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.Catalog
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Proves the (group, seg, shard) layout's write routing and that an
  * entity-EQ + time-range query PRUNES partitions (the 100 TB read path). */
class LayoutSuite extends SparkSpec {

  private def tmp(prefix: String): String = {
    val base = java.nio.file.Paths.get("/root/repo/target/test-tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).toString
  }

  private val spec = LayoutSpec(
    group = "testdata", name = "events",
    entity = Seq("user_id"), tsCol = "ts_ns", tsIsNanos = true,
    shardNum = 4, segmentDays = 1)

  private lazy val events = Catalog.load(spark, sf0001, "events")

  test("append routes rows to seg/shard directories") {
    val root = tmp("layout")
    Layout.append(events, root, spec, mode = "overwrite")
    val segDirs = new java.io.File(Layout.path(root, spec))
      .listFiles().filter(_.getName.startsWith("seg="))
    assert(segDirs.nonEmpty)
    val shardDirs = segDirs.flatMap(_.listFiles()).map(_.getName).distinct.sorted
    assert(shardDirs.forall(_.startsWith("shard=")))
    assert(shardDirs.length <= spec.shardNum)
    assert(Layout.read(spark, root, spec).count() == events.count())
  }

  test("entity scan prunes to one shard and the segment range") {
    val root = tmp("layout")
    Layout.append(events, root, spec, mode = "overwrite")
    val t0 = java.time.Instant.parse("2024-01-05T00:00:00Z")
    val t1 = java.time.Instant.parse("2024-01-08T00:00:00Z")
    val scan = Layout.entityScan(spark, root, spec, Seq(7L), Some((t0, t1)))

    val fileScan = scan.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    // partition predicates present on both layout dimensions
    val pf = fileScan.partitionFilters.map(_.sql).mkString(" ")
    assert(pf.contains("shard"), s"no shard partition filter in: $pf")
    assert(pf.contains("seg"), s"no seg partition filter in: $pf")
    // actually pruned: only the 4 in-range segments of 1 shard are listed
    val selected = fileScan.relation.location.listFiles(
      fileScan.partitionFilters, fileScan.dataFilters)
    val totalParts = fileScan.relation.location.listFiles(Nil, Nil)
    assert(selected.length < totalParts.length,
      s"expected pruning, got ${selected.length}/${totalParts.length} partitions")
    assert(selected.length <= 4 * 1)

    // same rows as a plain filter over the original frame
    def ns(i: java.time.Instant) = i.getEpochSecond * 1000000000L + i.getNano
    val expected = events.filter(col("user_id") === 7L &&
      col("ts_ns") >= ns(t0) && col("ts_ns") < ns(t1))
    assert(scan.count() == expected.count())
    assert(scan.select("event_id").collect().map(_.getLong(0)).sorted
      .sameElements(expected.select("event_id").collect().map(_.getLong(0)).sorted))
  }

  test("shardFor matches the written shard column") {
    val root = tmp("layout")
    Layout.append(events, root, spec, mode = "overwrite")
    val byCol = Layout.read(spark, root, spec)
      .select("user_id", Layout.ShardCol).distinct().collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byCol.foreach { case (uid, shard) =>
      assert(Layout.shardFor(spec, Seq(uid)) == shard, s"user $uid")
    }
  }

  test("write rejects null entity rows") {
    val root = tmp("layout")
    val bad = events.withColumn("user_id",
      when(col("event_id") === 1L, lit(null)).otherwise(col("user_id")))
    val e = intercept[Exception] { Layout.append(bad, root, spec, mode = "overwrite") }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("null entity")))
  }

  test("TTL drops whole expired segments; newer data is untouched") {
    val root = tmp("layout")
    Layout.append(events, root, spec, mode = "overwrite")
    val horizon = java.time.Instant.parse("2024-01-10T00:00:00Z")
    def ns(i: java.time.Instant) = i.getEpochSecond * 1000000000L
    val expectSurvivors = events.filter(col("ts_ns") >= ns(horizon)).count()

    val dropped = Layout.enforceTtl(spark, root, spec, horizon)
    assert(dropped.nonEmpty)
    assert(dropped.forall(_ < Layout.segFor(spec, horizon)))
    val back = Layout.read(spark, root, spec)
    assert(back.count() == expectSurvivors)
    assert(back.agg(min(col("ts_ns"))).head().getLong(0) >= ns(horizon))
  }

  test("ingest-time tokenization: MATCH filters the stored token column") {
    import graft.model._
    val root = tmp("layout")
    val tokSpec = spec.copy(analyzerColumns = Map("event_type" -> "standard"))
    Layout.append(events, root, tokSpec, mode = "overwrite")

    val stored = Layout.read(spark, root, tokSpec)
    val tokCol = Layout.tokenColName("event_type", "standard")
    assert(stored.columns.contains(tokCol), stored.columns.mkString(","))

    val q = MeasureQuery(groups = Seq("testdata"), name = "events",
      criteria = Some(Cond("event_type", Op.Match("standard", MatchOp.Or),
        Seq("click", "error"))),
      tagProjection = Seq("event_id", "event_type"), limit = 1000000)
    val viaStored = graft.engine.Planners.measure(stored, Catalog.defs("events"), q)
    // the plan must filter the MATERIALIZED column, not re-run the analyzer
    val plan = viaStored.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("analyzertokens"),
      "query re-tokenized despite the ingest-time token column")
    // identical result to the tokenize-per-query path
    val viaFresh = graft.engine.Planners.measure(events, Catalog.defs("events"), q)
    assert(viaStored.select("event_id").collect().map(_.getLong(0)).sorted
      .sameElements(viaFresh.select("event_id").collect().map(_.getLong(0)).sorted))
  }

  test("bucketed layout: entity aggregation and version dedup are shuffle-free") {
    import org.apache.spark.sql.expressions.Window
    // unique name: the warehouse location outlives the in-memory catalog,
    // and CREATE TABLE AS refuses a pre-existing location it doesn't own
    val tbl = "events_bucketed_" + System.nanoTime()
    Layout.saveBucketed(events, tbl, spec)
    val t = spark.table(tbl)

    // entity group-by: partial+final agg collapses, no Exchange
    val agg = t.groupBy("user_id").agg(count(lit(1)).as("n"))
    agg.collect()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), aggPlan.take(1500))

    // version-dedup window partitioned by the entity: no Exchange either
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns").desc)
    val dedup = t.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    dedup.collect()
    val dedupPlan = dedup.queryExecution.executedPlan.toString
    assert(!dedupPlan.contains("Exchange"), dedupPlan.take(1500))

    assert(t.count() == events.count())
  }

  test("streaming sink ingests into the same layout (S7)") {
    val root = tmp("layout")
    val ckpt = tmp("ckpt")
    val srcDir = tmp("src")
    Files.copy(java.nio.file.Paths.get(sf0001, "events.parquet"),
      java.nio.file.Paths.get(srcDir, "events.parquet"))
    // stream with the RAW file schema (ts = int64 nanos), as an ingest would
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(srcDir).schema
    val src = spark.readStream.schema(rawSchema).parquet(srcDir)
      .withColumn("ts_ns", graft.sources.Catalog.tsNanosExpr(rawSchema("ts").dataType))
    val q = Write.streamSink(src, root, spec, ckpt)
    q.awaitTermination()
    val back = Layout.read(spark, root, spec)
    assert(back.count() == events.count())
    // round-trip: a planner query over the ingested layout equals the source
    val a = back.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("compaction merges small files; rows, routing, and quiet dirs untouched") {
    val root = tmp("compact")
    // steady micro-batch ingest: 6 appends -> up to 6 files per (seg,shard)
    val slice = events.limit(600)
    (0 until 6).foreach { i =>
      Layout.append(slice.filter(col("event_id") % 6 === i), root, spec)
    }
    def fileCounts(): Map[(Int, Int), Int] = {
      val table = new java.io.File(Layout.path(root, spec))
      (for {
        seg <- table.listFiles().toSeq if seg.getName.startsWith("seg=")
        sh <- seg.listFiles().toSeq if sh.getName.startsWith("shard=")
      } yield (seg.getName.stripPrefix("seg=").toInt,
        sh.getName.stripPrefix("shard=").toInt) ->
        sh.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).toMap
    }
    val before = fileCounts()
    assert(before.values.exists(_ > 1), s"ingest should fragment: $before")
    val rowsBefore = Layout.read(spark, root, spec)
      .orderBy("event_id", "ts_ns").collect().toSeq
    val report = Layout.compactSegments(spark, root, spec,
      targetBytes = 128L << 20, maxFiles = 1)
    val after = fileCounts()
    // every fragmented directory compacted to one file (tiny data << target)
    assert(after.values.forall(_ == 1), s"still fragmented: $after")
    report.foreach { case (seg, shard, nb, na) =>
      assert(nb > 1 && na == 1, s"bad report row ($seg,$shard,$nb,$na)")
      assert(before((seg, shard)) == nb && after((seg, shard)) == na)
    }
    // untouched directories were not rewritten (not in the report)
    val quiet = before.filter(_._2 == 1).keySet
    assert(report.map(r => (r._1, r._2)).toSet.intersect(quiet).isEmpty)
    // byte-identical row content, and a second pass is a no-op
    val rowsAfter = Layout.read(spark, root, spec)
      .orderBy("event_id", "ts_ns").collect().toSeq
    assert(rowsAfter == rowsBefore)
    assert(Layout.compactSegments(spark, root, spec).isEmpty)
  }

  test("sharding key must be an in-order subset of the entity (reference 0.11 rule)") {
    def spec2(sk: Seq[String]) = LayoutSpec("g", "m",
      entity = Seq("svc", "inst"), tsCol = "ts_ns", shardingKey = sk)
    // legal: subsets in entity order, or no sharding key at all
    assert(spec2(Nil).routingKey == Seq("svc", "inst"))
    assert(spec2(Seq("svc")).routingKey == Seq("svc"))
    assert(spec2(Seq("svc", "inst")).routingKey == Seq("svc", "inst"))
    // a tag outside the entity rejects
    intercept[IllegalArgumentException] { spec2(Seq("region")) }
    // order inversion rejects
    intercept[IllegalArgumentException] { spec2(Seq("inst", "svc")) }
    // single-entity-tag exemption: a composite id may already encode the
    // sharding fields, so literal subset validation is skipped
    val composite = LayoutSpec("g", "m", entity = Seq("entity_id"),
      tsCol = "ts_ns", shardingKey = Seq("service_id"))
    assert(composite.routingKey == Seq("service_id"))
  }

  test("declared sharding key routes shards by its columns; series stay co-located") {
    val root = tmp("layout_sk")
    val sk = spec.copy(entity = Seq("user_id", "event_type"),
      shardingKey = Seq("user_id"))
    Layout.append(events, root, sk, mode = "overwrite")
    // every (user_id) lands in exactly one shard — locality by subset rule
    val byUser = Layout.read(spark, root, sk)
      .groupBy("user_id").agg(countDistinct(col("shard")).as("n"))
      .agg(max("n")).head().getLong(0)
    assert(byUser == 1L, "a sharding-key series spread across shards")
    // and the driver-side shard matches the written partition value
    val one = Layout.read(spark, root, sk)
      .select("user_id", "event_type", "shard").head()
    assert(Layout.shardFor(sk, Seq(one.getLong(0), one.getString(1)))
      == one.getInt(2))
  }

  test("single-entity-tag sharding-key exemption: entityScan falls back to an unpruned scan") {
    val root = tmp("layout_sk_exempt")
    // legal per the reference's CheckShardingKeySubset exemption: one
    // entity tag, sharding key outside it. Writes route by event_type;
    // an entity-EQ query supplies only user_id, so the shard is not
    // derivable and the scan must fall back instead of throwing.
    val sk = spec.copy(entity = Seq("user_id"), shardingKey = Seq("event_type"))
    Layout.append(events, root, sk, mode = "overwrite")
    assert(Layout.shardForOpt(sk, Seq(7L)).isEmpty)
    intercept[IllegalArgumentException] { Layout.shardFor(sk, Seq(7L)) }
    val got = Layout.entityScan(spark, root, sk, Seq(7L))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = events.filter(col("user_id") === 7L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("compaction crash recovery: a pending commit manifest completes exactly once") {
    val root = tmp("compact_crash")
    val slice = events.limit(400)
    (0 until 2).foreach { i =>
      Layout.append(slice.filter(col("event_id") % 2 === i), root, spec)
    }
    val rowsBefore = Layout.read(spark, root, spec)
      .orderBy("event_id", "ts_ns").collect().toSeq
    val table = new java.io.File(Layout.path(root, spec))
    val victim = (for {
      seg <- table.listFiles().toSeq if seg.getName.startsWith("seg=")
      sh <- seg.listFiles().toSeq if sh.getName.startsWith("shard=")
      if sh.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) > 1
    } yield sh).head
    val old = victim.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq
    // simulate a compaction that CRASHED between writing its commit
    // manifest and applying it: stage a merged copy of the victim beside
    // the live tree, record the moves+deletes, and leave both in place
    val rel = s"${victim.getParentFile.getName}/${victim.getName}"
    val staged = new java.io.File(table, s".compact-staging/$rel")
    val one = new java.io.File(table, ".compact-tmp-one")
    spark.read.parquet(victim.toString).coalesce(1)
      .write.mode("overwrite").parquet(one.toString)
    staged.mkdirs()
    val part = one.listFiles().filter(_.getName.endsWith(".parquet")).head
    val stagedPart = new java.io.File(staged, part.getName)
    assert(part.renameTo(stagedPart))
    val manifest = (s"MOVE\t$stagedPart\t$victim/${part.getName}" +:
      old.map(f => s"DEL\t$f")).mkString("", "\n", "\n")
    java.nio.file.Files.write(
      new java.io.File(table, ".compact-commit").toPath,
      manifest.getBytes("UTF-8"))
    // the next maintenance pass completes the crashed commit first
    Layout.compactSegments(spark, root, spec)
    val live = victim.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq
    assert(live.map(_.getName) == Seq(part.getName),
      s"expected only the staged file, got ${live.map(_.getName)}")
    assert(!new java.io.File(table, ".compact-commit").exists())
    assert(!new java.io.File(table, ".compact-staging").exists())
    spark.catalog.refreshByPath(Layout.path(root, spec))
    val rowsAfter = Layout.read(spark, root, spec)
      .orderBy("event_id", "ts_ns").collect().toSeq
    assert(rowsAfter == rowsBefore, "recovery lost or duplicated rows")
  }

  test("compaction recovery: a manifest MOVE that fails keeps every old file and the manifest") {
    val root = tmp("compact_move_fail")
    val slice = events.limit(400)
    (0 until 2).foreach { i =>
      Layout.append(slice.filter(col("event_id") % 2 === i), root, spec)
    }
    val rowsBefore = Layout.read(spark, root, spec)
      .orderBy("event_id", "ts_ns").collect().toSeq
    val table = new java.io.File(Layout.path(root, spec))
    def dataFiles(dir: java.io.File) = dir.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq
    val victim = (for {
      seg <- table.listFiles().toSeq if seg.getName.startsWith("seg=")
      sh <- seg.listFiles().toSeq if sh.getName.startsWith("shard=")
      if dataFiles(sh).length > 1
    } yield sh).head
    val old = dataFiles(victim)
    // a pending commit whose MOVE lands on a live file that already
    // exists: Hadoop's rename returns false there instead of throwing, so
    // a replay that ignored the result would go on to DELETE every old
    // file — the only copies of the victim's rows
    val rel = s"${victim.getParentFile.getName}/${victim.getName}"
    val staged = new java.io.File(table, s".compact-staging/$rel")
    staged.mkdirs()
    val stagedPart = new java.io.File(staged, "part-staged.parquet")
    Files.copy(old.head.toPath, stagedPart.toPath)
    val manifest = (s"MOVE\t$stagedPart\t$victim/${old.head.getName}" +:
      old.map(f => s"DEL\t$f")).mkString("", "\n", "\n")
    val marker = new java.io.File(table, ".compact-commit")
    Files.write(marker.toPath, manifest.getBytes("UTF-8"))
    val err = intercept[java.io.IOException](Layout.compactSegments(spark, root, spec))
    assert(err.getMessage.contains(old.head.getName), err.getMessage)
    assert(old.forall(_.exists()), "a failed MOVE was followed by its DELs")
    assert(marker.exists(), "the manifest of a failed replay must be kept")
    assert(stagedPart.exists(), "the staged copy was swept")
    spark.catalog.refreshByPath(Layout.path(root, spec))
    val rowsAfter = Layout.read(spark, root, spec)
      .orderBy("event_id", "ts_ns").collect().toSeq
    assert(rowsAfter == rowsBefore, "a failed replay lost rows")
  }
}
