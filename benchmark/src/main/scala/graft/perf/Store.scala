package graft.perf

import java.io.File
import java.time.Instant

import graft.ql.BydbQL
import graft.sources.Catalog
import graft.storage.{CatalogEntry, CatalogStore, Layout}
import org.apache.spark.sql.functions._

/** The storage lifecycle behind `wire_dashboard`'s resources, run at
  * set-up: 48 hours of events arrive as four 12-hour appends into a fresh
  * layout root, then compaction merges the small files and a 24-hour
  * retention drops the older day. The stream and trace resources read
  * the same layout. Two reads check the result: every live row is there,
  * and no expired row is. */
object Store {

  val slices = 4
  val sliceMs: Long = 12L * 3600000L
  val retentionMs: Long = 24L * 3600000L
  /** sf0.1's event density (100,000 events over 30 days, `TESTDATA.md`). */
  val rowsPerSlice = 1667

  final case class Ready(resources: Map[String, BydbQL.Resource],
      metrics: Map[String, Double], checks: Long, checksFailed: Long)

  def setUp(run: Run, now: Instant): Ready = {
    val spark = run.spark
    val start = now.minusMillis(slices * sliceMs)
    val gen = Gen.events(spark, run.seed, slices * rowsPerSlice, 0L, start,
      slices * sliceMs, Gen.users)
    Gen.write(gen.df, run.dir("data/events.parquet"))
    val t0 = System.nanoTime()
    val ev = Catalog.load(spark, run.dir("data"), "events")
    val sliceOf = floor((col("ts_ns") - lit(start.toEpochMilli * 1000000L)) / lit(sliceMs * 1000000L))
    val perSlice = ev.groupBy(sliceOf.as("s")).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val loadMs = (System.nanoTime() - t0) / 1e6

    val root = run.dir("layout")
    val cpm = CatalogEntry("sw", "service_cpm", entity = Seq("user_id"), tsCol = "ts_ns",
      fields = Seq("value"))
    val table = new File(Layout.path(root, cpm.spec))
    def timed[A](f: => A): (A, Double) = { val a = System.nanoTime(); val v = f; (v, (System.nanoTime() - a) / 1e6) }

    val appends = (0 until slices).map { k =>
      val (files0, bytes0) = Disk.usage(table)
      val (_, ms) = timed(CatalogStore.ingest(ev.filter(sliceOf === k), root, cpm))
      val (files1, bytes1) = Disk.usage(table)
      (ms, (files1 - files0).toDouble, (bytes1 - bytes0).toDouble)
    }
    val (compacted, compactMs) = timed(Layout.compactSegments(spark, root, cpm.spec))
    val rewritten = compacted.map { case (seg, shard, _, _) =>
      Disk.usage(new File(table, s"${Layout.SegCol}=$seg/${Layout.ShardCol}=$shard"))._2
    }.sum.toDouble
    val horizon = now.minusMillis(retentionMs)
    val (_, ttlMs) = timed(Layout.enforceTtl(spark, root, cpm.spec, horizon))
    val (liveFiles, liveBytes) = Disk.usage(table)

    val (opened, openMs) = timed(CatalogStore.open(spark, root))
    val measure = opened("service_cpm")
    val resources = opened ++ Map(
      "sw_log" -> measure.copy(df = measure.df.withColumn("element_id",
        col("event_id").cast("string")), fields = Set.empty, elementIdCol = Some("element_id")),
      "sw_trace" -> measure.copy(df = measure.df.withColumn("trace_id",
        (col("event_id") / 8).cast("long")), fields = Set.empty, traceIdCol = Some("trace_id"),
        spanStruct = Seq("event_id", "event_type", "value", "ts_ns")))

    def count(from: Instant, to: Instant): Long =
      BydbQL.run(s"SELECT event_type, COUNT(value) FROM MEASURE service_cpm IN sw " +
        s"TIME BETWEEN '$from' AND '$to' GROUP BY event_type, value", resources, Nil, now)
        .collect().map(_.get(1).asInstanceOf[Number].longValue).sum
    val liveRows = (0 until slices).filter(k => !start.plusMillis(k * sliceMs).isBefore(horizon))
      .map(perSlice.getOrElse(_, 0L)).sum
    val totalRows = perSlice.values.sum
    val (kept, expired) = (count(horizon, now), count(start, horizon.minusMillis(1)))
    val failed = Seq(kept != liveRows, expired != 0L).count(identity).toLong
    if (failed > 0) run.log(s"CHECK FAILED storage: $kept of $liveRows live rows read, " +
      s"$expired expired rows still read")
    run.log(f"storage: ${slices} appends, ${compacted.length} directories compacted, " +
      f"$liveFiles live files, $kept live rows")

    val written = appends.map(_._3).sum + rewritten
    Ready(resources, Map(
      "sources.load_ms" -> loadMs,
      "storage.append_ms" -> Stats.median(appends.map(_._1)),
      "storage.files_written" -> Stats.median(appends.map(_._2)),
      "storage.bytes_written" -> Stats.median(appends.map(_._3)),
      "storage.write_amp" -> written / gen.rawBytes,
      "storage.compact_ms" -> compactMs,
      "storage.compact_bytes_rewritten" -> rewritten,
      "storage.ttl_ms" -> ttlMs,
      "storage.open_ms" -> openMs,
      "storage.live_files" -> liveFiles.toDouble,
      "storage.live_bytes" -> liveBytes.toDouble,
      "storage.ingest_rows_per_s" -> totalRows / (appends.map(_._1).sum / 1000.0),
      "storage.space_amp" -> liveBytes / (gen.rawBytes.toDouble * liveRows / totalRows)),
      checks = 2, checksFailed = failed)
  }
}
