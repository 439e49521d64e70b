package graft.perf

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The shapes follow the engine's test data:
  * an `events` stream table and a `documents` corpus over a small
  * vocabulary with exact and near duplicates. The same seed always gives
  * the same rows. */
object Gen {

  /** Distinct entities in the events table, as in sf0.1 (`TESTDATA.md`). */
  val users = 1500

  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val vocab = ("batch part spark line column order small sort fast value " +
    "scan a hash slow group agg filter query big key window row table stream " +
    "merge data vector the customer join").split(" ")
  private val langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es", "zh", "de", "fr")

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Generated rows and their raw size: 8 bytes per numeric or timestamp
    * value plus the UTF-8 bytes of each string. */
  final case class Rows(df: DataFrame, rawBytes: Long)

  /** `n` events with ids from `idBase`, timestamps spread over
    * [start, start + spanMs) in id order, `users` distinct entities. */
  def events(spark: SparkSession, seed: Long, n: Int, idBase: Long,
      start: Instant, spanMs: Long, users: Int): Rows = {
    val r = new SplittableRandom(seed)
    val offsetsUs = Array.fill(n)(r.nextLong(spanMs * 1000L)).sorted
    val t0 = LocalDateTime.ofEpochSecond(start.getEpochSecond, 0, ZoneOffset.UTC)
    val rows = (0 until n).map { i =>
      val value = math.min(560.0, math.rint(-math.log(1.0 - r.nextDouble()) * 6000.0) / 100.0)
      Row(idBase + i, t0.plusNanos(offsetsUs(i) * 1000L), r.nextInt(users).toLong,
        eventTypes(r.nextInt(eventTypes.length)), value, s"""{"k": ${r.nextInt(100)}}""")
    }
    val raw = rows.map(row => 32L + row.getString(3).length + row.getString(5).length).sum
    Rows(spark.createDataFrame(rows.asJava, eventsSchema), raw)
  }

  /** `n` documents of 8–90 vocabulary words. Of every 50 after the first
    * 50, two repeat an earlier document exactly and three repeat one with
    * a few words replaced (4% and 6%). The shares are fixed, not drawn, so
    * that every seed gives the dedup queries as much duplication to find. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val slot = i % 50
      texts(i) =
        if (i >= 50 && slot < 2) texts(r.nextInt(i))
        else if (i >= 50 && slot < 5) {
          val words = texts(r.nextInt(i)).split(" ")
          words.indices.foreach(j =>
            if (r.nextInt(20) == 0) words(j) = vocab(r.nextInt(vocab.length)))
          words.mkString(" ")
        } else Array.fill(8 + r.nextInt(83))(vocab(r.nextInt(vocab.length))).mkString(" ")
      Row(i.toLong, texts(i), langs(r.nextInt(langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    spark.createDataFrame(rows.asJava, documentsSchema)
  }

  /** A property revision log: `ids` properties, one to three revisions
    * each, a few deleted. */
  def propertyLog(spark: SparkSession, seed: Long, ids: Int): DataFrame = {
    val r = new SplittableRandom(seed)
    val rows = (0 until ids).flatMap { i =>
      (1 to 1 + r.nextInt(3)).map(rev => Row(s"m$i", rev.toLong,
        s"cfg-${r.nextInt(ids / 2)}", r.nextInt(50) == 0))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", StringType), StructField("rev", LongType),
      StructField("configuration", StringType), StructField("deleted", BooleanType))))
  }

  /** Write a frame as one parquet table directory. */
  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}
