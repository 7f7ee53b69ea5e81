package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape
  * (SURVEY §2.12: the reference has no streaming queries — this is the
  * engine-extension slice, reusing the same aggregations as the batch
  * EventSuite so batch and stream stay semantically twinned).
  */
object EventStream {

  /** Parquet schema of the events table under the ORIGINAL testdata
    * encoding (ts = nanos long via spark.sql.legacy.parquet.nanosAsLong,
    * set by Graft.session). Later testdata generations store ts as a
    * proper TIMESTAMP_MICROS column — use storedSchemaOf for the schema
    * actually on disk.
    */
  val storedSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) surfaced as long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The events schema as actually stored in `dir` (file streams require
    * an explicit schema; a one-off batch footer read supplies it). A
    * directory with no files yet — the normal state for a file stream
    * whose producer starts after the query — has no footers to read, so
    * fall back to the legacy [[storedSchema]] instead of failing the
    * stream definition.
    */
  def storedSchemaOf(spark: SparkSession, dir: String): StructType =
    // bare read: a stream's input dir grows while the stream runs
    try spark.read.parquet(dir).schema
    catch {
      // Match the stable error CLASS, not a message substring (which is
      // locale/version-brittle), and adopt the legacy schema only when
      // the directory truly has no data files yet — a directory of
      // unreadable/non-parquet files should keep failing loudly instead
      // of silently mismatching downstream.
      case e: org.apache.spark.sql.AnalysisException
          if inferFailureConditions.contains(e.getCondition) &&
            dirHasNoDataFiles(dir) =>
        storedSchema
    }

  /** The stable error conditions "no footers to infer from" surfaces as
    * (Spark 4.1 raises the _LEGACY form from DataSource.resolveRelation;
    * the named form is its non-legacy registration).
    */
  private val inferFailureConditions =
    Set("UNABLE_TO_INFER_SCHEMA", "_LEGACY_ERROR_TEMP_1134")

  /** True when `dir` is absent, empty, or holds only hidden/metadata
    * entries (`_spark_metadata`, `.crc`, …) — the pre-producer state of
    * a file-stream directory.
    */
  private def dirHasNoDataFiles(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(
      dir.stripPrefix("file:").stripPrefix("//"))
    if (!java.nio.file.Files.isDirectory(p)) true
    else {
      val s = java.nio.file.Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.forall { f =>
          val n = f.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }
      } finally s.close()
    }
  }

  /** ts (whatever its stored encoding: nanos long or timestamp) as the
    * session-zoned TIMESTAMP event-time column streaming state expects.
    * Under the UTC session both forms are value-identical.
    */
  private def eventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** File-based stream over a directory of events parquet, ts converted
    * to a proper timestamp (event time) regardless of stored encoding.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    eventTime(spark.readStream.schema(storedSchemaOf(spark, dir)).parquet(dir))

  /** Batch twin of [[read]]: identical columns and ts type, for
    * stream-vs-batch parity checks.
    */
  def readBatch(spark: SparkSession, dir: String): DataFrame =
    // bare read: the parity check must see the files written so far
    eventTime(spark.read.parquet(dir))

  /** Tumbling-window rollup with watermark — the streaming twin of
    * EventSuite e1: per (window, event_type) count + value sum.
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  // --- gap-based sessionization via the built-in session_window --------
  // Preference order (SURVEY §7.2): compose existing operators before
  // custom state. Event-time session windows with a watermark express
  // gap sessionization declaratively — the state management, timeout
  // bookkeeping and spill behavior are Spark's own (and incremental
  // session merging scales better than a hand-rolled
  // flatMapGroupsWithState, which this Spark build also mis-plans —
  // see the verify skill's gotchas).

  /** Streaming exact dedup on `event_id` — the streaming twin of
    * Dedup.exact. `dropDuplicatesWithinWatermark` keeps per-key state
    * only until the watermark passes the key's event time, which is the
    * only dedup contract with BOUNDED state on an unbounded stream (a
    * plain dropDuplicates would retain every key forever); duplicates
    * arriving within the horizon — the at-least-once-delivery case — are
    * dropped exactly.
    */
  def dedupe(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Stream-stream interval join: every (view, purchase) pair by the
    * same user with the purchase inside [view_ts, view_ts + horizon].
    *
    * On streams both sides carry a watermark and the join condition
    * bounds event-time distance — exactly what Spark needs to EXPIRE
    * per-key join state (a stream-stream join without the time bound
    * would buffer both streams forever). On batch frames the same code
    * is a plain equi-join with a range predicate: the equi-key
    * (user_id) carries the shuffle; the range is a post-filter, so the
    * shape survives any corpus size.
    */
  def viewToPurchase(events: DataFrame, horizon: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    def wm(df: DataFrame): DataFrame =
      if (df.isStreaming) df.withWatermark("ts", watermark) else df
    val views = wm(events.filter(col("event_type") === "view"))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val buys = wm(events.filter(col("event_type") === "purchase"))
      .select(col("user_id").as("buy_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    views.join(buys,
      col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("view_id"), col("view_ts"),
        col("buy_id"), col("buy_ts"))
  }

  /** Per-user gap sessions: event-time `session_window(ts, gap)` with a
    * watermark. Works identically over a stream (append after watermark)
    * and a batch frame.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("start"),
        col("session_window.end").as("end"),
        col("n_events"), col("total_value"))
  }
}
