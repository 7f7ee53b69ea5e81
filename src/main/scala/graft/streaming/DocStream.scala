package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Graft
import graft.functions.Text
import graft.operators.Dedup

/** Streaming ingest of a document feed (the crawl-snapshot arrival path):
  * stateless quality/fingerprint enrichment, then watermarked exact
  * dedup — the streaming twin of the batch x5/x2 pipeline stages.
  *
  * State posture at scale: the only stateful operator is
  * `dropDuplicatesWithinWatermark` keyed on the 16-byte fingerprint, so
  * state is bounded by (arrival rate × watermark), never corpus size —
  * re-crawls beyond the watermark are handled by the BATCH incremental
  * path (x25/x29's fingerprint index), which is the division of labor
  * production pipelines use: streaming absorbs the at-least-once burst,
  * batch owns history.
  */
object DocStream {

  /** Parquet schema of the documents table as stored. */
  val storedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based stream over a directory of documents parquet; event
    * time derived from the id ([[NearDupGate.read]]) — replicable in the
    * batch twin, which is what lets stream==batch be asserted exactly.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    NearDupGate.read(spark, storedSchema, "doc_id", dir)

  /** Stateless enrichment: content fingerprint (lang + text, the x5 key)
    * and the quality signals a filter stage consumes. Pure column
    * expressions — works identically on a stream or a batch frame.
    */
  def enrich(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", md5(concat_ws("", col("lang"), col("text"))))
      .withColumn("n_tokens", Text.tokenCount(col("text")))
      .withColumn("quality", Text.qualityScore(col("text")))

  /** Enriched feed with at-least-once redeliveries dropped inside the
    * watermark (exact dedup on the content fingerprint).
    */
  def cleanFeed(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    NearDupGate.deduped(enrich(docs), "fp", watermark)

  /** Batch twin of [[cleanFeed]] over the stored documents table: the
    * SAME `enrich` column expressions, the same id-derived event time as
    * [[read]], and exact dedup on the fingerprint keeping the EARLIEST
    * arrival — which is what the stream's within-watermark dedup
    * retains for redeliveries arriving inside the watermark (the only
    * redeliveries the streaming half is responsible for; older
    * re-crawls belong to the batch incremental path, x25/x29). This is
    * the declared, oracle-checked face of the DocStream semantics
    * (e9_docfeed_clean).
    */
  def cleanFeedBatch(docs: DataFrame): DataFrame = {
    val withTs = docs.withColumn("ts", NearDupGate.eventTime("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("ts").asc, col("doc_id").asc)
    enrich(withTs)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming NEAR-dup ingest — the `foreachBatch` composition of the
    * batch incremental operators into a continuously-running pipeline
    * over the [[NearDupGate]] core. Per micro-batch: (1) the feed
    * arrives already exact-deduped within the watermark ([[cleanFeed]]);
    * (2) within-batch near-dups collapse to their cluster canonicals
    * (MinHash pairs → connected components → keep-canonical, the x18/x28
    * stages); (3) survivors are checked against the ACCUMULATED at-rest
    * index with the cross-corpus banding (the x30 operator — index×batch
    * candidates only, no index-side self-pairs); (4) novel docs append
    * to the index, near-dup arrivals land in the quarantine with their
    * best match by (jaccard, lowest index id).
    */
  def nearDupIngest(spark: SparkSession, feedDir: String, indexDir: String,
      quarantineDir: String, checkpointDir: String,
      threshold: Double = 0.5, watermark: String = "1 hour"): StreamingQuery =
    NearDupGate.start(cleanFeed(read(spark, feedDir), watermark),
      checkpointDir)(ingestBatch(_, _, indexDir, quarantineDir, threshold))

  private val sinks = NearDupGate.Sinks("doc_id", "jaccard",
    higherBetter = true, lit(null).cast("double"), Seq("doc_id", "text"))

  /** One micro-batch of [[nearDupIngest]] (exposed for direct testing). */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, quarantineDir: String, threshold: Double): Unit =
    NearDupGate.ingest(batch, batchId, indexDir, quarantineDir, sinks) { b =>
      val docs = Graft.trackedPersist(b)
      NearDupGate.Arrivals(docs,
        Dedup.minhashNearDups(docs, "doc_id", "text", k = 32, bands = 16,
          shingleSize = 3, threshold = threshold),
        (index, survivors) => Dedup.minhashNearDupsCross(index, survivors,
          "doc_id", "text", k = 32, bands = 16, shingleSize = 3,
          threshold = threshold))
    }
}
