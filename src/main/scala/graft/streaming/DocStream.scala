package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text

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

  /** File-based stream over a directory of documents parquet. The feed
    * carries no arrival time, so event time is derived deterministically
    * from the id (1 s per doc from a fixed epoch) — replicable in the
    * batch twin, which is what lets stream==batch be asserted exactly.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(storedSchema).parquet(dir)
      .withColumn("ts", timestamp_seconds(lit(1577836800L) + col("doc_id")))

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
    enrich(docs)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

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
    val withTs = docs.withColumn("ts",
      timestamp_seconds(lit(1577836800L) + col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("ts").asc, col("doc_id").asc)
    enrich(withTs)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming NEAR-dup ingest — the `foreachBatch` composition of the
    * batch incremental operators into a continuously-running pipeline.
    * Per micro-batch: (1) the feed arrives already exact-deduped within
    * the watermark ([[cleanFeed]]); (2) within-batch near-dups collapse
    * to their cluster canonicals (MinHash pairs → connected components
    * → keep-canonical, the x18/x28 stages); (3) survivors are checked
    * against the ACCUMULATED at-rest index with the cross-corpus
    * banding (the x30 operator — index×batch candidates only, no
    * index-side self-pairs); (4) novel docs append to the index,
    * near-dup arrivals land in the quarantine with their match.
    *
    * Exactly-once effect without a transactional sink: both writes are
    * partitioned by micro-batch id under DYNAMIC partition overwrite,
    * so a replayed batch (foreachBatch is at-least-once after failure)
    * overwrites its own partition instead of double-appending.
    *
    * State posture at scale: in-stream state is only the within-
    * watermark fingerprint set; the near-dup index lives in parquet —
    * per-batch cost is the x30 dataflow (banded index×batch equi-join,
    * bucket-capped), never index-resident memory.
    */
  def nearDupIngest(spark: SparkSession, feedDir: String, indexDir: String,
      quarantineDir: String, checkpointDir: String,
      threshold: Double = 0.5, watermark: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    cleanFeed(read(spark, feedDir), watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, indexDir, quarantineDir, threshold)
      }
      .start()

  /** One micro-batch of [[nearDupIngest]] (exposed for direct testing —
    * semantics are batch-deterministic, the stream only schedules it).
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, quarantineDir: String, threshold: Double): Unit = {
    import graft.Graft
    import graft.operators.Dedup
    import org.apache.spark.storage.StorageLevel
    val s = batch.sparkSession
    if (batch.isEmpty) return
    val b0 = batch.persist(StorageLevel.MEMORY_AND_DISK)
    // cacheScope: the dedup operators' internal persists (shingle sets,
    // signatures — registered via Graft.trackedPersist) are released at
    // scope exit THROUGH the CacheManager, and ONLY those — caches and
    // memo entries owned by other streams/queries sharing this session
    // survive the batch (a clearCache() here would evict everything).
    // Both outputs are eagerly truncated + written inside the scope, so
    // nothing read later depends on the dropped caches.
    Graft.cacheScope {
    try {
      val pairs = Dedup.minhashNearDups(b0, "doc_id", "text",
        k = 32, bands = 16, shingleSize = 3, threshold = threshold)
      val clusters = Dedup.dupClusters(pairs)
      val localSurvivors = Dedup.keepCanonical(b0, "doc_id", clusters)
      val localDropped = b0
        .join(clusters.filter(col("canonical_id") =!= col("member_id"))
            .select(col("member_id").as("doc_id"), col("canonical_id")),
          Seq("doc_id"))
        .select(col("doc_id"), col("canonical_id").as("matched_id"),
          lit(null).cast("double").as("jaccard"),
          lit("within_batch").as("reason"))
      // exclude THIS batch's own partition from the index view: a
      // replayed batch (failure after the index write, before the
      // checkpoint commit) must see the same prior-state index as the
      // original run — otherwise it matches its own docs and
      // quarantines the whole batch instead of rewriting it.
      val (novel, crossDropped) = existingIndex(s, indexDir)
          .map(_.filter(col("ingest_batch") =!= lit(batchId))) match {
        case Some(idx) =>
          val cross = Dedup.minhashNearDupsCross(idx, localSurvivors,
            "doc_id", "text", k = 32, bands = 16, shingleSize = 3,
            threshold = threshold)
          // a batch doc can match several index docs — quarantine one
          // row per doc, best match by (jaccard, lowest index id)
          val dropped = cross.groupBy(col("batch_id").as("doc_id"))
            .agg(max_by(col("index_id"),
                struct(col("jaccard"), -col("index_id"))).as("matched_id"),
              max(col("jaccard")).as("jaccard"))
            .withColumn("reason", lit("index_near_dup"))
          (localSurvivors.join(dropped.select("doc_id"),
            Seq("doc_id"), "left_anti"), dropped)
        case None =>
          (localSurvivors,
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              localDropped.schema))
      }
      // MATERIALIZE both outputs before writing: `novel` still reads
      // indexDir through the cross-dedup lineage, and Spark refuses (or
      // worse, races) an overwrite of a path the plan also scans.
      val novelT = Graft.truncate(
        novel.withColumn("ingest_batch", lit(batchId)), eager = true)
      val quarT = Graft.truncate(
        localDropped.unionByName(crossDropped)
          .withColumn("ingest_batch", lit(batchId)), eager = true)
      try {
        novelT.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(indexDir)
        quarT.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(quarantineDir)
      } finally {
        Graft.releaseTruncated(novelT)
        Graft.releaseTruncated(quarT)
        // dupClusters' final label round is lineage-truncated; its blocks
        // are dead once novelT/quarT materialized — release per batch
        // rather than waiting on GC + ContextCleaner
        Graft.releaseTruncated(clusters)
      }
    } finally {
      b0.unpersist(false)
    }
    }
  }

  private def existingIndex(s: SparkSession,
      dir: String): Option[DataFrame] =
    try {
      // bare read: the index dir gains a partition every micro-batch,
      // so a memoized read plan would be stale by the next batch
      val df = s.read.parquet(dir)
      if (df.columns.contains("doc_id")) Some(df) else None
    } catch {
      // missing dir on the first batch / not-yet-written empty dir
      case _: org.apache.spark.sql.AnalysisException => None
    }
}
