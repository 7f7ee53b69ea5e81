package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal}

/** Streaming ingest of a VIDEO feed with TEMPORAL perceptual dedup —
  * the m14 operator at the stream gate, completing the streaming
  * near-dup quartet (documents / vectors / images / video): per
  * micro-batch, seek-and-dHash k=4 sampled frames of every arriving
  * clip (entropy-decoding only those for MJPEG — the m3 seek shape),
  * collapse within-batch temporal duplicates to cluster canonicals,
  * check survivors against the accumulated at-rest FRAME-SIGNATURE
  * index with the cross-corpus temporal banding
  * ([[Dedup.temporalNearDupsSigCross]] — index×batch candidates only,
  * every aligned slot within the radius), append novel signatures and
  * quarantine duplicate arrivals with their best match. A re-encoded
  * copy of an already-ingested clip — different codec or resolution,
  * zero shared bytes — is caught at the gate.
  *
  * State posture at scale: no in-stream video state at all — the index
  * holds (id, slot, 8-byte dHash, byte size) rows in parquet (k rows
  * per clip), clip bytes never leave their batch's scan, and each
  * batch pays one seek-decode pass plus the banded equi-join against
  * the index. Clips with no usable signature (undecodable, sub-grid,
  * or zero frames) are quarantined loudly. Exactly-once effect without
  * a transactional sink: both writes are partitioned by micro-batch id
  * under dynamic partition overwrite (the DocStream rule).
  */
object VideoStream {

  /** Parquet schema of the clip feed as stored. */
  val storedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("media_type", StringType),
    StructField("media", BinaryType)))

  /** File-based stream over a directory of clip parquet; event time
    * MONOTONE in the id (the DocStream/VecStream/MediaStream rule — a
    * modular wrap would step below the watermark and silently drop
    * later arrivals as late).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(storedSchema).parquet(dir)
      .withColumn("ts",
        timestamp_seconds(lit(1577836800L) + col("asset_id")))

  def nearDupIngest(spark: SparkSession, feedDir: String, indexDir: String,
      quarantineDir: String, checkpointDir: String,
      maxHamming: Int = 15, watermark: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    read(spark, feedDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("asset_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, indexDir, quarantineDir, maxHamming)
      }
      .start()

  /** One micro-batch (exposed for direct testing — semantics are
    * batch-deterministic, the stream only schedules it).
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, quarantineDir: String, maxHamming: Int): Unit = {
    import graft.Graft
    import org.apache.spark.storage.StorageLevel
    val s = batch.sparkSession
    if (batch.isEmpty) return
    import s.implicits._
    Graft.cacheScope {
      // ONE seek-decode pass: (id, slot, sig) for clips with a usable
      // temporal signature — 8 B per sampled frame of state; the media
      // column is dropped right here
      val sigs = Graft.trackedPersist(
        Multimodal.videoDHash(
          batch.select("asset_id", "media_type", "media")
            .as[Multimodal.Asset], 4).toDF()
          .select(col("asset_id").as("id"), col("slot"),
            col("dhash").as("sig")),
        StorageLevel.MEMORY_AND_DISK)
      val sizes = Graft.trackedPersist(
        batch.select(col("asset_id").as("id"),
          length(col("media")).cast("long").as("byte_size")),
        StorageLevel.MEMORY_AND_DISK)
      val decodedIds = sigs.select("id").distinct()
      val undecodable = sizes
        .join(decodedIds, Seq("id"), "left_anti")
        .select(col("id").as("asset_id"),
          lit(null).cast("long").as("matched_id"),
          lit(null).cast("long").as("hamming"),
          lit("undecodable").as("reason"))
      // within-batch temporal clusters → canonical survivors
      val pairs = Dedup.temporalNearDupsSig(sigs, maxHamming, bands = 16)
      val clusters = Dedup.dupClusters(pairs)
      val survivorIds = Dedup.keepCanonical(decodedIds, "id", clusters)
      val survivorSigs = sigs.join(survivorIds, Seq("id"))
      val localDropped = clusters
        .filter(col("canonical_id") =!= col("member_id"))
        .select(col("member_id").as("asset_id"),
          col("canonical_id").as("matched_id"),
          lit(0L).as("hamming"), // within-batch: clustered, not scored
          lit("within_batch").as("reason"))
      // replay safety: exclude THIS batch's partition from the index
      val (novelIds, crossDropped) = existingIndex(s, indexDir)
          .map(_.filter(col("ingest_batch") =!= lit(batchId))) match {
        case Some(idx) =>
          val cross = Dedup.temporalNearDupsSigCross(
            idx.select(col("asset_id").as("id"), col("slot"),
              col("dhash").as("sig")),
            survivorSigs, maxHamming, bands = 16)
          val dropped = cross.groupBy(col("batch_id").as("asset_id"))
            .agg(min_by(col("index_id"),
                struct(col("max_hamming"), col("index_id"))).as("matched_id"),
              min(col("max_hamming")).cast("long").as("hamming"))
            .withColumn("reason", lit("index_near_dup"))
          (survivorIds.join(dropped.select(col("asset_id").as("id")),
            Seq("id"), "left_anti"), dropped)
        case None =>
          (survivorIds, s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            localDropped.schema))
      }
      val novelT = Graft.truncate(
        sigs.join(novelIds, Seq("id"))
          .join(sizes, Seq("id"))
          .select(col("id").as("asset_id"), col("slot"),
            col("sig").as("dhash"), col("byte_size"))
          .withColumn("ingest_batch", lit(batchId)), eager = true)
      val quarT = Graft.truncate(
        localDropped.unionByName(crossDropped).unionByName(undecodable)
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
        Graft.releaseTruncated(clusters)
      }
    }
  }

  private def existingIndex(s: SparkSession,
      dir: String): Option[DataFrame] =
    try {
      // bare read: the index dir gains a partition every micro-batch,
      // so a memoized read plan would be stale by the next batch
      val df = s.read.parquet(dir)
      if (df.columns.contains("dhash") && df.columns.contains("slot"))
        Some(df)
      else None
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
}
