package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal}

/** Streaming ingest of an IMAGE feed with PERCEPTUAL dedup — the media
  * twin of [[VecStream.nearDupIngest]] (round 12, completing the
  * near-dup ingest trio: documents / vectors / images): per
  * micro-batch, decode every arriving image (magic-sniffed
  * BMP/PNG/GIF/JPEG), compute the 64-bit dHash, collapse within-batch
  * perceptual duplicates to their cluster canonicals, check survivors
  * against the accumulated at-rest FINGERPRINT index with the
  * cross-corpus Hamming banding ([[Dedup.hammingNearDupsSigCross]] —
  * index×batch candidates only), append novel fingerprints to the
  * index and quarantine duplicate arrivals with their best match. A
  * re-encoded copy of an already-ingested picture — different
  * container, zero shared bytes — is caught at the gate, which is the
  * whole point of hashing the picture instead of the bytes.
  *
  * State posture at scale: no in-stream image state at all — the index
  * holds (id, 8-byte dHash, byte size) rows in parquet, media bytes
  * never leave their batch's scan, and each batch pays one decode pass
  * plus the banded equi-join against the index. Payloads with no
  * usable fingerprint — undecodable bytes, or images smaller than the
  * 9×8 dHash grid (a degenerate all-zero key; see Multimodal.dHash) —
  * are quarantined loudly (reason "undecodable"), never silently
  * dropped. Exactly-once effect without a transactional sink: both
  * writes are partitioned by micro-batch id under dynamic partition
  * overwrite, so an at-least-once replay overwrites its own partition
  * (the DocStream rule).
  */
object MediaStream {

  /** Parquet schema of the asset feed as stored. */
  val storedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("media_type", StringType),
    StructField("media", BinaryType)))

  /** File-based stream over a directory of asset parquet; event time
    * derived deterministically from the id — MONOTONE in the id (the
    * DocStream/VecStream rule). A modular wrap (an earlier `% 100000`)
    * would step event time backward below the watermark once ids pass
    * the modulus, and dropDuplicatesWithinWatermark would silently drop
    * ~all subsequent arrivals as late — production data loss a fixture
    * never reaches.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(storedSchema).parquet(dir)
      .withColumn("ts",
        timestamp_seconds(lit(1577836800L) + col("asset_id")))

  def nearDupIngest(spark: SparkSession, feedDir: String, indexDir: String,
      quarantineDir: String, checkpointDir: String,
      maxHamming: Int = 7, watermark: String = "1 hour")
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
    val s = batch.sparkSession
    import s.implicits._
    sigIngestBatch(batch, batchId, indexDir, quarantineDir, maxHamming,
      b => Multimodal.dHash(
          b.select("asset_id", "media_type", "media")
            .as[Multimodal.Asset]).toDF()
        .select(col("asset_id").as("id"), col("dhash").as("sig")))
  }

  /** The single-64-bit-signature ingest core, shared by the image gate
    * (dHash) and [[AudioStream]]'s amplitude-sign gate — the modality
    * differs only in the `hash` projection (batch → (id, sig), rows
    * DROPPED for payloads with no usable fingerprint); clustering,
    * index cross-check, idempotent writes, and quarantine semantics
    * are identical. (The video gate needs the multi-slot temporal
    * machinery instead — see VideoStream.)
    */
  private[streaming] def sigIngestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, quarantineDir: String, maxHamming: Int,
      hash: DataFrame => DataFrame): Unit = {
    import graft.Graft
    import org.apache.spark.storage.StorageLevel
    val s = batch.sparkSession
    if (batch.isEmpty) return
    Graft.cacheScope {
      // ONE decode pass: (id, sig, bytes) for fingerprintable payloads
      // — 16 B/asset of state; the media column is dropped right here
      val hashed = hash(batch)
      val sizes = batch.select(col("asset_id").as("id"),
        length(col("media")).cast("long").as("byte_size"))
      val sigs = sizes.join(hashed, Seq("id"), "left")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val undecodable = sigs.filter(col("sig").isNull)
          .select(col("id").as("asset_id"),
            lit(null).cast("long").as("matched_id"),
            lit(null).cast("long").as("hamming"),
            lit("undecodable").as("reason"))
        val decoded = sigs.filter(col("sig").isNotNull)
        // within-batch perceptual clusters → canonical survivors
        val pairs = Dedup.hammingNearDupsSig(decoded.select("id", "sig"),
            maxHamming, bands = 8)
          .select(col("id1"), col("id2"))
        val clusters = Dedup.dupClusters(pairs)
        val survivors = Dedup.keepCanonical(decoded, "id", clusters)
        val localDropped = clusters
          .filter(col("canonical_id") =!= col("member_id"))
          .select(col("member_id").as("asset_id"),
            col("canonical_id").as("matched_id"),
            lit(0L).as("hamming"), // within-batch: clustered, not scored
            lit("within_batch").as("reason"))
        // replay safety: exclude THIS batch's partition from the index
        val (novel, crossDropped) = existingIndex(s, indexDir)
            .map(_.filter(col("ingest_batch") =!= lit(batchId))) match {
          case Some(idx) =>
            val cross = Dedup.hammingNearDupsSigCross(
              idx.select(col("asset_id").as("id"), col("dhash").as("sig")),
              survivors.select("id", "sig"), maxHamming, bands = 8)
            val dropped = cross.groupBy(col("batch_id").as("asset_id"))
              .agg(min_by(col("index_id"),
                  struct(col("hamming"), col("index_id"))).as("matched_id"),
                min(col("hamming")).as("hamming"))
              .withColumn("reason", lit("index_near_dup"))
            (survivors.join(dropped.select("asset_id").withColumnRenamed(
              "asset_id", "id"), Seq("id"), "left_anti"), dropped)
          case None =>
            (survivors, s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              localDropped.schema))
        }
        val novelT = Graft.truncate(
          novel.select(col("id").as("asset_id"), col("sig").as("dhash"),
            col("byte_size"))
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
      } finally {
        sigs.unpersist(false)
      }
    }
  }

  private def existingIndex(s: SparkSession,
      dir: String): Option[DataFrame] =
    try {
      // bare read: the index dir gains a partition every micro-batch,
      // so a memoized read plan would be stale by the next batch
      val df = s.read.parquet(dir)
      if (df.columns.contains("dhash")) Some(df) else None
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
}
