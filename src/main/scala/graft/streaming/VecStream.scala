package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

/** Streaming ingest of an EMBEDDING feed — the vector twin of
  * [[DocStream.nearDupIngest]] (reference ingest loop: 01/mongo-init
  * repeatedly loading new snapshots; here the payload is vectors):
  * per micro-batch, collapse within-batch near-duplicates to their
  * cluster canonicals, check survivors against the accumulated at-rest
  * index with the CROSS-corpus IVF banding
  * ([[Similarity.cosineNearDupsIvfCross]] — index×batch candidates
  * only, no index self-pairs), append novel vectors to the index and
  * quarantine near-dup arrivals with their best match.
  *
  * State posture at scale: no in-stream vector state at all — the
  * index lives in parquet (the inverted-list-at-rest layout), and each
  * batch pays O(|batch|·√nCells) assignment plus the banded equi-join.
  * Exactly-once effect without a transactional sink: both writes are
  * partitioned by micro-batch id under dynamic partition overwrite, so
  * an at-least-once replay overwrites its own partition (the DocStream
  * rule).
  */
object VecStream {

  /** Parquet schema of the embeddings table as stored. */
  val storedSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", LongType)))

  /** File-based stream over a directory of embeddings parquet; event
    * time derived deterministically from the id (1 s per vector from a
    * fixed epoch), replicable in any batch twin.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(storedSchema).parquet(dir)
      .withColumn("ts", timestamp_seconds(lit(1577836800L) + col("vec_id")))

  def nearDupIngest(spark: SparkSession, feedDir: String, indexDir: String,
      quarantineDir: String, checkpointDir: String,
      threshold: Double = 0.9, watermark: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    read(spark, feedDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("vec_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, indexDir, quarantineDir, threshold)
      }
      .start()

  /** One micro-batch (exposed for direct testing — semantics are
    * batch-deterministic, the stream only schedules it).
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, quarantineDir: String, threshold: Double): Unit = {
    import graft.Graft
    import org.apache.spark.storage.StorageLevel
    val s = batch.sparkSession
    if (batch.isEmpty) return
    val b0 = batch.select("vec_id", "embedding", "label")
      .persist(StorageLevel.MEMORY_AND_DISK)
    Graft.cacheScope {
    try {
      val nBatch = b0.count()
      val ncLocal = Similarity.cellsFor(nBatch, minCells = 8)
      val pairs = Similarity.cosineNearDupsIvf(b0, "vec_id", "embedding",
          threshold, nCells = ncLocal, nProbe = 2, tables = 4)
        .select(col("id1"), col("id2"))
      val clusters = Dedup.dupClusters(pairs)
      val localSurvivors = Dedup.keepCanonical(b0, "vec_id", clusters)
      val localDropped = b0
        .join(clusters.filter(col("canonical_id") =!= col("member_id"))
            .select(col("member_id").as("vec_id"), col("canonical_id")),
          Seq("vec_id"))
        .select(col("vec_id"), col("canonical_id").as("matched_id"),
          lit(null).cast("double").as("sim"),
          lit("within_batch").as("reason"))
      // replay safety: exclude THIS batch's own partition from the
      // index view (the DocStream rule — a replayed batch must see the
      // same prior-state index as the original run)
      val (novel, crossDropped) = existingIndex(s, indexDir)
          .map(_.filter(col("ingest_batch") =!= lit(batchId))) match {
        case Some(idx) =>
          val nIdx = idx.count()
          val cross = Similarity.cosineNearDupsIvfCross(
            idx, localSurvivors, "vec_id", "embedding", threshold,
            nCells = Similarity.cellsFor(nIdx, minCells = 8),
            nProbe = 2, tables = 4)
          val dropped = cross.groupBy(col("batch_id").as("vec_id"))
            .agg(max_by(col("index_id"),
                struct(col("sim"), -col("index_id"))).as("matched_id"),
              max(col("sim")).as("sim"))
            .withColumn("reason", lit("index_near_dup"))
          (localSurvivors.join(dropped.select("vec_id"),
            Seq("vec_id"), "left_anti"), dropped)
        case None =>
          (localSurvivors,
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              localDropped.schema))
      }
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
      if (df.columns.contains("vec_id")) Some(df) else None
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
}
