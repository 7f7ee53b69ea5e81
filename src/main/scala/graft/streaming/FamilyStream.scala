package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** The shared MULTI-SIGNATURE-FAMILY stream-gate core (round 15):
  * [[CropStream]] (the m17 region-window family) and [[OrientStream]]
  * (the m22 dihedral orientation family) run the IDENTICAL micro-batch
  * pipeline — decode once into (id, familyMember, 8-byte sig) rows,
  * collapse within-batch relations to cluster canonicals, check
  * survivors against the accumulated at-rest family-fingerprint index
  * with the cross-corpus min-over-cross-product banding
  * ([[Dedup.regionNearDupsSigCross]] — candidates on (band, block)
  * WITHOUT the family-member id), append novel families and quarantine
  * duplicate arrivals — and differ ONLY in the hasher and the family
  * column's name (the MediaStream.sigIngestBatch factoring rule, lifted
  * from single signatures to families).
  *
  * State posture at scale (both gates): no in-stream image state — the
  * index holds (id, familyCol, 8-byte hash, byte size) rows in parquet
  * (R rows per image), media bytes never leave their batch's scan, and
  * each batch pays one decode pass plus the banded equi-join against
  * the index. Undecodable payloads quarantine as 'undecodable';
  * payloads that decode but qualify for no family window carry
  * 'too_small' (the ADVICE-r14 distinction — the hasher emits a
  * familyMember = -1 sentinel for them). Exactly-once effect without a
  * transactional sink: both writes are partitioned by micro-batch id
  * under dynamic partition overwrite with the batch's own partition
  * excluded from the index view (the DocStream rule).
  */
private[streaming] object FamilyStream {

  /** Parquet schema of the asset feed as stored. */
  val storedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("media_type", StringType),
    StructField("media", BinaryType)))

  /** File-based stream over a directory of asset parquet; event time
    * MONOTONE in the id (the DocStream/MediaStream rule).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(storedSchema).parquet(dir)
      .withColumn("ts",
        timestamp_seconds(lit(1577836800L) + col("asset_id")))

  /** One micro-batch. `familySigs` maps the (asset_id, media_type,
    * media) batch to (id, <familyCol>, sig) rows with the -1 sentinel
    * for decoded-but-sub-grid assets; `familyCol` names the family
    * member column in the at-rest index.
    */
  private[streaming] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, quarantineDir: String, maxHamming: Int,
      familyCol: String, familySigs: DataFrame => DataFrame): Unit = {
    import graft.Graft
    import org.apache.spark.storage.StorageLevel
    val s = batch.sparkSession
    if (batch.isEmpty) return
    Graft.cacheScope {
      // ONE decode pass: (id, familyCol, sig) for decodable images — R
      // 8-byte rows per image, plus the familyCol = -1 sentinel for
      // decoded-but-sub-grid pictures; the media column drops here
      val allSigs = Graft.trackedPersist(
        familySigs(batch.select("asset_id", "media_type", "media")),
        StorageLevel.MEMORY_AND_DISK)
      val sigs = allSigs.filter(col(familyCol) >= 0)
      val sizes = Graft.trackedPersist(
        batch.select(col("asset_id").as("id"),
          length(col("media")).cast("long").as("byte_size")),
        StorageLevel.MEMORY_AND_DISK)
      val decodedIds = sigs.select("id").distinct()
      def unmatched(reason: String, ids: DataFrame): DataFrame =
        ids.select(col("id").as("asset_id"),
          lit(null).cast("long").as("matched_id"),
          lit(null).cast("long").as("hamming"),
          lit(reason).as("reason"))
      // decoded fine but every family window is sub-grid: quarantined
      // with its own reason — such assets are never indexed (their
      // fingerprint would be degenerate), but the label says why
      val tooSmall = unmatched("too_small",
        allSigs.filter(col(familyCol) === -1).select("id"))
      val undecodable = unmatched("undecodable",
        sizes.select("id")
          .join(allSigs.select("id").distinct(), Seq("id"), "left_anti"))
      // within-batch family clusters → canonical survivors
      val pairs = Dedup.regionNearDupsSig(sigs.select("id", "sig"),
          maxHamming, bands = 8)
        .select(col("id1"), col("id2"))
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
      val (novelIds, crossDropped) = existingIndex(s, indexDir, familyCol)
          .map(_.filter(col("ingest_batch") =!= lit(batchId))) match {
        case Some(idx) =>
          val cross = Dedup.regionNearDupsSigCross(
            idx.select(col("asset_id").as("id"), col("dhash").as("sig")),
            survivorSigs.select("id", "sig"), maxHamming, bands = 8)
          val dropped = cross.groupBy(col("batch_id").as("asset_id"))
            .agg(min_by(col("index_id"),
                struct(col("min_hamming"), col("index_id"))).as("matched_id"),
              min(col("min_hamming")).cast("long").as("hamming"))
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
          .select(col("id").as("asset_id"), col(familyCol),
            col("sig").as("dhash"), col("byte_size"))
          .withColumn("ingest_batch", lit(batchId)), eager = true)
      val quarT = Graft.truncate(
        localDropped.unionByName(crossDropped).unionByName(tooSmall)
          .unionByName(undecodable)
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

  private def existingIndex(s: SparkSession, dir: String,
      familyCol: String): Option[DataFrame] =
    try {
      // bare read: the index dir gains a partition every micro-batch,
      // so a memoized read plan would be stale by the next batch
      val df = s.read.parquet(dir)
      if (df.columns.contains("dhash") && df.columns.contains(familyCol))
        Some(df)
      else None
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
}
