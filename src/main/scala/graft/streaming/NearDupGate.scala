package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.Graft
import graft.operators.Dedup

/** The exactly-once micro-batch core under every streaming near-dup
  * gate ([[DocStream]], [[VecStream]], [[AssetStream]]). Per batch:
  * within-batch near-dups collapse to their cluster canonicals
  * (pairs → `dupClusters` → `keepCanonical`), survivors are checked
  * against the ACCUMULATED at-rest index with the gate's cross-corpus
  * operator (index×batch candidates only), novel arrivals append to the
  * index and near-dup arrivals land in the quarantine with their best
  * match.
  *
  * Exactly-once effect without a transactional sink: both writes are
  * partitioned by micro-batch id under DYNAMIC partition overwrite, and
  * the batch's own partition is excluded from the index view, so a
  * replayed batch (foreachBatch is at-least-once after a failure) sees
  * the index its first run saw and overwrites its own partitions
  * instead of double-appending — also after a crash between the two
  * writes.
  *
  * State posture at scale: in-stream state is only the within-watermark
  * dedup set; the index lives in parquet, and each batch pays the
  * banded index×batch dataflow, never index-resident memory.
  */
private[streaming] object NearDupGate {

  /** One gate's sinks: the id column of both, the quarantine's score
    * column (higher or lower is better), the score a within-batch row
    * carries (clustered, not scored), and the index columns the gate
    * reads back — an index dir without them belongs to another gate.
    */
  final case class Sinks(id: String, score: String, higherBetter: Boolean,
      withinScore: Column, indexCols: Seq[String])

  /** What one batch brings to the core: one row per fingerprinted
    * arrival keyed by the gate's id, its within-batch pairs (id1, id2),
    * the cross operator (prior index, survivors) → (index_id, batch_id,
    * score), the index rows of the novel survivors, and quarantine rows
    * settled before clustering (payloads with no usable fingerprint).
    */
  final case class Arrivals(rows: DataFrame, pairs: DataFrame,
      cross: (DataFrame, DataFrame) => DataFrame,
      indexRows: DataFrame => DataFrame = identity,
      rejected: Seq[DataFrame] = Nil)

  /** File-based stream over a directory of parquet. The feed carries no
    * arrival time, so event time is derived from the id (1 s per id from
    * a fixed epoch) — MONOTONE in the id: a modular wrap would step event
    * time below the watermark and silently drop later arrivals as late.
    */
  def read(spark: SparkSession, schema: StructType, id: String,
      dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", eventTime(id))

  def eventTime(id: String): Column =
    timestamp_seconds(lit(1577836800L) + col(id))

  /** At-least-once redeliveries of `key` dropped inside the watermark. */
  def deduped(feed: DataFrame, key: String, watermark: String): DataFrame =
    feed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key)

  def start(feed: DataFrame, checkpointDir: String)(
      ingest: (DataFrame, Long) => Unit): StreamingQuery =
    feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => ingest(batch, batchId) }
      .start()

  /** One micro-batch (batch-deterministic: the stream only schedules it).
    * `arrivals` runs inside the batch's [[Graft.cacheScope]], so its
    * `trackedPersist`s — and the operators' — are released at scope exit
    * through the CacheManager, and only those: caches owned by other
    * streams or queries sharing the session survive the batch.
    */
  def ingest(batch: DataFrame, batchId: Long, indexDir: String,
      quarantineDir: String, sinks: Sinks)(
      arrivals: DataFrame => Arrivals): Unit = {
    if (batch.isEmpty) return
    val id = sinks.id
    Graft.cacheScope {
      val a = arrivals(batch)
      val clusters = Dedup.dupClusters(a.pairs)
      val survivors = Dedup.keepCanonical(a.rows, id, clusters)
      val within = clusters.filter(col("canonical_id") =!= col("member_id"))
        .select(col("member_id").as(id), col("canonical_id").as("matched_id"),
          sinks.withinScore.as(sinks.score), lit("within_batch").as("reason"))
      val crossDropped = priorIndex(batch.sparkSession, indexDir, sinks, batchId)
        .map(idx => bestMatch(a.cross(idx, survivors), sinks))
      val novel = crossDropped.fold(survivors)(d =>
        survivors.join(d.select(id), Seq(id), "left_anti"))
      // MATERIALIZE both outputs before writing: `novel` still reads
      // indexDir through the cross lineage, and Spark refuses (or worse,
      // races) an overwrite of a path the plan also scans
      val novelT = Graft.truncate(
        a.indexRows(novel).withColumn("ingest_batch", lit(batchId)))
      val quarT = Graft.truncate(
        (within +: (crossDropped.toSeq ++ a.rejected)).reduce(_ unionByName _)
          .withColumn("ingest_batch", lit(batchId)))
      try {
        novelT.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(indexDir)
        quarT.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(quarantineDir)
      } finally {
        // dupClusters' final label round is lineage-truncated too; all
        // three are dead once both sinks are written
        Seq(novelT, quarT, clusters).foreach(Graft.releaseTruncated)
      }
    }
  }

  /** The index as of the batches before `batchId`, or None while the dir
    * is missing or holds no parquet yet. A dir without the gate's index
    * columns holds another gate's index: appending to it would mix two
    * layouts and match against nothing, so it fails loudly.
    */
  private def priorIndex(s: SparkSession, dir: String, sinks: Sinks,
      batchId: Long): Option[DataFrame] = {
    // a missing dir is checked first: reading it would make Spark log a
    // FileNotFoundException stack trace before the AnalysisException
    val path = new Path(dir)
    // bare read: the index dir gains a partition every micro-batch, so a
    // memoized read plan would be stale by the next batch
    val read =
      if (!path.getFileSystem(s.sparkContext.hadoopConfiguration).exists(path)) None
      else try Some(s.read.parquet(dir))
        catch { case _: AnalysisException => None }
    read.map { idx =>
      val missing = (sinks.indexCols :+ "ingest_batch")
        .filterNot(idx.columns.contains)
      require(missing.isEmpty, s"index dir $dir lacks column(s) " +
        s"${missing.mkString(", ")}: it holds another gate's index " +
        s"(${idx.columns.mkString(", ")})")
      idx.filter(col("ingest_batch") =!= lit(batchId))
    }
  }

  /** One quarantine row per arrival: the best match by score, then the
    * lowest index id.
    */
  private def bestMatch(cross: DataFrame, sinks: Sinks): DataFrame = {
    val score = col(sinks.score)
    cross.groupBy(col("batch_id").as(sinks.id))
      .agg(min_by(col("index_id"),
          struct(if (sinks.higherBetter) -score else score, col("index_id")))
          .as("matched_id"),
        (if (sinks.higherBetter) max(score) else min(score)).as(sinks.score))
      .withColumn("reason", lit("index_near_dup"))
  }
}
