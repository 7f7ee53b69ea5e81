package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Graft
import graft.operators.Similarity

/** Streaming ingest of an EMBEDDING feed — the vector twin of
  * [[DocStream.nearDupIngest]] (reference ingest loop: 01/mongo-init
  * repeatedly loading new snapshots; here the payload is vectors) over
  * the [[NearDupGate]] core: within-batch near-duplicates collapse to
  * their cluster canonicals (IVF cosine pairs), survivors are checked
  * against the accumulated at-rest index with the CROSS-corpus IVF
  * banding ([[Similarity.cosineNearDupsIvfCross]] — index×batch
  * candidates only, no index self-pairs), novel vectors append to the
  * index and near-dup arrivals are quarantined with their best match by
  * (sim, lowest index id).
  *
  * State posture at scale: no in-stream vector state at all — the
  * index lives in parquet (the inverted-list-at-rest layout), and each
  * batch pays O(|batch|·√nCells) assignment plus the banded equi-join.
  */
object VecStream {

  /** Parquet schema of the embeddings table as stored. */
  val storedSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", LongType)))

  /** File-based stream over a directory of embeddings parquet; event
    * time derived from the id ([[NearDupGate.read]]).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    NearDupGate.read(spark, storedSchema, "vec_id", dir)

  def nearDupIngest(spark: SparkSession, feedDir: String, indexDir: String,
      quarantineDir: String, checkpointDir: String,
      threshold: Double = 0.9, watermark: String = "1 hour"): StreamingQuery =
    NearDupGate.start(
      NearDupGate.deduped(read(spark, feedDir), "vec_id", watermark),
      checkpointDir)(ingestBatch(_, _, indexDir, quarantineDir, threshold))

  private val sinks = NearDupGate.Sinks("vec_id", "sim", higherBetter = true,
    lit(null).cast("double"), Seq("vec_id", "embedding"))

  /** One micro-batch (exposed for direct testing). Cell counts follow
    * each side's size ([[Similarity.cellsFor]]).
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, quarantineDir: String, threshold: Double): Unit =
    NearDupGate.ingest(batch, batchId, indexDir, quarantineDir, sinks) { b =>
      val vecs = Graft.trackedPersist(b.select("vec_id", "embedding", "label"))
      NearDupGate.Arrivals(vecs,
        Similarity.cosineNearDupsIvf(vecs, "vec_id", "embedding", threshold,
          nCells = Similarity.cellsFor(vecs.count(), minCells = 8),
          nProbe = 2, tables = 4),
        (index, survivors) => Similarity.cosineNearDupsIvfCross(index,
          survivors, "vec_id", "embedding", threshold,
          nCells = Similarity.cellsFor(index.count(), minCells = 8),
          nProbe = 2, tables = 4))
    }
}
