package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Graft
import graft.operators.{Dedup, Multimodal}

/** Streaming PERCEPTUAL near-dup ingest of an asset feed (asset_id,
  * media_type, media) over the [[NearDupGate]] core: one gate per edit
  * class, each a [[Gate]] value that picks the hasher. A copy that
  * shares zero bytes with an indexed asset is caught at the gate, which
  * is the point of hashing the content instead of the bytes.
  *
  *  - [[Image]]: 64-bit dHash of every decoded picture (magic-sniffed
  *    BMP/PNG/GIF/JPEG) — re-encodes in another container or quality.
  *  - [[Audio]]: the m15 window-amplitude-delta sign hash of the decoded
  *    PCM, gain-invariant by construction — gain-changed and requantized
  *    copies of a recording.
  *  - [[Video]]: the m14 temporal signature, dHashes of k=4
  *    duration-fraction frames, every aligned slot within the radius —
  *    re-encodes in another codec, resolution or frame rate.
  *  - [[Crop]]: the m17 overlapping multi-scale region-window family
  *    (R=7) — cropped reposts, at 0 on the window grid and near it
  *    off-grid; invisible to the whole-image dHash.
  *  - [[Orient]]: all 8 dihedral orientations (m22) — rotated or mirrored
  *    reposts, at EXACTLY 0 by group closure; invisible to the crop gate.
  *  - [[RotCrop]]: the m24 union family (7 upright regions + 7
  *    non-identity orientations) — reposts both rotated AND cropped,
  *    invisible to the crop and orientation gates alone.
  *
  * Three signature shapes: single (image, audio — Hamming banding),
  * slotted (video — temporal banding on (slot, band, block)) and family
  * (crop, orient, rot-crop — banding without the member id, verified by
  * the minimum over the family cross product). The index holds
  * (asset_id, [member,] 8-byte dhash, byte_size) rows, so media bytes
  * never leave their batch's scan. Payloads with no usable fingerprint
  * are quarantined loudly as 'undecodable'; a family picture that
  * decodes but is too small for every window (the hasher's member = -1
  * sentinel) as 'too_small'. Cross matches keep the lowest Hamming
  * distance, then the lowest index id.
  */
object AssetStream {

  /** Parquet schema of the asset feed as stored. */
  val storedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("media_type", StringType),
    StructField("media", BinaryType)))

  /** File-based stream over a directory of asset parquet. */
  def read(spark: SparkSession, dir: String): DataFrame =
    NearDupGate.read(spark, storedSchema, "asset_id", dir)

  /** One asset gate: `hash` maps the batch to (asset_id, [member,]
    * dhash) rows; `selfPairs` and `cross` band (id, [slot,] sig) rows into
    * within-batch pairs and (index_id, batch_id, `crossScore`) matches.
    */
  final class Gate private (
      hash: Dataset[Multimodal.Asset] => Dataset[_],
      member: Option[String], radius: Int, sigCols: Seq[String],
      selfPairs: (DataFrame, Int) => DataFrame,
      cross: (DataFrame, DataFrame, Int) => DataFrame, crossScore: String) {

    private val indexCols = ("asset_id" +: member.toSeq) :+ "dhash"
    private val sinks = NearDupGate.Sinks("asset_id", "hamming",
      higherBetter = false, lit(0L), indexCols)
    private def sigs(df: DataFrame): DataFrame =
      df.withColumnsRenamed(Map("asset_id" -> "id", "dhash" -> "sig"))
        .select(sigCols.map(col): _*)

    def nearDupIngest(spark: SparkSession, feedDir: String,
        indexDir: String, quarantineDir: String, checkpointDir: String,
        maxHamming: Int = radius, watermark: String = "1 hour")
        : StreamingQuery =
      NearDupGate.start(
        NearDupGate.deduped(read(spark, feedDir), "asset_id", watermark),
        checkpointDir)(ingestBatch(_, _, indexDir, quarantineDir, maxHamming))

    /** One micro-batch (exposed for direct testing). */
    private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
        indexDir: String, quarantineDir: String, maxHamming: Int): Unit =
      NearDupGate.ingest(batch, batchId, indexDir, quarantineDir, sinks) { b =>
        import b.sparkSession.implicits._
        // ONE decode pass: 8-byte rows per hashed asset; the media
        // column drops here
        val hashed = Graft.trackedPersist(hash(
          b.select("asset_id", "media_type", "media").as[Multimodal.Asset]).toDF())
        val sizes = Graft.trackedPersist(b.select(col("asset_id"),
          length(col("media")).cast("long").as("byte_size")))
        val fingerprints = member.fold(hashed)(m => hashed.filter(col(m) >= 0))
        def unmatched(reason: String, ids: DataFrame): DataFrame =
          ids.select(col("asset_id"), lit(null).cast("long").as("matched_id"),
            lit(null).cast("long").as("hamming"), lit(reason).as("reason"))
        val tooSmall = member.map(m => unmatched("too_small",
          hashed.filter(col(m) === -1).select("asset_id")))
        val undecodable = unmatched("undecodable", sizes.select("asset_id")
          .join(hashed.select("asset_id").distinct(), Seq("asset_id"), "left_anti"))
        NearDupGate.Arrivals(
          fingerprints.select("asset_id").distinct(),
          selfPairs(sigs(fingerprints), maxHamming).select("id1", "id2"),
          (index, survivors) => cross(sigs(index),
              sigs(fingerprints.join(survivors, Seq("asset_id"))), maxHamming)
            .select(col("index_id"), col("batch_id"),
              col(crossScore).cast("long").as("hamming")),
          novel => fingerprints.join(novel, Seq("asset_id"))
            .join(sizes, Seq("asset_id"))
            .select((indexCols :+ "byte_size").map(col): _*),
          tooSmall.toSeq :+ undecodable)
      }
  }

  private object Gate {
    def single(hash: Dataset[Multimodal.Asset] => Dataset[_]): Gate =
      new Gate(hash, None, 7, Seq("id", "sig"),
        Dedup.hammingNearDupsSig(_, _, bands = 8),
        Dedup.hammingNearDupsSigCross(_, _, _, bands = 8), "hamming")
    def slotted(hash: Dataset[Multimodal.Asset] => Dataset[_]): Gate =
      new Gate(hash, Some("slot"), 15, Seq("id", "slot", "sig"),
        Dedup.temporalNearDupsSig(_, _, bands = 16),
        Dedup.temporalNearDupsSigCross(_, _, _, bands = 16), "max_hamming")
    def family(member: String,
        hash: Dataset[Multimodal.Asset] => Dataset[_]): Gate =
      new Gate(hash, Some(member), 7, Seq("id", "sig"),
        Dedup.regionNearDupsSig(_, _, bands = 8),
        Dedup.regionNearDupsSigCross(_, _, _, bands = 8), "min_hamming")
  }

  val Image: Gate = Gate.single(Multimodal.dHash)
  val Audio: Gate = Gate.single(Multimodal.audioDHash(_))
  val Video: Gate = Gate.slotted(Multimodal.videoDHash(_, 4))
  val Crop: Gate = Gate.family("region", Multimodal.regionDHashStatus)
  val Orient: Gate = Gate.family("orient", Multimodal.orientDHashStatus)
  val RotCrop: Gate = Gate.family("fam", Multimodal.rotCropDHashStatus)
}
