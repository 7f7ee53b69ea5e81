package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One stream gate under test: its temp feed, index, quarantine and
  * checkpoint dirs, feed staging, sink snapshots and the replay input.
  */
final class GateScaffold(spark: SparkSession, prefix: String) {
  private def tmp(name: String): Path =
    Files.createTempDirectory(s"${prefix}_$name")
  val feed: Path = tmp("feed")
  val index: String = tmp("index").toString
  val quar: String = tmp("quar").toString
  val ckpt: String = tmp("ckpt").toString

  /** Writes `rows` as ONE parquet file and moves it into the feed as
    * `name`: a file stream must see a whole file appear at once.
    */
  def stage(name: String, rows: DataFrame): Unit = {
    val t = tmp("stage")
    rows.coalesce(1).write.mode("overwrite").parquet(t.toString)
    val part = new java.io.File(t.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, feed.resolve(name))
  }

  /** [[stage]] for the asset gates' (asset_id, media_type, media) feed. */
  def stageAssets(name: String, rows: Seq[(Long, String, Array[Byte])]): Unit =
    stage(name, GateScaffold.assets(spark, rows))

  /** The staged feed file `name` read back as a batch: the replay input. */
  def staged(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(feed.resolve(name).toString)

  /** Both sinks as sets: index rows over `idxCols` mapped by `idx`,
    * quarantine rows over `quarCols` mapped by `q`.
    */
  def sinks[I, Q](idxCols: Seq[String], idx: Row => I)(
      quarCols: Seq[String], q: Row => Q): (Set[I], Set[Q]) = (
    spark.read.parquet(index).select(idxCols.map(col): _*)
      .collect().iterator.map(idx).toSet,
    spark.read.parquet(quar).select(quarCols.map(col): _*)
      .collect().iterator.map(q).toSet)

  /** The asset gates' snapshot: (asset_id, ingest_batch) index rows and
    * (asset_id, matched_id or -1, reason) quarantine rows.
    */
  def assetSinks(): (Set[(Long, Int)], Set[(Long, Long, String)]) =
    sinks(Seq("asset_id", "ingest_batch"), r => (r.getLong(0), r.getInt(1)))(
      Seq("asset_id", "matched_id", "reason"),
      r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getString(2)))
}

object GateScaffold {
  def assets(spark: SparkSession,
      rows: Seq[(Long, String, Array[Byte])]): DataFrame =
    spark.createDataFrame(rows).toDF("asset_id", "media_type", "media")

  /** 256 bytes no decoder accepts. */
  def blob(mul: Int = 37, add: Int = 11): Array[Byte] =
    Array.tabulate[Byte](256)(i => (i * mul + add).toByte)
}
