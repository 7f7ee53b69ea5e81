package graft.pipelines

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Clean
import graft.sources.XlsBinary
import graft.tools.GenXls

/** The reference's binary-Excel pipeline (S5 + A11/K2,
  * 01-data-extraction-fundamentals/excel_csv.py + ercot_coast_stats
  * .py): read the 2013 ERCOT hourly-load workbook, find the time and
  * value of max load per region. Without the reference workbook the
  * fixture is melted from tools.GenXls's synthetic workbook of the same
  * shape (see `ensure`).
  *
  * The .xls grid is parsed driver-side (a workbook is one unsplittable
  * blob; XlsBinary.readMany is the many-files distributed path) and
  * immediately becomes a melted (station, serial, load) DataFrame —
  * everything after the 65k-cell parse is ordinary distributed Spark.
  */
object Ercot {

  val defaultXls: String = sys.env.getOrElse("SPARK_GRAFT_ERCOT_XLS",
    "/root/reference/01-data-extraction-fundamentals/2013_ERCOT_Hourly_Load_Data.xls")

  val root: String = sys.env.getOrElse("SPARK_GRAFT_ERCOT_DIR", "/root/repo/data/ercot")
  def meltedPath: String = s"$root/hourly_loads.parquet"

  /** Workbook grid → melted (station, serial, load) rows. Column 0 is
    * the Hour_End serial date; every other header cell names a region
    * series (the reference iterates range(1, len(header)-1), i.e. it
    * EXCLUDES the final ERCOT total column — replicated here).
    */
  def melt(spark: SparkSession, xlsPath: String = defaultXls): DataFrame = {
    import spark.implicits._
    val grid = XlsBinary.readGrid(xlsPath)
    val header = grid.head.map(_.fold("")(_.toString))
    val rows = for {
      r <- grid.iterator.drop(1)
      serial <- r.headOption.flatten.collect { case d: Double => d }.iterator
      c <- (1 until header.length - 1).iterator // drop trailing total col
      load <- r(c).collect { case d: Double => d }.iterator
    } yield (header(c), serial, load)
    rows.toSeq.toDF("station", "serial", "load")
  }

  /** Per-region max load + its (first) occurrence time, shaped like
    * excel_csv.py's output table: Station|Year|Month|Day|Hour|Max Load.
    * First-occurrence tiebreak = min serial among max rows (the
    * reference uses list.index(max)).
    */
  def maxLoads(melted: DataFrame): DataFrame = {
    val m = melted.groupBy("station").agg(max(col("load")).as("max_load"))
    val firstAt = melted.as("e")
      .join(m.as("m"), col("e.station") === col("m.station") &&
        col("e.load") === col("m.max_load"))
      .groupBy(col("e.station").as("station"))
      .agg(min(col("e.serial")).as("serial"), max(col("e.load")).as("max_load"))
    val ts = Clean.excelSerialToTimestamp(col("serial")).cast("timestamp_ntz")
    firstAt.select(col("station"),
        year(ts).cast("long").as("year"),
        month(ts).cast("long").as("month"),
        dayofmonth(ts).cast("long").as("day"),
        hour(ts).cast("long").as("hour"),
        col("max_load"))
      .orderBy("station")
  }

  @volatile private var ready = false

  /** Provenance of the melted table, written beside it: `reference`, or
    * `generated:v<N>` for a table melted from tools.GenXls version N.
    */
  private def markerPath: String = s"$root/SOURCE"
  private def generated: String = s"generated:v${GenXls.version}"
  private def builtFrom: Option[String] =
    try Some(Files.readString(Paths.get(markerPath)).trim)
    catch { case _: java.io.IOException => None }

  /** Persist the melted table for the declared s5 query + its DuckDB
    * mirror (both read this parquet). With the reference workbook
    * present it is melted from that workbook; absent, from a synthetic
    * one of the same shape, written to `$root/synth.xls` by
    * tools.GenXls and parsed by the same XlsBinary path. A table
    * melted from the reference, or built before the marker existed, is
    * kept while the reference is absent; a generated one is rebuilt
    * once the reference appears or the generator version changes.
    */
  def ensure(spark: SparkSession): Unit = if (!ready) synchronized {
    if (ready) return
    val reference = new File(defaultXls).exists()
    val built = new File(s"$meltedPath/_SUCCESS").exists()
    val stale = builtFrom match {
      case _ if !built => true
      case Some(m) if reference => m != "reference"
      case None => reference
      case Some(m) => m.startsWith("generated:") && m != generated
    }
    if (stale) {
      val (xls, marker) =
        if (reference) (defaultXls, "reference")
        else { GenXls.write(s"$root/synth.xls"); (s"$root/synth.xls", generated) }
      melt(spark, xls).repartition(4).write.mode("overwrite").parquet(meltedPath)
      Files.writeString(Paths.get(markerPath), marker)
    }
    ready = true
  }
}
