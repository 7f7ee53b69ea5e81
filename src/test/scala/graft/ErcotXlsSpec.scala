package graft

import java.io.File
import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}

import graft.pipelines.Ercot
import graft.sources.XlsBinary
import graft.tools.GenXls

/** Binary .xls reader (S5) against the reference's REAL workbook, with
  * the goldens from 01-data-extraction-fundamentals/excel_csv.py:
  * 8 stations, FAR_WEST max 2281.2722140000024 at 2013-06-26 hour 17.
  * The last test runs anywhere: the synthetic workbook of tools.GenXls
  * (the fixture without the reference) against its own generated grid.
  */
class ErcotXlsSpec extends SparkSpec {

  private def xls = Ercot.defaultXls
  private def available = new File(xls).exists()

  test("S5 OLE2+BIFF8 parse: grid shape and header (excel_csv.py:22-31)") {
    assume(available, s"reference workbook not mounted at $xls")
    val grid = XlsBinary.readGrid(xls)
    assert(grid.length == 7296 && grid.head.length == 10)
    assert(grid.head.flatten == Seq("Hour_End", "COAST", "EAST", "FAR_WEST",
      "NORTH", "NORTH_C", "SOUTHERN", "SOUTH_C", "WEST", "ERCOT"))
    // numeric grid is dense: every data row has all 10 values
    assert(grid.drop(1).forall(r => r.flatten.length == 10))
  }

  test("S5 max-loads pipeline matches excel_csv.py's asserted answer") {
    assume(available, s"reference workbook not mounted at $xls")
    val out = Ercot.maxLoads(Ercot.melt(spark)).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("COAST", "EAST", "FAR_WEST",
      "NORTH", "NORTH_C", "SOUTHERN", "SOUTH_C", "WEST"))
    val fw = out.find(_.getString(0) == "FAR_WEST").get
    assert(math.abs(fw.getDouble(5) - 2281.2722140000024) < 1e-9)
    assert((fw.getLong(1), fw.getLong(2), fw.getLong(3), fw.getLong(4)) ==
      ((2013L, 6L, 26L, 17L)))
  }

  test("distributed readMany yields the same cells as the local parse") {
    assume(available, s"reference workbook not mounted at $xls")
    val local = XlsBinary.readCells(xls)
    val dist = XlsBinary.readMany(spark, xls)
    assert(dist.count() == local.length.toLong)
    import org.apache.spark.sql.functions._
    val sums = dist.agg(
      sum(when(col("str").isNull, col("num")).otherwise(lit(0.0))),
      count(when(col("str").isNotNull, lit(1)))).collect()(0)
    val localNumSum = local.collect { case XlsBinary.Cell(_, _, d: Double) => d }.sum
    val localStrCount = local.count(_.value.isInstanceOf[String])
    assert(math.abs(sums.getDouble(0) - localNumSum) < 1e-6)
    assert(sums.getLong(1) == localStrCount.toLong)
  }

  test("generated workbook: XlsBinary reads back GenXls's grid; max loads match excel_csv.py's rules") {
    val dir = Files.createTempDirectory("genxls").toFile
    try {
      val xls = new File(dir, "synth.xls").getPath
      val grid = GenXls.write(xls)

      // (a) the exact grid: header strings and every double
      val read = XlsBinary.readGrid(xls)
      assert(read.length == 7296 && read.forall(_.length == 10))
      assert(read.head.flatten == GenXls.header)
      assert(read == grid.map(_.map(Some(_))))

      // (b) excel_csv.py over the grid: regions are header(1 until
      // len-1) (the ERCOT total excluded), max via list.index(max) —
      // the first occurrence — and xlrd-rounded datetime of that row
      val rows = grid.tail
      val expected = (1 until GenXls.header.length - 1).map { c =>
        val col = rows.map(_(c).asInstanceOf[Double])
        val at = col.indexOf(col.max)
        val serial = rows(at)(0).asInstanceOf[Double]
        val t = LocalDateTime.ofEpochSecond(
          math.floor((serial - 25569) * 86400 + 0.5).toLong, 0, ZoneOffset.UTC)
        (GenXls.header(c), t.getYear.toLong, t.getMonthValue.toLong,
          t.getDayOfMonth.toLong, t.getHour.toLong, col.max)
      }.sortBy(_._1)
      val tied = rows.map(_(GenXls.header.indexOf(GenXls.tiedRegion)).asInstanceOf[Double])
      assert(tied.count(_ == tied.max) >= 2, "no repeated maximum planted")
      val out = Ercot.maxLoads(Ercot.melt(spark, xls)).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toSeq
      assert(out == expected)

      // (c) the distributed read yields the same cells as the local parse
      val local = XlsBinary.readCells(xls).map(c => (c.row, c.col, c.value)).toSet
      val dist = XlsBinary.readMany(spark, xls).collect().map { r =>
        (r.getInt(1), r.getInt(2), if (r.isNullAt(4)) r.getDouble(3) else r.getString(4))
      }
      assert(dist.length == local.size && dist.toSet == local)
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
  }
}
