package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Minimal binary Excel (.xls, BIFF8 inside an OLE2 compound document)
  * reader — S5 (SURVEY §2.1), the source the reference opens with xlrd
  * (01-data-extraction-fundamentals/excel_csv.py:22-41). Pure Scala: the
  * sandbox ships no Excel jar, and the needed subset is small.
  *
  * Scope: BIFF8 worksheets with NUMBER / RK / MULRK / LABELSST /
  * FORMULA(numeric) cells and a (CONTINUE-aware) shared string table —
  * which covers real-world data workbooks like the reference's ERCOT
  * hourly-load file (numeric grid + one header row of labels). Rich-text
  * runs and extended-string payloads are skipped, not decoded.
  *
  * A .xls file is inherently a single-machine blob (no internal split
  * points — the record stream is sequential). The scale posture is
  * therefore MANY files: `readMany` distributes one file per task via
  * binaryFiles + flatMap, the same shape Spark's own binary sources use.
  */
object XlsBinary {

  /** One parsed cell: 0-based row/col; value is Double or String. */
  final case class Cell(row: Int, col: Int, value: Any)

  // ------------------------------------------------------------------
  // OLE2 compound document
  // ------------------------------------------------------------------

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF

  private final class Ole2(bytes: Array[Byte]) {
    private val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getLong(0) == 0xE11AB1A1E011CFD0L, "not an OLE2 file")
    private val sectorShift = buf.getShort(30).toInt
    private val sectorSize = 1 << sectorShift
    private val miniSectorSize = 1 << buf.getShort(32).toInt
    private val numFatSectors = buf.getInt(44)
    private val dirStart = buf.getInt(48)
    private val miniCutoff = buf.getInt(56)
    private val miniFatStart = buf.getInt(60)
    private val difStart = buf.getInt(68)

    private def sectorOffset(id: Int): Int = 512 + id * sectorSize

    /** FAT: first 109 sector ids live in the header, the rest in DIF
      * (double-indirect) sectors chained by their last entry.
      */
    private val fat: Array[Int] = {
      val fatSectors = mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < math.min(109, numFatSectors)) {
        fatSectors += buf.getInt(76 + i * 4); i += 1
      }
      var dif = difStart
      while (dif != EndOfChain && dif != FreeSect && dif >= 0) {
        val base = sectorOffset(dif)
        val perSector = sectorSize / 4 - 1
        var j = 0
        while (j < perSector && fatSectors.length < numFatSectors) {
          val s = buf.getInt(base + j * 4)
          if (s >= 0) fatSectors += s
          j += 1
        }
        dif = buf.getInt(base + perSector * 4)
      }
      val out = new Array[Int](fatSectors.length * (sectorSize / 4))
      var k = 0
      for (fs <- fatSectors) {
        val base = sectorOffset(fs)
        var j = 0
        while (j < sectorSize / 4) { out(k) = buf.getInt(base + j * 4); j += 1; k += 1 }
      }
      out
    }

    private def chain(start: Int, table: Array[Int]): Seq[Int] = {
      val out = mutable.ArrayBuffer[Int]()
      var s = start
      while (s != EndOfChain && s != FreeSect && s >= 0 && out.length <= table.length) {
        out += s; s = table(s)
      }
      out.toSeq
    }

    private def readChain(start: Int, size: Long): Array[Byte] = {
      val out = new Array[Byte](size.toInt)
      var off = 0
      for (s <- chain(start, fat) if off < size) {
        val n = math.min(sectorSize, size.toInt - off)
        System.arraycopy(bytes, sectorOffset(s), out, off, n)
        off += n
      }
      out
    }

    private val miniFat: Array[Int] = {
      val sectors = chain(miniFatStart, fat)
      val out = new Array[Int](sectors.length * (sectorSize / 4))
      var k = 0
      for (s <- sectors) {
        val base = sectorOffset(s)
        var j = 0
        while (j < sectorSize / 4) { out(k) = buf.getInt(base + j * 4); j += 1; k += 1 }
      }
      out
    }

    /** Directory entries: (name, startSector, size). */
    private val (dirEntries, miniStream) = {
      val dirBytes = {
        val sectors = chain(dirStart, fat)
        val out = new Array[Byte](sectors.length * sectorSize)
        var off = 0
        for (s <- sectors) {
          System.arraycopy(bytes, sectorOffset(s), out, off, sectorSize); off += sectorSize
        }
        out
      }
      val db = ByteBuffer.wrap(dirBytes).order(ByteOrder.LITTLE_ENDIAN)
      val entries = mutable.ArrayBuffer[(String, Int, Long)]()
      var rootStart = -1
      var rootSize = 0L
      var e = 0
      while ((e + 1) * 128 <= dirBytes.length) {
        val base = e * 128
        val nameLen = db.getShort(base + 64).toInt
        if (nameLen > 0) {
          val name = new String(dirBytes, base, math.max(0, nameLen - 2), "UTF-16LE")
          val tpe = dirBytes(base + 66)
          val start = db.getInt(base + 116)
          val size = db.getInt(base + 120).toLong & 0xFFFFFFFFL
          if (tpe == 5) { rootStart = start; rootSize = size }
          else if (tpe == 2) entries += ((name, start, size))
        }
        e += 1
      }
      val mini = if (rootStart >= 0) readChain(rootStart, rootSize) else Array.empty[Byte]
      (entries.toSeq, mini)
    }

    def stream(names: Set[String]): Array[Byte] =
      dirEntries.find(d => names.contains(d._1)) match {
        case Some((_, start, size)) =>
          if (size >= miniCutoff) readChain(start, size)
          else { // short-sector stream out of the root's ministream
            val out = new Array[Byte](size.toInt)
            var off = 0
            for (s <- chain(start, miniFat) if off < size) {
              val n = math.min(miniSectorSize, size.toInt - off)
              System.arraycopy(miniStream, s * miniSectorSize, out, off, n)
              off += n
            }
            out
          }
        case None =>
          throw new IllegalArgumentException(
            s"no ${names.mkString("/")} stream; found ${dirEntries.map(_._1)}")
      }
  }

  // ------------------------------------------------------------------
  // BIFF8 record stream
  // ------------------------------------------------------------------

  private object Rec {
    val Bof = 0x0809; val Eof = 0x000A; val BoundSheet = 0x0085
    val Sst = 0x00FC; val Continue = 0x003C; val LabelSst = 0x00FD
    val Number = 0x0203; val Rk = 0x027E; val MulRk = 0x00BD
    val Formula = 0x0006; val Label = 0x0204
  }

  /** Decode an RK value: 30-bit int or truncated double, /100 flag. */
  private def rkValue(rk: Int): Double = {
    val base =
      if ((rk & 2) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if ((rk & 1) != 0) base / 100.0 else base
  }

  /** Parse the SST (shared string table), spanning CONTINUE records.
    * Each string: cch u16, grbit u8 (bit0 = 16-bit chars), optional
    * rich/ext lengths, then chars; at a CONTINUE boundary inside the
    * character data a fresh grbit byte restarts the encoding.
    */
  private def parseSst(parts: IndexedSeq[Array[Byte]]): IndexedSeq[String] = {
    var ri = 0
    var pos = 0
    def remaining = parts(ri).length - pos
    def advance(): Unit = while (remaining == 0 && ri < parts.length - 1) { ri += 1; pos = 0 }
    def u8(): Int = { advance(); val v = parts(ri)(pos) & 0xFF; pos += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) { advance(); val t = math.min(left, remaining.toLong).toInt; pos += t; left -= t }
    }
    val total = { u32(); u32() } // cstTotal, cstUnique
    val out = mutable.ArrayBuffer[String]()
    var i = 0L
    while (i < total && (ri < parts.length - 1 || remaining > 0)) {
      val cch = u16()
      val grbit = u8()
      var high = (grbit & 1) != 0
      val cRun = if ((grbit & 8) != 0) u16() else 0
      val cbExt = if ((grbit & 4) != 0) u32() else 0L
      val sb = new java.lang.StringBuilder(cch)
      var left = cch
      while (left > 0) {
        advance()
        if (remaining == 0) left = 0 // truncated stream — bail loudly below
        else {
          if (pos == 0 && sb.length > 0) high = (u8() & 1) != 0 // fresh grbit at boundary
          val avail = if (high) remaining / 2 else remaining
          val take = math.min(left, math.max(avail, 0))
          if (take == 0 && remaining == 1 && high) { pos += 1 } // odd trailing byte guard
          else {
            var j = 0
            while (j < take) {
              val c = if (high) (u8() | (u8() << 8)).toChar else u8().toChar
              sb.append(c); j += 1
            }
            left -= take
          }
        }
      }
      skip(cRun * 4L + cbExt)
      out += sb.toString
      i += 1
    }
    out.toIndexedSeq
  }

  /** Parse the first worksheet's cells from workbook stream bytes. */
  def parseCells(wb: Array[Byte]): IndexedSeq[Cell] = {
    val buf = ByteBuffer.wrap(wb).order(ByteOrder.LITTLE_ENDIAN)
    // pass 1: globals substream — SST (+ its CONTINUEs) and sheet offsets
    var pos = 0
    val sstParts = mutable.ArrayBuffer[Array[Byte]]()
    var inSst = false
    var firstSheetPos = -1
    var depth = 0
    while (pos + 4 <= wb.length && (depth > 0 || pos == 0)) {
      val id = buf.getShort(pos).toInt & 0xFFFF
      val len = buf.getShort(pos + 2).toInt & 0xFFFF
      val body = java.util.Arrays.copyOfRange(wb, pos + 4, pos + 4 + len)
      id match {
        case Rec.Bof => depth += 1
        case Rec.Eof => depth -= 1
        case Rec.Sst => sstParts += body; inSst = true
        case Rec.Continue if inSst => sstParts += body
        case Rec.BoundSheet =>
          val p = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN).getInt(0)
          if (firstSheetPos < 0) firstSheetPos = p
        case _ => if (id != Rec.Continue) inSst = false
      }
      if (id != Rec.Sst && id != Rec.Continue) inSst = false
      pos += 4 + len
      if (depth == 0 && pos > 0) pos = wb.length // end of globals
    }
    require(firstSheetPos >= 0, "no BOUNDSHEET record")
    val sst = if (sstParts.nonEmpty) parseSst(sstParts.toIndexedSeq) else IndexedSeq.empty

    // pass 2: first sheet substream
    val cells = mutable.ArrayBuffer[Cell]()
    pos = firstSheetPos
    depth = 0
    var started = false
    while (pos + 4 <= wb.length && (!started || depth > 0)) {
      val id = buf.getShort(pos).toInt & 0xFFFF
      val len = buf.getShort(pos + 2).toInt & 0xFFFF
      val b = pos + 4
      id match {
        case Rec.Bof => depth += 1; started = true
        case Rec.Eof => depth -= 1
        case Rec.Number =>
          cells += Cell(buf.getShort(b).toInt & 0xFFFF, buf.getShort(b + 2).toInt & 0xFFFF,
            buf.getDouble(b + 6))
        case Rec.Rk =>
          cells += Cell(buf.getShort(b).toInt & 0xFFFF, buf.getShort(b + 2).toInt & 0xFFFF,
            rkValue(buf.getInt(b + 6)))
        case Rec.MulRk =>
          val row = buf.getShort(b).toInt & 0xFFFF
          val colFirst = buf.getShort(b + 2).toInt & 0xFFFF
          val n = (len - 6) / 6
          var k = 0
          while (k < n) {
            cells += Cell(row, colFirst + k, rkValue(buf.getInt(b + 4 + k * 6 + 2)))
            k += 1
          }
        case Rec.LabelSst =>
          val isst = buf.getInt(b + 6)
          if (isst >= 0 && isst < sst.length)
            cells += Cell(buf.getShort(b).toInt & 0xFFFF,
              buf.getShort(b + 2).toInt & 0xFFFF, sst(isst))
        case Rec.Formula =>
          // cached numeric result unless the marker bytes say otherwise
          if ((buf.getShort(b + 12).toInt & 0xFFFF) != 0xFFFF)
            cells += Cell(buf.getShort(b).toInt & 0xFFFF,
              buf.getShort(b + 2).toInt & 0xFFFF, buf.getDouble(b + 6))
        case _ => ()
      }
      pos += 4 + len
    }
    cells.toIndexedSeq
  }

  /** Parse a .xls file's first sheet into cells. */
  def readCells(path: String): IndexedSeq[Cell] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    parseCells(new Ole2(bytes).stream(Set("Workbook", "Book")))
  }

  /** First sheet as a dense row grid (None for blank cells). */
  def readGrid(path: String): IndexedSeq[IndexedSeq[Option[Any]]] = {
    val cells = readCells(path)
    if (cells.isEmpty) return IndexedSeq.empty
    val nRows = cells.map(_.row).max + 1
    val nCols = cells.map(_.col).max + 1
    val grid = Array.fill[Option[Any]](nRows, nCols)(None)
    cells.foreach(c => grid(c.row)(c.col) = Some(c.value))
    grid.map(_.toIndexedSeq).toIndexedSeq
  }

  /** Distributed read of MANY .xls files: one file per task (the BIFF
    * stream has no split points), cells flat-mapped with the source
    * path attached — the 100 TB shape for workbook corpora.
    */
  def readMany(spark: org.apache.spark.sql.SparkSession,
      pathGlob: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(pathGlob)
      .flatMap { case (file, pds) =>
        parseCells(new Ole2(pds.toArray()).stream(Set("Workbook", "Book")))
          .map { c =>
            (file, c.row, c.col,
              c.value match { case d: Double => d; case _ => Double.NaN },
              c.value match { case s: String => s; case _ => null })
          }
      }
      .toDF("path", "row", "col", "num", "str")
  }
}
