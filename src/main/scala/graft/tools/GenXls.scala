package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Deterministic synthetic ERCOT hourly-load workbook (.xls: BIFF8
  * inside an OLE2 compound document) — the S5 fixture when the
  * reference's 2013_ERCOT_Hourly_Load_Data.xls is not mounted.
  *
  * The grid has the reference workbook's shape (FIXTURES.md §10): a
  * header row `Hour_End, COAST, …, WEST, ERCOT` of shared strings, then
  * 7,295 hourly rows of 2013 Excel serial datetimes, eight regional
  * loads with a seasonal and daily cycle, and the ERCOT total (the
  * row's sum). One region carries a planted repeated maximum so the
  * first-occurrence tiebreak of excel_csv.py (`list.index(max)`) is
  * exercised.
  *
  * The writer emits only the record kinds `sources.XlsBinary` reads —
  * BOF/EOF, BOUNDSHEET, SST, LABELSST, NUMBER, RK and MULRK — choosing
  * per cell the compact RK forms Excel uses (integer, truncated double,
  * integer/100) and NUMBER otherwise, so every encoding the reader
  * decodes is on the s5 path. The workbook stream is far above the
  * 4,096-byte mini-stream cutoff and is read through the FAT.
  *
  * Everything is a fixed-seed LCG (the GenOsm idiom) and StrictMath:
  * re-running yields byte-identical files, so the melted parquet (and
  * the DuckDB oracle over it) is stable without committing the file.
  */
object GenXls {

  /** Bump when the generated grid or encoding changes: `Ercot.ensure`
    * rebuilds a fixture stamped with an older version.
    */
  val version = 1

  val header: IndexedSeq[String] = Vector("Hour_End", "COAST", "EAST",
    "FAR_WEST", "NORTH", "NORTH_C", "SOUTHERN", "SOUTH_C", "WEST", "ERCOT")

  /** Hourly rows in the reference workbook (01:00 Jan 1 onwards). */
  private val nHours = 7295

  /** The region whose maximum is planted twice. */
  val tiedRegion = "NORTH"

  /** Excel serial of 2013-01-01 00:00 (1900 date system). */
  private val serial2013 = 41275.0

  // typical regional level and summer swing (MW), reference flavour
  private val base = Vector(10500.0, 1300.0, 1900.0, 900.0, 12000.0,
    3200.0, 6000.0, 1000.0)
  private val swing = Vector(0.45, 0.40, 0.20, 0.35, 0.55, 0.45, 0.50, 0.30)

  /** 64-bit LCG (MMIX constants) — deterministic, no java.util.Random. */
  private final class Rng(seed0: Long) {
    private var s: Long = seed0
    def nextLong(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    /** Uniform in [0, 1). */
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  }

  /** The workbook's first sheet: header strings, then per row the serial
    * (Double), eight regional loads and their sum (Doubles).
    */
  def grid: IndexedSeq[IndexedSeq[Any]] = {
    val rng = new Rng(2013L)
    val loads = Array.tabulate(nHours, base.length) { (r, c) =>
      val h = r + 1
      val day = h / 24.0
      val season = 0.5 - 0.5 * StrictMath.cos(2 * math.Pi * (day - 20) / 365)
      val daily = 0.5 - 0.5 * StrictMath.cos(2 * math.Pi * ((h % 24) - 5) / 24)
      val v = base(c) * (1 + swing(c) * season * (0.6 + 0.4 * daily)) *
        (0.95 + 0.1 * rng.nextDouble())
      // a quarter of the rows each in hundredths, quarters and whole MW
      // (the RK forms); the rest keep full precision (NUMBER)
      r % 4 match {
        case 0 => math.rint(v * 100) / 100
        case 1 => math.rint(v * 4) / 4
        case 2 => math.rint(v)
        case _ => v
      }
    }
    // plant a repeated maximum one week after the first one
    val t = header.indexOf(tiedRegion) - 1
    val first = (0 until nHours).maxBy(r => loads(r)(t))
    loads((first + 168) % nHours)(t) = loads(first)(t)
    header +: loads.indices.map { r =>
      val serial: Any = serial2013 + (r + 1) / 24.0
      val row = loads(r).toVector
      (serial +: row.map(d => d: Any)) :+ (row.sum: Any)
    }
  }

  // ------------------------------------------------------------------
  // BIFF8 workbook stream
  // ------------------------------------------------------------------

  private final class Records {
    private val out = new ByteArrayOutputStream(1 << 20)
    def size: Int = out.size
    def bytes: Array[Byte] = out.toByteArray
    def rec(id: Int, body: Array[Byte]): Unit = {
      require(body.length <= 8224, s"record 0x${id.toHexString} too long")
      val h = le(4).putShort(id.toShort).putShort(body.length.toShort)
      out.write(h.array()); out.write(body)
    }
  }

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** BOF: BIFF8 (0x0600) of the given substream type. */
  private def bof(dt: Int): Array[Byte] =
    le(16).putShort(0x0600.toShort).putShort(dt.toShort).putShort(0x0DBB.toShort)
      .putShort(0x07CC.toShort).putInt(0).putInt(0x0006).array()

  /** The RK encoding of `d`, if one is exact: 30-bit integer, double
    * truncated to its high 30 bits, or 30-bit integer / 100.
    */
  private def rk(d: Double): Option[Int] = {
    val fits = (x: Double) => x == math.rint(x) && x >= -(1 << 29) && x < (1 << 29)
    val bits = java.lang.Double.doubleToLongBits(d)
    if (fits(d)) Some((d.toInt << 2) | 2)
    else if ((bits & 0x3FFFFFFFFL) == 0) Some((bits >>> 32).toInt)
    else {
      val k = math.rint(d * 100)
      if (fits(k) && k / 100 == d) Some((k.toInt << 2) | 3) else None
    }
  }

  /** The first sheet of `grid` as a BIFF8 workbook stream: a globals
    * substream (BOF, BOUNDSHEET, SST, EOF) and one worksheet substream.
    * Strings become LABELSST; runs of RK-exact numbers in a row become
    * MULRK (one RK for a single cell); other numbers become NUMBER.
    */
  private def workbook(grid: IndexedSeq[IndexedSeq[Any]]): Array[Byte] = {
    val strings = grid.flatten.collect { case s: String => s }
    val sstIndex = strings.distinct.zipWithIndex.toMap
    val sst = {
      val b = new ByteArrayOutputStream()
      b.write(le(8).putInt(strings.length).putInt(sstIndex.size).array())
      for (s <- strings.distinct) {
        require(s.forall(_ < 0x100), s"non-Latin-1 string $s")
        b.write(le(3).putShort(s.length.toShort).put(0.toByte).array())
        b.write(s.getBytes("ISO-8859-1"))
      }
      b.toByteArray
    }
    val sheetName = "Sheet1".getBytes("ISO-8859-1")
    def boundSheet(pos: Int): Array[Byte] =
      le(8 + sheetName.length).putInt(pos).put(0.toByte).put(0.toByte)
        .put(sheetName.length.toByte).put(0.toByte).put(sheetName).array()

    val globals = new Records
    globals.rec(0x0809, bof(0x0005))
    val sheetPos = globals.size + 4 + boundSheet(0).length + 4 + sst.length + 4
    globals.rec(0x0085, boundSheet(sheetPos))
    globals.rec(0x00FC, sst)
    globals.rec(0x000A, Array.emptyByteArray)
    require(globals.size == sheetPos)

    val sheet = new Records
    sheet.rec(0x0809, bof(0x0010))
    for ((row, r) <- grid.zipWithIndex) {
      var c = 0
      while (c < row.length) {
        row(c) match {
          case s: String =>
            sheet.rec(0x00FD, le(10).putShort(r.toShort).putShort(c.toShort)
              .putShort(0.toShort).putInt(sstIndex(s)).array())
            c += 1
          case d: Double => rk(d) match {
            case None =>
              sheet.rec(0x0203, le(14).putShort(r.toShort).putShort(c.toShort)
                .putShort(0.toShort).putDouble(d).array())
              c += 1
            case Some(first) =>
              val run = row.drop(c).iterator.map {
                case x: Double => rk(x)
                case _ => None
              }.takeWhile(_.isDefined).flatten.toVector
              if (run.length == 1)
                sheet.rec(0x027E, le(10).putShort(r.toShort).putShort(c.toShort)
                  .putShort(0.toShort).putInt(first).array())
              else {
                val b = le(6 + 6 * run.length).putShort(r.toShort).putShort(c.toShort)
                run.foreach(v => b.putShort(0.toShort).putInt(v))
                sheet.rec(0x00BD, b.putShort((c + run.length - 1).toShort).array())
              }
              c += run.length
          }
          case other => throw new IllegalArgumentException(s"cell $r,$c: $other")
        }
      }
    }
    sheet.rec(0x000A, Array.emptyByteArray)
    globals.bytes ++ sheet.bytes
  }

  // ------------------------------------------------------------------
  // OLE2 compound document (version 3, 512-byte sectors)
  // ------------------------------------------------------------------

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF
  private val FatSect = 0xFFFFFFFD
  private val NoStream = 0xFFFFFFFF

  /** Wrap `stream` as the compound document's only stream, "Workbook".
    * Sector layout: the stream's sectors, one directory sector, then
    * the FAT sectors (all listed in the header — no DIFAT).
    */
  private def compoundDocument(stream: Array[Byte]): Array[Byte] = {
    require(stream.length >= 4096,
      "stream below the mini-stream cutoff (the mini FAT is not written)")
    val nStream = (stream.length + 511) / 512
    val nFat = (nStream + 1 + 126) / 127 // 128 ids per FAT sector, incl. itself
    require(nFat <= 109, "stream too large for a header-only FAT")
    val dirSector = nStream
    val out = le(512 * (1 + nStream + 1 + nFat))

    out.putLong(0, 0xE11AB1A1E011CFD0L)
    out.putShort(24, 0x003E.toShort).putShort(26, 0x0003.toShort)
      .putShort(28, 0xFFFE.toShort).putShort(30, 9.toShort).putShort(32, 6.toShort)
    out.putInt(44, nFat).putInt(48, dirSector).putInt(56, 4096)
      .putInt(60, EndOfChain).putInt(64, 0).putInt(68, EndOfChain).putInt(72, 0)
    for (i <- 0 until 109)
      out.putInt(76 + i * 4, if (i < nFat) dirSector + 1 + i else FreeSect)

    def sector(id: Int): Int = 512 + id * 512
    out.position(sector(0)); out.put(stream)

    def entry(slot: Int, name: String, tpe: Int, child: Int, start: Int, size: Int): Unit = {
      val base = sector(dirSector) + slot * 128
      val n = name.getBytes("UTF-16LE")
      out.position(base); out.put(n)
      out.putShort(base + 64, (n.length + 2).toShort)
      out.put(base + 66, tpe.toByte).put(base + 67, 1.toByte)
      out.putInt(base + 68, NoStream).putInt(base + 72, NoStream).putInt(base + 76, child)
      out.putInt(base + 116, start).putInt(base + 120, size)
    }
    entry(0, "Root Entry", 5, 1, EndOfChain, 0)
    entry(1, "Workbook", 2, NoStream, 0, stream.length)
    for (slot <- 2 until 4) {
      val base = sector(dirSector) + slot * 128
      out.putInt(base + 68, NoStream).putInt(base + 72, NoStream).putInt(base + 76, NoStream)
    }

    val fatBase = sector(dirSector + 1)
    for (i <- 0 until nFat * 128) {
      val next =
        if (i < nStream - 1) i + 1
        else if (i < nStream || i == dirSector) EndOfChain
        else if (i <= dirSector + nFat) FatSect
        else FreeSect
      out.putInt(fatBase + i * 4, next)
    }
    out.array()
  }

  /** Write the synthetic workbook to `path`; returns its grid. */
  def write(path: String): IndexedSeq[IndexedSeq[Any]] = {
    val g = grid
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, compoundDocument(workbook(g)))
    g
  }
}
