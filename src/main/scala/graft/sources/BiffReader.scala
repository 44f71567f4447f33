package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** S2b — legacy Excel (.xls, BIFF8) scan without external libraries.
  *
  * The reference's upload whitelist accepts `.xls` alongside `.xlsx`
  * (`app/routes.py:27-28`) and reads both through openpyxl/pandas
  * (`app/etl.py:963-1024`); this closes the repo's last accepted-format
  * gap with a zero-dependency reader for the two public formats
  * involved: the OLE2/CFB compound container ([MS-CFB]) and the BIFF8
  * workbook stream ([MS-XLS]). Scope is the read path a submission
  * needs — worksheet cells of the record kinds real writers emit
  * (LABELSST, LABEL, NUMBER, RK, MULRK, BOOLERR, and FORMULA cached
  * results with their trailing STRING records — openpyxl surfaces the
  * cached value of formula cells, so must this reader) plus the SST
  * with CONTINUE splits, FORMAT/XF for date-style detection (shared
  * heuristics with `ExcelReader`), and the mini-stream for sub-4096-
  * byte workbook streams.
  *
  * Same contract and same driver-side rationale as `ExcelReader`:
  * header = row 1, data = rows ≥ 2, every cell surfaced as text,
  * date-styled numerics rendered like an openpyxl data_only load. One
  * submission file is one small driver-side table; the distributed scan
  * starts after conversion.
  */
object BiffReader {

  // ---- OLE2 / CFB container ----

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF

  /** All sectors of a FAT chain starting at `start`, concatenated. */
  private def readChain(data: Array[Byte], fat: Array[Int], start: Int,
      sectorSize: Int, headerSize: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var s = start
    var guard = 0
    while (s != EndOfChain && s != FreeSect && guard <= fat.length) {
      val off = headerSize + s * sectorSize
      out.write(data, off, math.min(sectorSize, data.length - off))
      s = if (s < fat.length) fat(s) else EndOfChain
      guard += 1
    }
    out.toByteArray
  }

  /** Locate and read the Workbook (or Book) stream out of a CFB file. */
  private[sources] def workbookStream(data: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    require(data.length >= 512 && bb.getLong(0) == 0xE11AB1A1E011CFD0L,
      "not an OLE2 compound file")
    // all offsets below assume 512-byte sectors with sector 0 at byte
    // 512 — true only for CFB major version 3. A version-4 file
    // (4096-byte sectors) would misparse silently, so reject it typed.
    require((bb.getShort(26) & 0xFFFF) == 3 && bb.getShort(30) == 9,
      s"unsupported CFB version ${bb.getShort(26) & 0xFFFF} " +
        s"(sector shift ${bb.getShort(30)}) — only version 3 with " +
        "512-byte sectors is supported")
    val sectorSize = 1 << bb.getShort(30)
    val miniSectorSize = 1 << bb.getShort(32)
    val dirStart = bb.getInt(48)
    val miniCutoff = bb.getInt(56)
    val miniFatStart = bb.getInt(60)
    val difatStart = bb.getInt(68)
    val nDifat = bb.getInt(72)

    // FAT sector list: 109 header DIFAT slots, then chained DIFAT sectors
    val fatSectors = mutable.ArrayBuffer[Int]()
    (0 until 109).foreach { i =>
      val s = bb.getInt(76 + i * 4)
      if (s != FreeSect && s != EndOfChain) fatSectors += s
    }
    var difat = difatStart
    var guard = 0
    while (difat != EndOfChain && difat != FreeSect && guard < nDifat + 1) {
      val off = 512 + difat * sectorSize
      (0 until sectorSize / 4 - 1).foreach { i =>
        val s = bb.getInt(off + i * 4)
        if (s != FreeSect && s != EndOfChain) fatSectors += s
      }
      difat = bb.getInt(off + sectorSize - 4)
      guard += 1
    }
    val fat = fatSectors.toArray.flatMap { fs =>
      val off = 512 + fs * sectorSize
      (0 until sectorSize / 4).map(i => bb.getInt(off + i * 4))
    }

    val dir = readChain(data, fat, dirStart, sectorSize, 512)
    val dbb = ByteBuffer.wrap(dir).order(ByteOrder.LITTLE_ENDIAN)
    case class Entry(name: String, start: Int, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val base = i * 128
      val nameLen = dbb.getShort(base + 64) & 0xFFFF
      val name = new String(dir, base, math.max(nameLen - 2, 0), "UTF-16LE")
      Entry(name, dbb.getInt(base + 116), dbb.getInt(base + 120).toLong & 0xFFFFFFFFL)
    }
    val root = entries.headOption.getOrElse(
      throw new IllegalArgumentException("empty CFB directory"))
    val wb = entries.find(e => e.name == "Workbook" || e.name == "Book")
      .getOrElse(throw new IllegalArgumentException(
        "no Workbook stream — not an Excel BIFF file"))
    if (wb.size >= miniCutoff) {
      readChain(data, fat, wb.start, sectorSize, 512).take(wb.size.toInt)
    } else {
      // mini-stream: the root entry's chain holds 64-byte mini sectors,
      // chained through the miniFAT
      val miniStream = readChain(data, fat, root.start, sectorSize, 512)
      val miniFatBytes = readChain(data, fat, miniFatStart, sectorSize, 512)
      val mfb = ByteBuffer.wrap(miniFatBytes).order(ByteOrder.LITTLE_ENDIAN)
      val miniFat = Array.tabulate(miniFatBytes.length / 4)(i => mfb.getInt(i * 4))
      val out = new java.io.ByteArrayOutputStream()
      var s = wb.start
      var g = 0
      while (s != EndOfChain && s != FreeSect && g <= miniFat.length) {
        out.write(miniStream, s * miniSectorSize,
          math.min(miniSectorSize, miniStream.length - s * miniSectorSize))
        s = if (s < miniFat.length) miniFat(s) else EndOfChain
        g += 1
      }
      out.toByteArray.take(wb.size.toInt)
    }
  }

  // ---- BIFF8 records ----

  private case class Rec(id: Int, at: Int, len: Int)

  private def records(wb: Array[Byte]): IndexedSeq[Rec] = {
    val out = mutable.ArrayBuffer[Rec]()
    val bb = ByteBuffer.wrap(wb).order(ByteOrder.LITTLE_ENDIAN)
    var p = 0
    while (p + 4 <= wb.length) {
      val id = bb.getShort(p) & 0xFFFF
      val len = bb.getShort(p + 2) & 0xFFFF
      out += Rec(id, p + 4, len)
      p += 4 + len
    }
    out.toIndexedSeq
  }

  /** BIFF8 unicode string at `pos` (16-bit char count): returns
    * (text, bytesConsumed). Handles the compressed/UTF-16 flag plus
    * rich-text and far-east extensions (skipped, correctly sized).
    * `end` (exclusive) is the owning RECORD's payload bound: a string
    * whose declared length runs past it has spilled into a CONTINUE
    * record this single-record reader does not follow — reading on
    * would silently swallow the CONTINUE header bytes as text, so the
    * overrun is a typed rejection instead (readXls's corrupt-workbook
    * wrapper surfaces it as UnsupportedFormat). SST strings — the one
    * place Excel routinely spills — go through the CONTINUE-aware
    * [[parseSst]], never through here. */
  private def readUnicodeString(b: Array[Byte], pos: Int,
      end: Int): (String, Int) = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    def bound(p: Int): Unit =
      if (p > end) throw new IllegalStateException(
        "string spills into a CONTINUE record (unsupported outside SST)")
    bound(pos + 3)
    val cch = bb.getShort(pos) & 0xFFFF
    val grbit = b(pos + 2) & 0xFF
    var p = pos + 3
    val rich = (grbit & 0x08) != 0
    val ext = (grbit & 0x04) != 0
    val cRun = if (rich) { bound(p + 2); val v = bb.getShort(p) & 0xFFFF; p += 2; v } else 0
    val cbExt = if (ext) { bound(p + 4); val v = bb.getInt(p); p += 4; v } else 0
    val wide = (grbit & 0x01) != 0
    val text =
      if (wide) { bound(p + cch * 2); val t = new String(b, p, cch * 2, "UTF-16LE"); p += cch * 2; t }
      else { bound(p + cch); val t = new String(b, p, cch, "ISO-8859-1"); p += cch; t }
    p += cRun * 4 + cbExt
    bound(p)
    (text, p - pos)
  }

  /** SST parse across CONTINUE records. Strings split across a CONTINUE
    * boundary restate the compressed/wide flag byte at the start of the
    * continuation — the one genuinely stateful part of BIFF8. */
  private def parseSst(wb: Array[Byte], recs: IndexedSeq[Rec],
      sstIdx: Int): IndexedSeq[String] = {
    val sst = recs(sstIdx)
    // concatenated payloads with the segment boundaries remembered
    val segs = mutable.ArrayBuffer[(Int, Int)]() // (at, len) in wb
    segs += ((sst.at, sst.len))
    var j = sstIdx + 1
    while (j < recs.length && recs(j).id == 0x003C) {
      segs += ((recs(j).at, recs(j).len)); j += 1
    }
    val total = segs.map(_._2).sum
    val buf = new Array[Byte](total)
    val bounds = mutable.ArrayBuffer[Int]() // start offsets of segments in buf
    var o = 0
    segs.foreach { case (at, len) =>
      bounds += o; System.arraycopy(wb, at, buf, o, len); o += len
    }
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    val unique = bb.getInt(4)
    val out = mutable.ArrayBuffer[String]()
    var p = 8
    val boundSet = bounds.drop(1).toSet
    while (out.length < unique && p + 3 <= buf.length) {
      val cch = bb.getShort(p) & 0xFFFF
      var grbit = buf(p + 2) & 0xFF
      p += 3
      val rich = (grbit & 0x08) != 0
      val ext = (grbit & 0x04) != 0
      val cRun = if (rich) { val v = bb.getShort(p) & 0xFFFF; p += 2; v } else 0
      val cbExt = if (ext) { val v = bb.getInt(p); p += 4; v } else 0
      val sb = new java.lang.StringBuilder(cch)
      var remaining = cch
      while (remaining > 0) {
        // a continuation boundary inside character data restates grbit
        if (boundSet.contains(p)) { grbit = (grbit & ~0x01) | (buf(p) & 0x01); p += 1 }
        val wide = (grbit & 0x01) != 0
        // chars available before the next boundary (or end) — bounds
        // is already ascending, so the first hit of find() is the next
        val nextBound = bounds.drop(1).find(_ > p).getOrElse(buf.length)
        val avail = if (wide) (nextBound - p) / 2 else nextBound - p
        val take = math.min(remaining, avail)
        if (take <= 0) { remaining = 0 } // malformed guard
        else {
          if (wide) { sb.append(new String(buf, p, take * 2, "UTF-16LE")); p += take * 2 }
          else { sb.append(new String(buf, p, take, "ISO-8859-1")); p += take }
          remaining -= take
        }
      }
      p += cRun * 4 + cbExt
      out += sb.toString
    }
    out.toIndexedSeq
  }

  /** RK-encoded number → double. */
  private[sources] def decodeRk(rk: Int): Double = {
    val div100 = (rk & 0x01) != 0
    val isInt = (rk & 0x02) != 0
    val v =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if (div100) v / 100 else v
  }

  /** Read an xls into the same strings DataFrame contract as
    * `ExcelReader.readXlsx` (header row 1, data ≥ 2, date-styled
    * numerics rendered as typed dates). `sheet` is 1-based in workbook
    * order, matching the xlsx reader. */
  def readXls(spark: SparkSession, path: String, sheet: Int = 1): DataFrame =
    // corrupt-but-magic-valid files (bad sector chains, truncated
    // records, mangled SST offsets) must surface as a TYPED ingest
    // rejection, not a raw IndexOutOfBounds/BufferUnderflow from deep
    // inside the parser — the same obscure-crash guarantee the old
    // typed reject gave. require() messages (not a compound file, no
    // Workbook stream, sheet missing, empty sheet) stay as-is.
    try readXlsImpl(spark, path, sheet)
    catch {
      // NumberFormatException IS an IllegalArgumentException — a raw
      // parser escape, not one of our typed requires; match it first
      case e: NumberFormatException =>
        throw Ingest.UnsupportedFormat(path,
          s"corrupt BIFF workbook: ${e.getClass.getSimpleName}")
      case e: IllegalArgumentException => throw e // already typed
      case e: Ingest.UnsupportedFormat => throw e
      case e: Ingest.MissingInput => throw e
      case _: java.nio.file.NoSuchFileException => throw Ingest.MissingInput(path)
      case e: Exception =>
        throw Ingest.UnsupportedFormat(path,
          s"corrupt BIFF workbook: ${e.getClass.getSimpleName}")
    }

  private def readXlsImpl(spark: SparkSession, path: String, sheet: Int): DataFrame = {
    val data = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val wb = workbookStream(data)
    val recs = records(wb)
    val bb = ByteBuffer.wrap(wb).order(ByteOrder.LITTLE_ENDIAN)

    // BIFF version gate: BIFF8 only (BOF version 0x0600). An Excel
    // 5.0/95 workbook shares the OLE2 magic and record ids (stream
    // named 'Book'), but BIFF5 strings are byte-strings with NO grbit
    // flags byte — parsing them with the BIFF8 layout would silently
    // garble every text cell, so reject typed instead.
    val bof = recs.headOption.filter(_.id == 0x0809).getOrElse(
      throw new IllegalArgumentException("no BOF record — not a BIFF workbook"))
    val biffVer = bb.getShort(bof.at) & 0xFFFF
    require(biffVer == 0x0600,
      f"BIFF version 0x$biffVer%04x unsupported (BIFF8 only — " +
        "resave Excel 5.0/95 workbooks as Excel 97+ .xls or .xlsx)")

    // globals: SST, BOUNDSHEETs (sheet name + substream offset),
    // FORMAT (custom codes) and XF (ixfe -> ifmt) in stream order
    val sst = recs.zipWithIndex.find(_._1.id == 0x00FC)
      .map { case (_, i) => parseSst(wb, recs, i) }.getOrElse(IndexedSeq.empty)
    val sheetOffsets = recs.filter(_.id == 0x0085).map(r => bb.getInt(r.at))
    require(sheet >= 1 && sheet <= sheetOffsets.length,
      s"sheet $sheet not found (${sheetOffsets.length} sheets)")
    // DATEMODE (0x0022): 1 = the Mac 1904 date system — serial 0 is
    // 1904-01-01 and the Lotus leap bug does not exist; ignoring it
    // would shift every date cell ~4 years into the past
    val date1904 = recs.find(_.id == 0x0022)
      .exists(r => (bb.getShort(r.at) & 0xFFFF) == 1)
    val customDateFmts: Set[Int] = recs.filter(_.id == 0x041E).collect {
      case r if {
        val code = readUnicodeString(wb, r.at + 2, r.at + r.len)._1
        ExcelReader.isDateFormatCode(code)
      } => bb.getShort(r.at) & 0xFFFF
    }.toSet
    val xfFmts: IndexedSeq[Int] =
      recs.filter(_.id == 0x00E0).map(r => bb.getShort(r.at + 2) & 0xFFFF)
    def isDateXf(ixfe: Int): Boolean =
      xfFmts.lift(ixfe).exists(f =>
        ExcelReader.BuiltinDateFmts.contains(f) || customDateFmts.contains(f))

    // the requested sheet substream: records from its BOF to its EOF
    val from = sheetOffsets(sheet - 1)
    val sheetRecs = recs.dropWhile(_.at - 4 < from)
    val grid = mutable.LinkedHashMap[Int, mutable.LinkedHashMap[Int, String]]()
    def cell(row: Int, colIdx: Int, v: String): Unit =
      grid.getOrElseUpdate(row, mutable.LinkedHashMap[Int, String]())(colIdx) = v
    def num(row: Int, colIdx: Int, ixfe: Int, d: Double): Unit = {
      val s =
        if (isDateXf(ixfe)) ExcelReader.excelSerialToString(d, date1904)
        else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
        else d.toString
      cell(row, colIdx, s)
    }
    var done = false
    // a string-valued FORMULA's cached text arrives in the NEXT STRING
    // (0x0207) record — possibly after a SHRFMLA/ARRAY/TABLE record
    var pendingFormulaCell: Option[(Int, Int)] = None
    sheetRecs.foreach { r =>
      if (!done) r.id match {
        case 0x000A => done = true // EOF of this substream
        case 0x00FD => // LABELSST
          val row = bb.getShort(r.at) & 0xFFFF; val c = bb.getShort(r.at + 2) & 0xFFFF
          cell(row, c, sst.lift(bb.getInt(r.at + 6)).getOrElse(""))
        case 0x0204 => // LABEL (inline BIFF8 unicode string)
          val row = bb.getShort(r.at) & 0xFFFF; val c = bb.getShort(r.at + 2) & 0xFFFF
          cell(row, c, readUnicodeString(wb, r.at + 6, r.at + r.len)._1)
        case 0x0203 => // NUMBER (IEEE double)
          val row = bb.getShort(r.at) & 0xFFFF; val c = bb.getShort(r.at + 2) & 0xFFFF
          num(row, c, bb.getShort(r.at + 4) & 0xFFFF, bb.getDouble(r.at + 6))
        case 0x027E => // RK
          val row = bb.getShort(r.at) & 0xFFFF; val c = bb.getShort(r.at + 2) & 0xFFFF
          num(row, c, bb.getShort(r.at + 4) & 0xFFFF, decodeRk(bb.getInt(r.at + 6)))
        case 0x00BD => // MULRK: run of RK cells in one row
          val row = bb.getShort(r.at) & 0xFFFF; val first = bb.getShort(r.at + 2) & 0xFFFF
          val n = (r.len - 6) / 6
          (0 until n).foreach { i =>
            val ixfe = bb.getShort(r.at + 4 + i * 6) & 0xFFFF
            num(row, first + i, ixfe, decodeRk(bb.getInt(r.at + 6 + i * 6)))
          }
        case 0x0006 => // FORMULA: openpyxl-style cached result
          val row = bb.getShort(r.at) & 0xFFFF; val c = bb.getShort(r.at + 2) & 0xFFFF
          val ixfe = bb.getShort(r.at + 4) & 0xFFFF
          if ((bb.getShort(r.at + 12) & 0xFFFF) == 0xFFFF) {
            // tagged non-numeric result: byte 0 of the value field is the
            // kind — 0 string (text follows in STRING), 1 boolean (byte 2),
            // 2 error, 3 empty string ([MS-XLS] 2.5.133 FormulaValue)
            (wb(r.at + 6) & 0xFF) match {
              case 0 => pendingFormulaCell = Some((row, c))
              case 1 =>
                cell(row, c, if ((wb(r.at + 8) & 0xFF) != 0) "TRUE" else "FALSE")
              case _ => () // error / empty-string results -> blank, like BOOLERR
            }
          } else num(row, c, ixfe, bb.getDouble(r.at + 6))
        case 0x0207 => // STRING: cached text of the preceding string FORMULA
          pendingFormulaCell.foreach { case (row, c) =>
            cell(row, c, readUnicodeString(wb, r.at, r.at + r.len)._1)
          }
          pendingFormulaCell = None
        case 0x0205 => // BOOLERR (booleans TRUE/FALSE; errors -> blank)
          val row = bb.getShort(r.at) & 0xFFFF; val c = bb.getShort(r.at + 2) & 0xFFFF
          // an ERROR cell still REGISTERS (as "") — its xlsx twin
          // (<c t="e">) occupies a grid slot, and the cross-format
          // frame-parity contract includes the grid width
          if ((wb(r.at + 7) & 0xFF) == 0)
            cell(row, c, if ((wb(r.at + 6) & 0xFF) != 0) "TRUE" else "FALSE")
          else cell(row, c, "")
        case 0x0201 => // BLANK: styled empty cell — occupies a slot,
          // exactly as its xlsx twin <c s="..."/> does (grid width!)
          cell(bb.getShort(r.at) & 0xFFFF, bb.getShort(r.at + 2) & 0xFFFF, "")
        case 0x00BE => // MULBLANK: run of styled empty cells in one row
          val row = bb.getShort(r.at) & 0xFFFF
          val first = bb.getShort(r.at + 2) & 0xFFFF
          val last = bb.getShort(r.at + r.len - 2) & 0xFFFF
          (first to last).foreach(c => cell(row, c, ""))
        case _ => ()
      }
    }

    require(grid.nonEmpty, "empty worksheet")
    // same strings-DataFrame contract as readXlsx — enforced by being
    // the SAME assembly function. Densified like the xlsx reader: BIFF
    // emits no records for blank rows, and a positional assembly would
    // promote the first data row to header when row 0 is blank.
    val maxRow = grid.keys.max
    ExcelReader.gridToDataFrame(spark, (0 to maxRow).map(r =>
      grid.getOrElse(r, mutable.LinkedHashMap.empty[Int, String])))
  }
}
