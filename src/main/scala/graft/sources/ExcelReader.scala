package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.util.zip.ZipFile
import javax.xml.parsers.DocumentBuilderFactory
import scala.collection.mutable

/** S2 — Excel (.xlsx) scan without external libraries: the workbook is a
  * zip of XML parts (ECMA-376), so a container check + two XML parses
  * (sharedStrings + worksheet) recover the grid. Mirrors the reference's
  * openpyxl usage (`app/etl.py:963-1024`): header = row 1, data = rows
  * ≥ 2, every cell surfaced as text.
  *
  * Driver-side by design: the reference caps uploads at 16 MB
  * (`app/config.py:36`) and one submission file is one small table —
  * the distributed scan starts after this converter (or after
  * `Ingest.stage` persists it to parquet). Large-scale media/text
  * corpora arrive as parquet, never xlsx.
  */
object ExcelReader {

  private def parseXml(in: java.io.InputStream): org.w3c.dom.Document = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true) // required for getElementsByTagNameNS
    // hygiene: no DTDs / external entities from untrusted workbooks
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(in)
  }

  private def elements(doc: org.w3c.dom.Document, tag: String): Seq[org.w3c.dom.Element] = {
    val nl = doc.getElementsByTagNameNS("*", tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
  }

  /** Cell text of a rich-text container (<si> or <is>): the
    * concatenated <t> runs EXCLUDING <rPh> phonetic (furigana) guides —
    * getTextContent would splice the reading aid into the value
    * ("東京" becoming "東京トウキョウ"), which openpyxl (the parity
    * reference) never does. */
  private def richText(el: org.w3c.dom.Element): String = {
    val nl = el.getElementsByTagNameNS("*", "t")
    (0 until nl.getLength)
      .map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
      .filterNot { t =>
        var p: org.w3c.dom.Node = t.getParentNode
        var inPhonetic = false
        while (p != null && (p ne el)) {
          if (p.getLocalName == "rPh") inPhonetic = true
          p = p.getParentNode
        }
        inPhonetic
      }
      .map(_.getTextContent).mkString
  }

  /** Column letters of an A1-style ref → 0-based index. Letters are
    * case-normalized (openpyxl's coordinate regex accepts [A-Za-z] and
    * uppercases — a lowercase 'a1' must be column 0, not 32), and a
    * letterless ref is a typed corrupt-workbook rejection rather than
    * a silent -1 that would drop the cell. */
  private[sources] def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    require(letters.nonEmpty, s"malformed cell reference '$ref'")
    letters.foldLeft(0)((acc, c) => acc * 26 + (c.toUpper - 'A' + 1)) - 1
  }

  /** The xlsx sheet row limit (ECMA-376 §18.3.1.73: 2^20 rows). Row
    * `r` attributes beyond it are a corrupt-workbook rejection — the
    * densification pass allocates up to this many rows driver-side, so
    * the bound is also the ingest path's memory guard. */
  private[sources] val MaxXlsxRows = 1048576

  /** ECMA-376 builtin numFmtIds that render dates/times (14-22 core
    * date/time, 45-47 elapsed-time). Shared with the BIFF (.xls) reader
    * — the id space is the same in both formats. */
  private[sources] val BuiltinDateFmts: Set[Int] = ((14 to 22) ++ (45 to 47)).toSet

  /** A custom format code is a date format when, after dropping quoted
    * literals, [bracket] sections and escaped chars, it still contains a
    * y/m/d/h/s token — the same heuristic openpyxl applies. */
  private[sources] def isDateFormatCode(code: String): Boolean = {
    val bare = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^\\]]*\\]", "")
      .replaceAll("\\\\.", "")
    bare.exists(c => "ymdhsYMDHS".indexOf(c) >= 0)
  }

  /** xf indices (cell style ids) whose number format is a date format,
    * from `xl/styles.xml`; empty when the part is absent. */
  private def dateStyleIds(zf: ZipFile): Set[Int] =
    Option(zf.getEntry("xl/styles.xml")).map { e =>
      val doc = parseXml(zf.getInputStream(e))
      // TOP-LEVEL <numFmts> children only, like openpyxl: a
      // conditional-format <dxf><numFmt> reuses the same numFmtId
      // space and would otherwise misclassify a plain numeric style
      // as a date for every cell referencing the top-level id
      val customDate: Set[Int] = elements(doc, "numFmt").collect {
        case el if el.getParentNode != null &&
            el.getParentNode.getLocalName == "numFmts" &&
            isDateFormatCode(el.getAttribute("formatCode")) =>
          el.getAttribute("numFmtId").toInt
      }.toSet
      // cellXfs xf list, in order: the cell `s` attribute indexes it
      val xfs = elements(doc, "cellXfs").flatMap { cx =>
        val nl = cx.getElementsByTagNameNS("*", "xf")
        (0 until nl.getLength).map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
      }
      xfs.zipWithIndex.collect {
        case (xf, i) if {
          val id = Option(xf.getAttribute("numFmtId")).filter(_.nonEmpty)
            .map(_.toInt).getOrElse(0)
          BuiltinDateFmts.contains(id) || customDate.contains(id)
        } => i
      }.toSet
    }.getOrElse(Set.empty)

  /** Excel 1900-system serial → the string openpyxl's typed datetime
    * prints (`str(datetime)`, seconds precision). Serial 60 is the
    * phantom 1900-02-29 (the Lotus 1-2-3 bug Excel preserves): serials
    * BELOW 60 sit one day closer to the 1899-12-30 epoch, and serial
    * 60 itself — unrepresentable as a real date — collapses onto
    * 1900-02-28 exactly as openpyxl's `from_excel` does (its `0 <
    * value < 60` bump leaves 60 unadjusted). */
  private[sources] def excelSerialToString(serial: Double,
      date1904: Boolean = false): String = {
    // the 1900-leap-year bug bump applies to 0 < serial < 60 ONLY:
    // openpyxl's from_excel leaves negatives unbumped (1899-12-29 for
    // serial -1) — parity requires the same two-sided guard.
    // The Mac 1904 system (workbookPr date1904 / BIFF DATEMODE=1) has
    // a different epoch (serial 0 = 1904-01-01) and NO phantom
    // 1900-02-29, so no bump — exactly openpyxl's CALENDAR_MAC_1904.
    // openpyxl's from_excel checks the time-only case FIRST (before the
    // leap-bug bump): 0 <= serial < 1 is a datetime.time, printed
    // without the bogus 1899-12-30 date prefix. (Elapsed [h]-style
    // formats 45-47 return timedelta in openpyxl — a documented
    // remaining divergence: they render here as clock time.)
    if (serial >= 0 && serial < 1) {
      // serial just under 1 (0.9999999) rounds to 86400, which
      // plusSeconds would WRAP to 00:00:00 — a silent ~full-day loss.
      // openpyxl's days_to_time keeps sub-second residue and never
      // crosses midnight, so clamp to the last representable second.
      val secs = math.min(math.round(serial * 86400), 86399L)
      return java.time.LocalTime.MIDNIGHT.plusSeconds(secs)
        .format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss"))
    }
    val adj =
      if (date1904) serial
      else if (serial > 0 && serial < 60) serial + 1
      else serial
    val days = math.floor(adj).toLong
    val secs = math.round((adj - days) * 86400)
    val epoch =
      if (date1904) java.time.LocalDate.of(1904, 1, 1)
      else java.time.LocalDate.of(1899, 12, 30)
    epoch.atStartOfDay
      .plusDays(days).plusSeconds(secs)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  /** Resolve the Nth (1-based) sheet's part name through
    * xl/workbook.xml's sheet order and the workbook rels — NEVER by
    * assuming `sheetN.xml`: deleting or reordering sheets in Excel
    * keeps part names stable (a workbook whose first sheet was removed
    * has sheet order [sheet2.xml] — the naive name guess would reject
    * the file or silently read the wrong sheet). Also reads the
    * workbookPr date1904 flag in the same pass. Falls back to the
    * positional name only when the workbook part is absent entirely. */
  private def resolveSheet(zf: ZipFile, sheet: Int): (String, Boolean) = {
    val wbOpt = Option(zf.getEntry("xl/workbook.xml"))
    if (wbOpt.isEmpty) return (s"xl/worksheets/sheet$sheet.xml", false)
    val wb = parseXml(zf.getInputStream(wbOpt.get))
    val date1904 = elements(wb, "workbookPr").headOption
      .map(_.getAttribute("date1904"))
      .exists(v => v == "1" || v == "true")
    val rels: Map[String, String] =
      Option(zf.getEntry("xl/_rels/workbook.xml.rels")).map { e =>
        elements(parseXml(zf.getInputStream(e)), "Relationship")
          .map(r => r.getAttribute("Id") -> r.getAttribute("Target")).toMap
      }.getOrElse(Map.empty)
    val sheets = elements(wb, "sheet")
    // the workbook part is authoritative for HOW MANY sheets exist: an
    // out-of-range index must reject loudly, never fall through to the
    // positional sheetN.xml guess (which can hit an orphaned part and
    // silently read stale data)
    require(sheets.isEmpty || (sheet >= 1 && sheet <= sheets.length),
      s"sheet $sheet out of range: workbook has ${sheets.length} sheet(s)")
    val part = sheets.lift(sheet - 1).flatMap { el =>
      // r:id is namespace-qualified; DOM surfaces it under the
      // officeDocument relationships namespace or the literal qname
      val rid = Option(el.getAttributeNS(
          "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
          "id")).filter(_.nonEmpty)
        .orElse(Option(el.getAttribute("r:id")).filter(_.nonEmpty))
      rid.flatMap(rels.get).map { target =>
        if (target.startsWith("/")) target.stripPrefix("/")
        else "xl/" + target
      }
    }.getOrElse(s"xl/worksheets/sheet$sheet.xml")
    (part, date1904)
  }

  /** Read the sheet grid as rows of (colIndex → text). */
  private def readGrid(path: String, sheet: Int): Seq[mutable.LinkedHashMap[Int, String]] = {
    val zf = new ZipFile(path)
    try {
      val shared: IndexedSeq[String] =
        Option(zf.getEntry("xl/sharedStrings.xml")).map { e =>
          elements(parseXml(zf.getInputStream(e)), "si")
            .map(richText).toIndexedSeq
        }.getOrElse(IndexedSeq.empty)
      val (sheetPart, date1904) = resolveSheet(zf, sheet)
      val sheetEntry = Option(zf.getEntry(sheetPart))
        .getOrElse(throw new IllegalArgumentException(
          s"$sheetPart not found — not a valid workbook"))
      val dateStyles = dateStyleIds(zf)
      val doc = parseXml(zf.getInputStream(sheetEntry))
      // honor the 1-based row `r` attribute: Excel omits blank rows
      // from the sheet XML entirely, so positional parsing would
      // promote the first DATA row to header when row 1 is blank, and
      // interior blank rows would vanish (openpyxl pads them). Rows
      // carrying no r fall sequentially after the previous row.
      var nextRow = 0 // 0-based position the next r-less row takes
      val sparse = elements(doc, "row").map { rowEl =>
        val rAttr = rowEl.getAttribute("r")
        // bound the r attribute BEFORE densification: `(0 to maxRow)`
        // materializes maxRow rows driver-side, so a crafted/corrupt
        // workbook with one cell at r=2000000000 would OOM the ingest
        // path. The xlsx format itself caps sheets at 2^20 rows —
        // reject anything beyond it (or non-numeric) as a typed
        // corrupt-workbook error, like the letterless-ref require.
        // ASCII digits only — Char.isDigit admits Unicode Nd digits
        // that toInt then rejects. Bound the VALUE, not the lexical
        // length: xsd:unsignedInt's lexical space permits leading
        // zeros (r="00000012" is in-bounds), so strip them before the
        // overflow-safety length cap instead of rejecting length > 7.
        val rNorm =
          if (rAttr.isEmpty) rAttr
          else { val s = rAttr.dropWhile(_ == '0'); if (s.isEmpty) "0" else s }
        if (rAttr.nonEmpty)
          require(rAttr.forall(c => c >= '0' && c <= '9') &&
              rNorm.length <= 7 &&
              rNorm.toInt >= 1 && rNorm.toInt <= MaxXlsxRows,
            s"malformed row reference '$rAttr'")
        val rowIdx =
          if (rAttr.nonEmpty) rNorm.toInt - 1 else nextRow
        nextRow = rowIdx + 1
        val cells = rowEl.getElementsByTagNameNS("*", "c")
        val m = mutable.LinkedHashMap[Int, String]()
        var fallbackCol = 0
        (0 until cells.getLength).foreach { i =>
          val c = cells.item(i).asInstanceOf[org.w3c.dom.Element]
          val ref = c.getAttribute("r")
          val idx = if (ref.nonEmpty) colIndex(ref) else fallbackCol
          fallbackCol = idx + 1
          val t = c.getAttribute("t")
          val vNodes = c.getElementsByTagNameNS("*", "v")
          val isNodes = c.getElementsByTagNameNS("*", "is")
          val value =
            if (t == "inlineStr" && isNodes.getLength > 0)
              richText(isNodes.item(0).asInstanceOf[org.w3c.dom.Element])
            else if (vNodes.getLength == 0) ""
            else {
              val raw = vNodes.item(0).getTextContent
              if (t == "s") shared.lift(raw.toInt).getOrElse("")
              // the BiffReader contract (its BOOLERR record): booleans
              // render TRUE/FALSE, error cells read as blank — the same
              // sheet saved as .xls or .xlsx must produce the same frame.
              // DOCUMENTED openpyxl divergence (like the elapsed-time
              // format one in excelSerialToString): openpyxl data_only
              // would surface the cached error string ('#DIV/0!') and
              // Python True/False; the cross-format BIFF contract wins
              // here because the reference pipeline never branches on
              // error text and .xls/.xlsx row parity is spec-pinned.
              else if (t == "b") { if (raw.trim == "1") "TRUE" else "FALSE" }
              else if (t == "e") ""
              else {
                // numeric cell with a date style → typed date, like
                // openpyxl's data_only load (`app/etl.py:971`)
                val style = c.getAttribute("s")
                val isNumeric = t.isEmpty || t == "n"
                if (isNumeric && style.nonEmpty &&
                    dateStyles.contains(style.toInt))
                  raw.toDoubleOption
                    .map(excelSerialToString(_, date1904)).getOrElse(raw)
                else raw
              }
            }
          m(idx) = value
        }
        (rowIdx, m)
      }
      // densify: pad omitted rows with empty maps up to the max index
      val maxRow = if (sparse.isEmpty) -1 else sparse.map(_._1).max
      val byIdx = sparse.toMap
      (0 to maxRow).map(i =>
        byIdx.getOrElse(i, mutable.LinkedHashMap.empty[Int, String]))
    } finally zf.close()
  }

  /** Read an xlsx into a DataFrame of strings (header row 1, data ≥ 2),
    * after the S3 container pre-flight. Corrupt-but-zip-valid
    * workbooks (mangled XML, non-numeric shared-string indexes, broken
    * style ids) surface as a TYPED ingest rejection, never a raw
    * SAX/NumberFormat/IndexOutOfBounds from inside the parser. */
  def readXlsx(spark: SparkSession, path: String, sheet: Int = 1): DataFrame =
    try readXlsxImpl(spark, path, sheet)
    catch {
      // NumberFormatException IS an IllegalArgumentException — match it
      // first: it's a raw parser escape, not one of our typed requires
      case e: NumberFormatException =>
        throw Ingest.UnsupportedFormat(path,
          s"corrupt xlsx workbook: ${e.getClass.getSimpleName}")
      case e: IllegalArgumentException => throw e // typed requires
      case e: Ingest.UnsupportedFormat => throw e
      case e: Ingest.MissingInput => throw e
      case e: Exception =>
        throw Ingest.UnsupportedFormat(path,
          s"corrupt xlsx workbook: ${e.getClass.getSimpleName}")
    }

  private def readXlsxImpl(spark: SparkSession, path: String, sheet: Int): DataFrame = {
    Ingest.validateXlsxContainer(path) match {
      case Left(err) => throw new IllegalArgumentException(s"S3 pre-flight failed: $err")
      case Right(()) =>
    }
    gridToDataFrame(spark, readGrid(path, sheet))
  }

  /** Grid → strings DataFrame: header = row 1 (empty header cells
    * become colN), data = rows ≥ 2, empty cells become null. The ONE
    * assembly shared by the xlsx and BIFF (.xls) readers — the
    * same-contract guarantee between the two is this function. */
  private[sources] def gridToDataFrame(spark: SparkSession,
      grid: Seq[scala.collection.Map[Int, String]]): DataFrame = {
    require(grid.nonEmpty, "empty worksheet")
    val headerMap = grid.head
    val width = (grid.map(m => if (m.isEmpty) -1 else m.keys.max).max) + 1
    val header = (0 until width).map(i =>
      headerMap.get(i).filter(_.nonEmpty).getOrElse(s"col$i"))
    val rows = grid.tail.map { m =>
      Row.fromSeq((0 until width).map(i => m.get(i).filter(_.nonEmpty).orNull))
    }
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)
  }
}
