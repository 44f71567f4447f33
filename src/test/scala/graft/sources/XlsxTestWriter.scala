package graft.sources

import java.util.zip.{ZipEntry, ZipOutputStream}

/** Builds minimal ECMA-376 workbooks (a zip of XML parts) for specs:
  * one worksheet per sheet, every cell an inline string, sheets wired
  * through `xl/workbook.xml` and its rels the way Excel writes them. */
object XlsxTestWriter {

  private val Main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val Rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** A workbook of `sheets` (name → rows, row 1 first, at most 26
    * columns A–Z); null or empty cells are left out, as Excel leaves
    * them out. */
  def workbook(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    require(sheets.forall(_._2.forall(_.size <= 26)), "columns A-Z only")
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    val n = sheets.indices.map(_ + 1)
    put("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook xmlns="$Main" xmlns:r="$Rel"><sheets>""" +
        sheets.zip(n).map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="$i" r:id="rId$i"/>"""
        }.mkString + "</sheets></workbook>")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        n.map(i => s"""<Relationship Id="rId$i" Target="worksheets/sheet$i.xml"/>""").mkString +
        "</Relationships>")
    sheets.zip(n).foreach { case ((_, rows), i) =>
      val data = rows.zipWithIndex.map { case (cells, r) =>
        s"""<row r="${r + 1}">""" + cells.zipWithIndex.collect {
          case (v, c) if v != null && v.nonEmpty =>
            s"""<c r="${('A' + c).toChar}${r + 1}" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
        }.mkString + "</row>"
      }.mkString
      put(s"xl/worksheets/sheet$i.xml",
        s"""<?xml version="1.0"?><worksheet xmlns="$Main"><sheetData>$data</sheetData></worksheet>""")
    }
    zos.close()
    bos.toByteArray
  }
}
