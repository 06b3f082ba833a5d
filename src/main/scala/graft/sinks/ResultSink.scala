package graft.sinks

import org.apache.spark.sql.DataFrame

/** Result sinks (SURVEY §7.1 "sinks/"): the golden-matrix collector used
  * by report tests (the reference's assertLinesValues matrices) and
  * presentation writers. The XLSX/PDF surface of the reference is
  * presentation — a writer over an already-computed result frame — so the
  * engine exposes exactly that: the frame, a matrix, an HTML table, or a
  * real XLSX workbook ([[writeXlsx]]). */
object ResultSink {

  /** Collect a (small, already-aggregated) result as a row matrix for
    * golden-test comparison. Null-safe stringification. */
  def toMatrix(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString))

  /** SURVEY §2.1 S5/S6 — XLSX report export (the reference's
    * `get_xlsx`/`export_to_xlsx` download path, account_report.py export
    * buttons; etl_reports_module wizards serve one workbook per run).
    * Dependency-free writer of the minimal ECMA-376 / OOXML package: a ZIP
    * of [Content_Types].xml, _rels, workbook.xml, one sheet with inline
    * strings for text and native numeric cells for numbers. Presentation
    * sink by contract: the input is an already-aggregated report frame
    * (thousands of display lines at most), collected like the reference's
    * XLS layer collects rendered lines. */
  def writeXlsx(df: DataFrame, path: String, sheetName: String = "Report"): Unit = {
    val header = df.columns.toSeq
    val rows = df.collect().toSeq.map(_.toSeq)
    // NaN/Infinity are not valid numeric <v> payloads — route them through
    // the inline-string branch instead of corrupting the sheet.
    val isNum: Any => Boolean = {
      case d: Double => !d.isNaN && !d.isInfinite
      case f: Float => !f.isNaN && !f.isInfinite
      case _: Int | _: Long | _: Short | _: Byte |
           _: java.math.BigDecimal => true
      case _ => false
    }
    // Quote/apostrophe must be escaped too: esc() is also used inside the
    // name="..." attribute of the sheet element.
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")
    def cellRef(r: Int, c: Int): String = {
      // column index -> A1-style letters
      var n = c + 1; val sb = new StringBuilder
      while (n > 0) { val rem = (n - 1) % 26; sb.insert(0, ('A' + rem).toChar); n = (n - 1) / 26 }
      s"$sb${r + 1}"
    }
    def cellXml(r: Int, c: Int, v: Any): String = v match {
      case null => ""
      case n if isNum(n) => s"""<c r="${cellRef(r, c)}"><v>$n</v></c>"""
      case other =>
        s"""<c r="${cellRef(r, c)}" t="inlineStr"><is><t xml:space="preserve">${esc(other.toString)}</t></is></c>"""
    }
    val allRows = header.map(h => h: Any) +: rows
    val sheetXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        allRows.zipWithIndex.map { case (cells, r) =>
          s"""<row r="${r + 1}">""" +
            cells.zipWithIndex.map { case (v, c) => cellXml(r, c, v) }.mkString +
            "</row>"
        }.mkString + "</sheetData></worksheet>"
    val workbookXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<sheets><sheet name="${esc(sheetName)}" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""
    val out = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)))
    try {
      Seq(
        "[Content_Types].xml" -> contentTypes,
        "_rels/.rels" -> rootRels,
        "xl/workbook.xml" -> workbookXml,
        "xl/_rels/workbook.xml.rels" -> workbookRels,
        "xl/worksheets/sheet1.xml" -> sheetXml
      ).foreach { case (name, content) =>
        out.putNextEntry(new java.util.zip.ZipEntry(name))
        out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.closeEntry()
      }
    } finally out.close()
  }

  /** S7-adjacent HTML render of a report matrix — the reference's
    * HTML/PDF layer is a template over the same rendered lines; this emits
    * the table body (presentation only, no engine semantics). */
  def toHtml(df: DataFrame, caption: String = ""): String = {
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val head = df.columns.map(c => s"<th>${esc(c)}</th>").mkString
    val body = toMatrix(df).map(r =>
      "<tr>" + r.map(v => s"<td>${esc(v)}</td>").mkString + "</tr>").mkString("\n")
    val cap = if (caption.isEmpty) "" else s"<caption>${esc(caption)}</caption>"
    s"<table>$cap<thead><tr>$head</tr></thead><tbody>\n$body\n</tbody></table>"
  }
}
