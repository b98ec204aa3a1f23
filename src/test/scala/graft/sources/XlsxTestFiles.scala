package graft.sources

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Synthesizes minimal-but-valid .xlsx packages with plain
  * java.util.zip — the test fixture generator for [[XlsxSource]].
  * Strings go through xl/sharedStrings.xml (or inline when `inline`),
  * numeric-looking values are written as raw number cells, cell refs are
  * explicit (so sparse rows exercise the gap-fill path).
  */
object XlsxTestFiles {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** A1-style column names — the production encoding, not a test copy. */
  def colName(i: Int): String = XlsxSink.colName(i)

  private def isNumeric(s: String): Boolean =
    s.nonEmpty && s.matches("-?\\d+(\\.\\d+)?")

  /** @param sheets (name, rows); None cells are skipped entirely (sparse). */
  def write(path: String, sheets: Seq[(String, Seq[Seq[Option[String]]])],
      inline: Boolean = false): Unit = {
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    if (!inline)
      for ((_, rows) <- sheets; row <- rows; Some(v) <- row if !isNumeric(v))
        strings.getOrElseUpdate(v, strings.size)

    def sheetXml(rows: Seq[Seq[Option[String]]]): String = {
      val body = rows.zipWithIndex.map { case (row, r) =>
        val cells = row.zipWithIndex.collect { case (Some(v), c) =>
          val ref = s"${colName(c)}${r + 1}"
          if (isNumeric(v)) s"""<c r="$ref"><v>$v</v></c>"""
          else if (inline) s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
          else s"""<c r="$ref" t="s"><v>${strings(v)}</v></c>"""
        }.mkString
        s"""<row r="${r + 1}">$cells</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>""".stripMargin
    }

    val shared = if (strings.isEmpty) None else {
      val sis = strings.keys.map(s => s"<si><t>${esc(s)}</t></si>").mkString
      Some(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">$sis</sst>""".stripMargin)
    }
    writeParts(path, sheets.map { case (name, rows) => (name, utf8(sheetXml(rows))) },
      shared.map(utf8))
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** A package around given sheet and shared-strings parts, written as
    * they are (any encoding, any content, well-formed or not).
    * @param sheets (name, sheet part bytes) */
  def writeParts(path: String, sheets: Seq[(String, Array[Byte])],
      sharedStrings: Option[Array[Byte]] = None): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def entry(name: String, content: Array[Byte]): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content)
      zos.closeEntry()
    }
    try {
      entry("[Content_Types].xml", utf8(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |</Types>""".stripMargin))
      entry("_rels/.rels", utf8(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin))
      val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
        s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
      }.mkString
      entry("xl/workbook.xml", utf8(
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<sheets>$sheetTags</sheets></workbook>""".stripMargin))
      val rels = sheets.indices.map { i =>
        s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
      }.mkString
      entry("xl/_rels/workbook.xml.rels", utf8(
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>""".stripMargin))
      sharedStrings.foreach(entry("xl/sharedStrings.xml", _))
      sheets.zipWithIndex.foreach { case ((_, part), i) =>
        entry(s"xl/worksheets/sheet${i + 1}.xml", part)
      }
    } finally zos.close()
  }

  /** Dense-row convenience: every cell present. */
  def writeDense(path: String, sheets: Seq[(String, Seq[Seq[String]])],
      inline: Boolean = false): Unit =
    write(path, sheets.map { case (n, rows) => (n, rows.map(_.map(Option(_)))) }, inline)
}
