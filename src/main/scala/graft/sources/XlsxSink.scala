package graft.sources

import java.io.{OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

import graft.etl.PartFiles

/** Distributed .xlsx writer — the outbound half of the Excel surface
  * ([[XlsxSource]] is the inbound half; together they make the container
  * format a full roundtrip, which the reference never offered).
  *
  * Each input partition streams to its own `part-NNNNN.xlsx` workbook, one
  * row at a time: the sheet XML is written as rows are consumed, so task
  * memory is constant regardless of partition size. A sheet that
  * [[XlsxSource]] read as several row ranges therefore converts to one
  * workbook per range; read in name order, the workbooks hold the rows in
  * sheet order. Cells are written as
  * `inlineStr` — a shared-strings dictionary would need a global second
  * pass (or task-shared state) to build, which is exactly the kind of
  * coordination a 100 TB distributed write must not have; inline strings
  * keep every task independent and single-pass. [[XlsxSource]] reads both
  * forms.
  *
  * Takes the all-string row model ([[graft.etl.IngestOps.allString]]): the
  * reference's universal row shape, and the only honest cell type once
  * formatting (T5) has been applied upstream.
  */
object XlsxSink {

  /** 0-based column index → A1-style column name (0→A, 26→AA). */
  def colName(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def esc(s: String): String = {
    // text + attribute escape (quotes included: sheet names land in attrs)
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Cell-text escape: XML entities PLUS the ECMA-376 `_xHHHH_` convention
    * for characters XML 1.0 cannot carry. Chars < 0x20 other than tab/LF
    * are either illegal in XML entirely (parse error on read-back) or, for
    * CR, destroyed by mandatory line-end normalization — both silent
    * roundtrip breaks without this. Literal "_x" pre-escapes to
    * "_x005F_x" so the decode ([[XlsxParsing.decodeCellEscapes]]) is a
    * bijection. */
  private def escCell(s: String): String = {
    val pre = if (s.indexOf("_x") >= 0) s.replace("_x", "_x005F_x") else s
    val sb = new StringBuilder(pre.length)
    var i = 0
    while (i < pre.length) {
      val c = pre.charAt(i)
      if (c < 0x20 && c != '\t' && c != '\n') sb.append(f"_x${c.toInt}%04X_")
      else c match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Writes `df` (all StringType columns) as one .xlsx per partition under
    * `dir`, first row of every workbook = the column names (the S4 header
    * contract on the way out). Empty partitions produce no file. Returns
    * the data rows, files and bytes written. Each workbook is committed with
    * [[graft.etl.PartFiles]]'s protocol; a local path only.
    *
    * @throws IllegalStateException existing `dir` without `overwrite` (K4). */
  def write(df: DataFrame, dir: String, sheetName: String = "Sheet1",
      overwrite: Boolean = false): PartFiles.Written = {
    val nonString = df.schema.fields.filter(_.dataType != StringType).map(_.name)
    require(nonString.isEmpty,
      s"xlsx sink takes the all-string row model (IngestOps.allString); " +
        s"non-string columns: ${nonString.mkString(", ")}")
    val names = df.columns.toSeq
    val sheet = sheetName
    PartFiles.write(df, dir, overwrite,
      // an all-empty input still yields a READABLE empty dataset: one
      // header-only workbook keeps the schema (XlsxSource errors on a
      // fileless directory, and rightly so)
      finish = (stage, parts) =>
        if (parts.nonEmpty) parts
        else Seq(stage.commit("part-00000.xlsx")(writeWorkbook(_, sheet, names, Iterator.empty)))) {
      (stage, p, rows) =>
        if (!rows.hasNext) Nil
        else Seq(stage.commit(f"part-$p%05d.xlsx")(
          writeWorkbook(_, sheet, names, rows.map(r => (c: Int) => {
            val v = r.getUTF8String(c)
            if (v == null) null else v.toString
          }))))
    }
  }

  /** Streams one workbook to `out`: the header row, then one row per
    * element of `rows` (a cell getter by column); returns the data rows. */
  private def writeWorkbook(out: OutputStream, sheet: String, names: Seq[String],
      rows: Iterator[Int => String]): Long = {
    var n = 0L
    val zos = new ZipOutputStream(out)
    // Level 1: with one task per workbook this writer is on a conversion's
    // critical path. 30 000 x 12 sheet, one task, 4-core box: ~300 vs ~520 ms
    // at level 6, file 2.56 vs 2.08 MB. A fixed level keeps output deterministic.
    zos.setLevel(Deflater.BEST_SPEED)
    val w = new OutputStreamWriter(zos, StandardCharsets.UTF_8)
    // fixed entry mtime: ZipEntry defaults to wall-clock, which would make
    // two attempts of the same partition byte-differ for no reason —
    // reproducible output is part of the sink's contract
    def fixedEntry(name: String): ZipEntry = {
      val e = new ZipEntry(name)
      e.setTime(0L)
      e
    }
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(fixedEntry(name))
      w.write(content); w.flush()
      zos.closeEntry()
    }
    try {
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
          |<Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>
          |<Override PartName="/docProps/app.xml" ContentType="application/vnd.openxmlformats-officedocument.extended-properties+xml"/>
          |</Types>""".stripMargin)
      entry("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/package/2006/relationships/metadata/core-properties" Target="docProps/core.xml"/>
          |<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/extended-properties" Target="docProps/app.xml"/>
          |</Relationships>""".stripMargin)
      // docProps keep strict OOXML consumers from flagging the package for
      // repair. Timestamps are FIXED, not wall-clock: two writes of the
      // same partition must be byte-identical (speculative attempts, the
      // commit protocol of graft.etl.PartFiles, and reproducible-output
      // guarantees all rely on it).
      entry("docProps/core.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/" xmlns:dcterms="http://purl.org/dc/terms/" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
          |<dc:creator>graft</dc:creator>
          |<dcterms:created xsi:type="dcterms:W3CDTF">1970-01-01T00:00:00Z</dcterms:created>
          |<dcterms:modified xsi:type="dcterms:W3CDTF">1970-01-01T00:00:00Z</dcterms:modified>
          |</cp:coreProperties>""".stripMargin)
      entry("docProps/app.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Properties xmlns="http://schemas.openxmlformats.org/officeDocument/2006/extended-properties">
          |<Application>graft</Application>
          |</Properties>""".stripMargin)
      entry("xl/workbook.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<sheets><sheet name="${esc(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin)
      // the sheet itself streams: header row, then one <row> per input
      // row as the iterator advances — nothing buffers
      zos.putNextEntry(fixedEntry("xl/worksheets/sheet1.xml"))
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("\n<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>")
      val cols = names.indices.map(colName).toArray
      def writeRow(r: Long, cell: Int => String): Unit = {
        w.write(s"""<row r="$r">""")
        var c = 0
        while (c < cols.length) {
          val v = cell(c)
          if (v != null && v.nonEmpty)
            // xml:space keeps leading/trailing whitespace through
            // standards-conforming parsers
            w.write(s"""<c r="${cols(c)}$r" t="inlineStr"><is><t xml:space="preserve">${escCell(v)}</t></is></c>""")
          c += 1
        }
        w.write("</row>")
      }
      writeRow(1L, names)
      var r = 2L
      while (rows.hasNext) {
        writeRow(r, rows.next())
        r += 1; n += 1
      }
      w.write("</sheetData></worksheet>")
      w.flush()
      zos.closeEntry()
    } finally w.close() // closes the zip stream beneath
    n
  }
}
