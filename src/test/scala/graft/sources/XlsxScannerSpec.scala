package graft.sources

import java.nio.charset.StandardCharsets.{UTF_16, UTF_16LE, UTF_8}
import java.util.zip.ZipFile

import scala.util.Random

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Differential test of the byte-level SpreadsheetML scanner against the
  * StAX reader it replaced ([[StaxSheetReader]]): seeded random sheet and
  * shared-strings parts, written as raw XML, must read to identical rows,
  * whole and as the concatenated row ranges of a split sheet. */
class XlsxScannerSpec extends AnyFunSuite {

  private val cap = 1L << 30

  private def pick[A](rnd: Random, xs: A*): A = xs(rnd.nextInt(xs.size))

  /** Markup fragments whose characters any conforming reader agrees on. */
  private val pieces = Seq("plain", "two words", " lead", "trail ", "&amp;",
    "&lt;x&gt;", "&quot;q&quot;", "&apos;", "&#x1F600;", "&#233;", "&#10;",
    "&#13;", "\r\n", "\r", "\n", "\t", "<![CDATA[a<b>&c]]>", "<![CDATA[]]]]>",
    "<![CDATA[x\r\ny]]>", "é", "中文", "😀", "_x0041_", "_x005F_x", "<!-- note -->",
    "<?pi data?>", "12.5", "-3", "")

  private def text(rnd: Random): String =
    Seq.fill(rnd.nextInt(4))(pick(rnd, pieces: _*)).mkString

  private def attr(rnd: Random, name: String, value: String): String = {
    val q = pick(rnd, "\"", "'")
    s" $name${pick(rnd, "=", " = ", "= ", " =")}$q$value$q"
  }

  /** The content of an `<si>` or `<is>`: one plain `<t>`, or rich-text runs
    * with an optional phonetic run. */
  private def runs(rnd: Random, p: String): String =
    if (rnd.nextBoolean())
      s"<${p}t${if (rnd.nextBoolean()) """ xml:space="preserve"""" else ""}>${text(rnd)}</${p}t>"
    else {
      val rs = Seq.fill(1 + rnd.nextInt(3)) {
        val props =
          if (rnd.nextBoolean()) s"""<${p}rPr><${p}b/><${p}sz val="11"/></${p}rPr>""" else ""
        s"<${p}r>$props<${p}t>${text(rnd)}</${p}t></${p}r>"
      }.mkString
      val phonetic =
        if (rnd.nextBoolean())
          s"""<${p}rPh sb="0" eb="1"><${p}t>${text(rnd)}</${p}t></${p}rPh>""" +
            s"""<${p}phoneticPr fontId="1"/>"""
        else ""
      rs + phonetic
    }

  private def cell(rnd: Random, p: String, ref: Option[String], shared: Int): String = {
    val t = pick(rnd, None, Some("s"), Some("b"), Some("inlineStr"), Some("str"), Some("e"), Some("n"))
    val attrs = rnd.shuffle(ref.map(attr(rnd, "r", _)).toSeq ++ t.map(attr(rnd, "t", _)) ++
      (if (rnd.nextBoolean()) Seq(attr(rnd, "s", "1")) else Nil)).mkString
    val formula = if (rnd.nextInt(4) == 0) s"<${p}f>SUM(A1:B1)&amp;&quot;x&quot;</${p}f>" else ""
    val body = t match {
      case Some("s") if shared > 0 =>
        s"<${p}v>${pick(rnd, "", " ", "\n")}${rnd.nextInt(shared)}${pick(rnd, "", " ")}</${p}v>"
      case Some("s") => ""
      case Some("b") => s"<${p}v>${pick(rnd, "1", "0", " 1 ", "true")}</${p}v>"
      case Some("inlineStr") => s"<${p}is>${runs(rnd, p)}</${p}is>"
      case _ => if (rnd.nextInt(5) == 0) formula else s"$formula<${p}v>${text(rnd)}</${p}v>"
    }
    if (body.isEmpty && rnd.nextBoolean()) s"<${p}c$attrs/>" else s"<${p}c$attrs>$body</${p}c>"
  }

  private def row(rnd: Random, p: String, r: Int, shared: Int): String = {
    val rAttr = if (rnd.nextBoolean()) attr(rnd, "r", r.toString) else ""
    if (rnd.nextInt(6) == 0) s"<${p}row$rAttr/>"
    else {
      var col = -1
      val cells = Seq.fill(rnd.nextInt(7)) {
        col = if (rnd.nextInt(4) == 0) col + 1 + rnd.nextInt(3) else col + 1
        val letters = XlsxSink.colName(if (rnd.nextInt(10) == 0) col + 26 else col)
        val ref =
          if (rnd.nextInt(5) == 0) None
          else Some((if (rnd.nextInt(8) == 0) letters.toLowerCase else letters) + r)
        pick(rnd, "", "\n  ", "<!-- between -->", "<?pi x?>") + cell(rnd, p, ref, shared)
      }.mkString
      s"""<${p}row$rAttr${attr(rnd, "spans", "1:5")}>$cells</${p}row>"""
    }
  }

  /** A part in one of the encodings a package may use. */
  private def encode(rnd: Random, body: String): Array[Byte] = pick(rnd, 0, 1, 2, 3) match {
    case 0 => ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + body).getBytes(UTF_8)
    case 1 => Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ ("<?xml version='1.0'?>\r\n" + body).getBytes(UTF_8)
    case 2 => ("""<?xml version="1.0" encoding="UTF-16"?>""" + body).getBytes(UTF_16) // big-endian, BOM
    case _ => Array(0xFF, 0xFE).map(_.toByte) ++
      ("""<?xml version="1.0" encoding="UTF-16"?>""" + body).getBytes(UTF_16LE)
  }

  private def prefixAndNs(rnd: Random): (String, String) =
    if (rnd.nextBoolean()) ("", """ xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"""")
    else ("x:", """ xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main"""")

  private def workbook(seed: Int, rowCount: Random => Int = _.nextInt(8), pad: String = "")
      : (String, String, Array[Byte], Option[Array[Byte]]) = {
    val rnd = new Random(seed)
    val shared = rnd.nextInt(5)
    val sst = if (shared == 0 && rnd.nextBoolean()) None else {
      val (p, ns) = prefixAndNs(rnd)
      val items = Seq.fill(shared)(
        if (rnd.nextInt(6) == 0) s"<${p}si/>" else s"<${p}si>${runs(rnd, p)}</${p}si>").mkString
      Some(s"""<${p}sst$ns count="$shared">$items</${p}sst>""")
    }
    val (p, ns) = prefixAndNs(rnd)
    val rows = (1 to rowCount(rnd)).map(r => row(rnd, p, r, shared)).mkString("\n")
    val sheet = s"""<!-- generated --><${p}worksheet$ns><${p}dimension ref="A1"$pad/>""" +
      s"""<${p}sheetData>$rows</${p}sheetData><${p}pageMargins left="0.7"/></${p}worksheet>"""
    (sheet, sst.getOrElse(""), encode(rnd, sheet), sst.map(encode(rnd, _)))
  }

  /** Reads one generated workbook with both readers; returns the row count. */
  private def compare(dir: java.nio.file.Path, seed: Int,
      book: (String, String, Array[Byte], Option[Array[Byte]])): Int = {
    val (sheetXml, sstXml, sheetPart, sstPart) = book
    val f = dir.resolve(s"w$seed.xlsx").toString
    XlsxTestFiles.writeParts(f, Seq(("S", sheetPart)), sstPart)
    val zip = new ZipFile(f)
    try {
      val clue = s"seed $seed\nsheet: ${sheetXml.take(4000)}\nshared: $sstXml"
      val refShared = StaxSheetReader.sharedStrings(zip)
      val shared = XlsxParsing.sharedStrings(zip, cap)
      assert(shared.toSeq == refShared.toSeq, clue)
      val entry = zip.getEntry("xl/worksheets/sheet1.xml")
      val ref = new StaxSheetReader.SheetRows(zip, entry, refShared)
      val expected = try Iterator.continually(ref.nextRow()).takeWhile(_ != null)
        .map(_.toSeq).toList finally ref.close()
      val sharedUtf8 = shared.map(UTF8String.fromString)
      val rows = new XlsxParsing.SheetRows(zip, entry, shared.length, cap)
      val got = try Iterator.continually(rows.next()).takeWhile(identity).map { _ =>
        val s = rows.strings(shared).toSeq
        assert(rows.utf8(sharedUtf8).map(_.toString).toSeq == s, clue)
        assert(rows.width == s.length, clue)
        s
      }.toList finally rows.close()
      assert(got == expected, clue)
      // the range readers of a split sheet, concatenated, read it alike
      for (k <- Seq(1, 2, 7)) {
        val ranges = FileSplits.withRanges(k)(FileSplits.ranges(entry.getSize))
        assert(ranges.size == k, clue)
        val split = ranges.flatMap { case (lo, hi) =>
          val rows = new XlsxParsing.SheetRows(zip, entry, shared.length, cap)
          try {
            rows.range(lo, hi)
            Iterator.continually(rows.next()).takeWhile(identity)
              .map(_ => rows.strings(shared).toSeq).toList
          } finally rows.close()
        }
        assert(split == expected, s"K=$k $ranges\n$clue")
      }
      got.size
    } finally zip.close()
  }

  test("the scanner reads random SpreadsheetML exactly as the StAX reader does") {
    val dir = graft.TestDirs.dir("xlsxdiff")
    val rows = (1 to 400).map(seed => compare(dir, seed, workbook(seed))).sum
    assert(rows > 1000)
  }

  test("parts larger than the scan window read alike, tags and entities split anywhere") {
    // a few hundred KB per sheet put window ends at random points inside
    // tags, entities, CDATA and CRLFs; the 100 KB attribute outgrows the
    // 64 KB window itself
    val dir = graft.TestDirs.dir("xlsxdiffbig")
    val pad = s""" note="${"&amp;x" * 20000}""""
    for (seed <- 1 to 3)
      assert(compare(dir, seed, workbook(seed, _ => 4000, if (seed == 1) pad else "")) > 3000)
  }
}
