package graft.sources

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class XlsxSourceSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    Files.createTempDirectory("xlsx").toString + "/" + name

  private val sheet1 = Seq(
    Seq("id", "name", "price"),
    Seq("1", "alpha widget", "9.99"),
    Seq("2", "beta <&> gadget", "12.50"),
    Seq("3", "alpha widget", "7"))

  test("round-trip: header names, shared strings, numbers, order") {
    val f = tmp("basic.xlsx")
    XlsxTestFiles.writeDense(f, Seq(("Data", sheet1)))
    val df = spark.read.format("xlsx").load(f)
    assert(df.columns.toSeq == Seq("id", "name", "price"))
    assert(df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("1", "alpha widget", "9.99"),
      ("2", "beta <&> gadget", "12.50"),
      ("3", "alpha widget", "7")))
  }

  test("inline strings parse identically to shared strings") {
    val f = tmp("inline.xlsx")
    XlsxTestFiles.writeDense(f, Seq(("Data", sheet1)), inline = true)
    val rows = spark.read.format("xlsx").load(f).collect().map(_.getString(1))
    assert(rows.toSeq == Seq("alpha widget", "beta <&> gadget", "alpha widget"))
  }

  test("sparse cells fill with blanks; all-blank rows drop") {
    val f = tmp("sparse.xlsx")
    XlsxTestFiles.write(f, Seq(("S", Seq(
      Seq(Some("a"), Some("b"), Some("c")),
      Seq(Some("1"), None, Some("3")), // gap in column b
      Seq(None, None, None), // entirely empty row: dropped (T2)
      Seq(None, None, Some("z"))))))
    val rows = spark.read.format("xlsx").load(f)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("1", "", "3"), ("", "", "z")))
  }

  test("sheet selection: case-insensitive name; index; reference error surface") {
    val f = tmp("multi.xlsx")
    XlsxTestFiles.writeDense(f, Seq(
      ("First", Seq(Seq("a"), Seq("1"))),
      ("Second", Seq(Seq("b"), Seq("2")))))
    val byName = spark.read.format("xlsx").option("sheetName", "second").load(f)
    assert(byName.columns.toSeq == Seq("b") && byName.collect().map(_.getString(0)).toSeq == Seq("2"))
    val byIdx = spark.read.format("xlsx").option("sheetIndex", "1").load(f)
    assert(byIdx.columns.toSeq == Seq("b"))
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("xlsx").option("sheetName", "Missing").load(f)
    }
    assert(e1.getMessage.contains("Sheet with name 'Missing' not found") &&
      e1.getMessage.contains("Available sheets: [First, Second]"))
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("xlsx").option("sheetIndex", "5").load(f)
    }
    assert(e2.getMessage.contains("Invalid sheet index: 5") &&
      e2.getMessage.contains("File contains 2 sheets"))
  }

  test("header fallback: blank header cells and width overflow name by index") {
    val f = tmp("hdr.xlsx")
    XlsxTestFiles.write(f, Seq(("S", Seq(
      Seq(Some("name"), None), // header: col 1 blank
      Seq(Some("x"), Some("y"), Some("z")))))) // data wider than the header
    val df = spark.read.format("xlsx").load(f)
    assert(df.columns.toSeq == Seq("name", "1", "2"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("x", "y", "z")))
  }

  test("header=false names every column by index and keeps row one") {
    val f = tmp("nohdr.xlsx")
    XlsxTestFiles.writeDense(f, Seq(("S", Seq(Seq("a", "b"), Seq("c", "d")))))
    val df = spark.read.format("xlsx").option("header", "false").load(f)
    assert(df.columns.toSeq == Seq("0", "1"))
    assert(df.count() == 2)
  }

  test("directory read: one partition per file, rows union in file order") {
    val dir = Files.createTempDirectory("xlsxdir").toString
    XlsxTestFiles.writeDense(s"$dir/a.xlsx", Seq(("S", Seq(Seq("v"), Seq("1"), Seq("2")))))
    XlsxTestFiles.writeDense(s"$dir/b.xlsx", Seq(("S", Seq(Seq("v"), Seq("3")))))
    val df = spark.read.format("xlsx").load(dir)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("1", "2", "3"))
  }

  test("zip-bomb guards: entry-size cap and inflation ratio raise typed exceptions") {
    val f = tmp("bomb.xlsx")
    // highly compressible payload: 4000 identical rows deflate far below 1%
    val big = Seq.fill(4000)(Seq("0", "0", "0"))
    XlsxTestFiles.writeDense(f, Seq(("S", Seq(Seq("a", "b", "c")) ++ big)))
    intercept[graft.etl.InputTooLargeException] {
      spark.read.format("xlsx").option("maxEntrySizeBytes", "1024").load(f)
    }
    intercept[graft.etl.InflationLimitException] {
      spark.read.format("xlsx").option("minInflateRatio", "0.9").load(f)
    }
    // permissive caps: the same file reads fine
    assert(spark.read.format("xlsx").load(f).count() == 4000)
  }

  test("user-supplied schema skips inference and pads to its width") {
    val f = tmp("schema.xlsx")
    XlsxTestFiles.writeDense(f, Seq(("S", Seq(Seq("h1", "h2"), Seq("a", "b")))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c1", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c2", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c3", org.apache.spark.sql.types.StringType)))
    val df = spark.read.format("xlsx").schema(schema).load(f)
    assert(df.columns.toSeq == Seq("c1", "c2", "c3"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "b", "")))
  }

  test("unionSheets: one partition per (file, sheet); headers per sheet; pad narrow") {
    val f = tmp("union.xlsx")
    XlsxTestFiles.writeDense(f, Seq(
      ("Jan", Seq(Seq("id", "v"), Seq("1", "a"), Seq("2", "b"))),
      ("Feb", Seq(Seq("id", "v"), Seq("3", "c"))),
      ("Mar", Seq(Seq("id"), Seq("4"))))) // narrower sheet pads with ""
    val df = spark.read.format("xlsx").option("unionSheets", "true").load(f)
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.rdd.getNumPartitions == 3) // the intra-file parallelism grain
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq(("1", "a"), ("2", "b"), ("3", "c"), ("4", "")))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("xlsx").option("unionSheets", "true")
        .option("sheetName", "Jan").load(f).collect()
    }
    assert(e.getMessage.contains("cannot be combined"))
    // partitioning must not change CONTENT (VERDICT r15 #4): the sheet-level
    // partition scan equals the union of the three single-sheet reads
    val perSheet = Seq("Jan", "Feb", "Mar").flatMap { sn =>
      spark.read.format("xlsx").option("sheetName", sn).load(f).collect()
        .map(r => (r.getString(0), if (r.schema.size > 1) r.getString(1) else ""))
    }.sorted
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      == perSheet)
  }

  test("column reference arithmetic: AA27 and friends") {
    assert(XlsxParsing.colIndex("A1") == 0)
    assert(XlsxParsing.colIndex("Z9") == 25)
    assert(XlsxParsing.colIndex("AA27") == 26)
    assert(XlsxParsing.colIndex("BC12") == 54)
    assert(XlsxParsing.colIndex("XFD1") == XlsxParsing.MaxColumns - 1)
    // past XFD saturates instead of overflowing
    assert(XlsxParsing.colIndex("XFE1") == XlsxParsing.MaxColumns)
    assert(XlsxParsing.colIndex("ZZZZZZZZZZZZZZ1") == XlsxParsing.MaxColumns)
  }

  private val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val headRow =
    s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="$ns"><sheetData>""" +
      """<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>"""
  private val tail = "</sheetData></worksheet>"

  /** A one-sheet workbook around raw sheet XML, with a one-string table. */
  private def rawBook(name: String, sheetXml: String): String = {
    val f = tmp(name)
    XlsxTestFiles.writeParts(f, Seq(("S", sheetXml.getBytes("UTF-8"))),
      Some(s"""<sst xmlns="$ns"><si><t>only</t></si></sst>""".getBytes("UTF-8")))
    f
  }

  /** The IllegalArgumentException `body` ends in, within a time bound. */
  private def typedError(body: => Any): IllegalArgumentException = {
    val e = intercept[Throwable](
      Await.result(Future(body)(ExecutionContext.global), 60.seconds))
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
      .getOrElse(fail(s"no IllegalArgumentException in the causes of $e", e))
  }

  /** Fails at load() (schema inference) and, with the schema given, at scan. */
  private def failsBothWays(f: String, message: String): Unit = {
    val atLoad = typedError(spark.read.format("xlsx").load(f))
    val atScan = typedError(spark.read.format("xlsx").schema("a STRING").load(f).collect())
    for (e <- Seq(atLoad, atScan)) {
      assert(e.getMessage.contains(message), e.getMessage)
      assert(e.getMessage.contains(f) && e.getMessage.contains("xl/worksheets/sheet1.xml at byte"),
        e.getMessage)
    }
  }

  test("a cell past column XFD is a typed error, not an out-of-memory row") {
    failsBothWays(rawBook("wide.xlsx",
      headRow + """<row r="2"><c r="ZZZZZZ2"><v>1</v></c></row>""" + tail), "column XFD")
    // a cell without r after XFD lands past it too
    failsBothWays(rawBook("wide2.xlsx",
      headRow + """<row r="2"><c r="XFD2"><v>1</v></c><c><v>2</v></c></row>""" + tail),
      "column XFD")
  }

  test("malformed sheets end in a typed error, at load() and at scan time") {
    val lol = (1 to 9).map(i => s"""<!ENTITY lol$i "${s"&lol${i - 1};" * 10}">""").mkString
    val cases = Seq(
      "truncated mid-tag" -> (headRow + """<row r="2"><c r="A2"><v>1</v></c><c r="B""",
        "end of input inside <row>"),
      "unterminated comment" -> (headRow + "<!-- never closed </sheetData>",
        "end of input inside <sheetData>"),
      "unterminated CDATA" -> (headRow +
        """<row r="2"><c r="A2" t="inlineStr"><is><t><![CDATA[abc</t>""",
        "end of input inside <t>"),
      "unterminated attribute" -> (headRow + """<row r="2"><c r="A2><v>1</v></c></row>""" + tail,
        "'<' in an attribute value"),
      "entity-expansion DTD" -> (
        s"""<?xml version="1.0"?><!DOCTYPE worksheet [<!ENTITY lol0 "lol">$lol]>""" +
          s"""<worksheet xmlns="$ns"><sheetData><row><c t="inlineStr"><is><t>&lol9;</t>""" +
          "</is></c></row>" + tail,
        "DTD"),
      "undeclared entity" -> (headRow + """<row r="2"><c r="A2"><v>&bogus;</v></c></row>""" + tail,
        "undeclared entity &bogus;"),
      "element nested in <v>" -> (headRow + """<row r="2"><c r="A2"><v>1<b/>2</v></c></row>""" + tail,
        "element inside the text of <v>"),
      "mismatched end tag" -> (headRow + """<row r="2"><c r="A2"><v>1</v></row>""" + tail,
        "</row> does not close <c>"),
      "out-of-range shared index" -> (headRow + """<row r="2"><c r="A2" t="s"><v>7</v></c></row>""" + tail,
        "shared-string index 7 out of range (1 strings)"))
    for (((name, (xml, message)), i) <- cases.zipWithIndex)
      withClue(name)(failsBothWays(rawBook(s"bad$i.xlsx", xml), message))
  }

  test("pruned projection: blank-row drop is judged on the full physical row") {
    val f = tmp("pruned.xlsx")
    XlsxTestFiles.write(f, Seq(("S", Seq(
      Seq(Some("a"), Some("b"), Some("c")),
      Seq(Some("x"), None, Some("")), // blank in b and c only: kept
      Seq(Some(""), None, Some("")), // present but all blank: dropped
      Seq(None, Some("y"), None)))))
    val df = spark.read.format("xlsx").load(f)
    assert(df.select("b").collect().map(_.getString(0)).toSeq == Seq("", "y"))
    assert(df.select("c").collect().map(_.getString(0)).toSeq == Seq("", ""))
    assert(df.count() == 2) // no required column at all
  }
}
