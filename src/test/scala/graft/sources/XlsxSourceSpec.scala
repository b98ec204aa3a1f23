package graft.sources


import java.nio.charset.StandardCharsets.{UTF_16LE, UTF_8}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class XlsxSourceSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    graft.TestDirs.dir("xlsx").toString + "/" + name

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
    val dir = graft.TestDirs.dir("xlsxdir").toString
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

  /** Fails at load() (schema inference) and, with the schema given, at scan
    * with the sheet read as 1, 2 and 7 row ranges. */
  private def failsBothWays(f: String, message: String): Unit = {
    val atLoad = typedError(spark.read.format("xlsx").load(f))
    val atScan = Seq(1, 2, 7).map(k => FileSplits.withRanges(k) {
      val df = spark.read.format("xlsx").schema("a STRING").load(f)
      assert(df.rdd.getNumPartitions == k)
      typedError(df.collect())
    })
    for (e <- atLoad +: atScan) {
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
        "shared-string index 7 out of range (1 strings)"),
      // before the first row: parsed in full by the range at byte 0 only
      "undeclared entity in the sheet head" -> (
        s"""<?xml version="1.0"?><worksheet xmlns="$ns"><dimension ref="&bogus;"/>""" +
          headRow.drop(headRow.indexOf("<sheetData>")) +
          """<row r="2"><c r="A2"><v>1</v></c></row>""" + tail,
        "undeclared entity &bogus;"))
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

  // ---- split sheets: a range boundary forced onto adversarial bytes ----

  /** A sheet of raw rows after the header row, with no shared strings. */
  private def rowsBook(name: String, body: String, prolog: String = ""): (String, String) = {
    val xml = s"""<?xml version="1.0" encoding="UTF-8"?>$prolog<worksheet xmlns="$ns">""" +
      s"""<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>""" +
      body + tail
    val f = tmp(name)
    XlsxTestFiles.writeParts(f, Seq(("S", xml.getBytes("UTF-8"))))
    (f, xml)
  }

  private def inline(r: Int, v: String) =
    s"""<row r="$r"><c r="A$r" t="inlineStr"><is><t>$v</t></is></c></row>"""

  /** Column `h` of `f` read with a range boundary at byte `at` (and at each
    * multiple of it), over at least two ranges. */
  private def readSplitAt(f: String, at: Long, options: Map[String, String] = Map.empty)
      : Seq[String] = FileSplits.withBoundaryEvery(at) {
    val df = spark.read.format("xlsx").options(options).load(f)
    assert(df.rdd.getNumPartitions >= 2)
    df.collect().map(_.getString(0)).toSeq
  }

  test("split sheets: a literal <row in a comment, CDATA or attribute value is never a row") {
    val body = inline(2, "a") +
      """<!-- <row r="90"><c r="A90"><v>comment</v></c></row> -->""" +
      """<row r="3"><c r="A3" t="inlineStr"><is><t><![CDATA[<row r="91">cdata</row>]]></t>""" +
      "</is></c></row>" +
      """<row r="4"><c r="A4" t="inlineStr" note="/>row r=&quot;92&quot;>"><is><t>c</t></is></c></row>""" +
      inline(5, "d")
    val (f, xml) = rowsBook("adversarial.xlsx", body)
    val whole = Seq("a", "<row r=\"91\">cdata</row>", "c", "d")
    assert(spark.read.format("xlsx").load(f).collect().map(_.getString(0)).toSeq == whole)
    for (marker <- Seq("<row r=\"90\"", "<row r=\"91\"", "row r=&quot;92", "/>row"))
      for (d <- -1 to 1) withClue(s"$marker $d") {
        assert(readSplitAt(f, xml.indexOf(marker) + d) == whole)
      }
    // '<' may not appear in an attribute value: a typed error wherever the split
    val (bad, badXml) = rowsBook("lt_in_attr.xlsx",
      inline(2, "a") + """<row r="3" note="<row r=4>">""" + "</row>" + inline(5, "b"))
    for (at <- Seq(badXml.indexOf("<row r=4>"), badXml.indexOf("<row r=\"3\""))) {
      val e = typedError(FileSplits.withBoundaryEvery(at.toLong)(
        spark.read.format("xlsx").schema("h STRING").load(bad).collect()))
      assert(e.getMessage.contains("'<' in an attribute value"), e.getMessage)
    }
  }

  test("split sheets: a prolog larger than a range puts the header in a later range") {
    val (f, xml) = rowsBook("prolog.xlsx", inline(2, "a") + inline(3, "b"),
      prolog = s"<!-- ${"<row>" * 400} -->")
    val header = xml.indexOf("""<row r="1">""")
    assert(header > 1000)
    // range 0 holds no row; the header row sits in range 1 or later
    assert(readSplitAt(f, 500) == Seq("a", "b"))
    assert(readSplitAt(f, header) == Seq("a", "b"))
    assert(spark.read.format("xlsx").load(f).columns.toSeq == Seq("h"))
  }

  test("split sheets: headerRow skips are counted in sheet order across ranges") {
    val blank = (r: Int) => s"""<row r="$r"><c r="A$r"/></row>"""
    val body = inline(2, "p1") + blank(3) + inline(4, "p2") + blank(5) + blank(6) +
      inline(7, "p3") + inline(8, "d1") + blank(9) + inline(10, "d2")
    val (f, xml) = rowsBook("preamble.xlsx", body)
    val skip3 = Map("headerRow" -> "3")
    assert(spark.read.format("xlsx").options(skip3).load(f).collect()
      .map(_.getString(0)).toSeq == Seq("d1", "d2"))
    for (r <- 2 to 10) withClue(s"boundary at row $r") {
      assert(readSplitAt(f, xml.indexOf(s"""<row r="$r">"""), skip3) == Seq("d1", "d2"))
    }
    for (k <- Seq(2, 7)) FileSplits.withRanges(k) {
      val df = spark.read.format("xlsx").options(skip3).load(f)
      assert(df.rdd.getNumPartitions == k)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("d1", "d2"))
    }
  }

  test("split sheets: an all-blank row on a range boundary is dropped once") {
    val (f, xml) = rowsBook("blank_edge.xlsx",
      inline(2, "a") + """<row r="3"><c r="A3"/><c r="B3"><v></v></c></row>""" + inline(4, "b"))
    val at = xml.indexOf("""<row r="3">""")
    assert(readSplitAt(f, at) == Seq("a", "b"))
    assert(readSplitAt(f, at + 1) == Seq("a", "b"))
  }

  // ---- access points: ranges that start where schema inference recorded ----

  /** The partitions a scan of `f` plans after schema inference, as load()
    * plans them, or with the schema given. */
  private def planned(f: String, options: Map[String, String] = Map.empty,
      infer: Boolean = true): Seq[XlsxRangePartition] = {
    val all = options + ("path" -> f)
    val src = new XlsxSource
    val opts = new CaseInsensitiveStringMap(all.asJava)
    val schema = src.inferSchema(opts)
    val table = (if (infer) src else new XlsxSource).getTable(schema, Array.empty, all.asJava)
    table.asInstanceOf[XlsxTable].newScanBuilder(opts).build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[XlsxRangePartition]).toSeq
  }

  /** At K = 1, 2 and 7, load() — ranges from access points — and a scan
    * with the schema given — ranges from the part's start — read the same
    * rows; returns them. */
  private def bothWays(f: String, options: Map[String, String] = Map.empty): Seq[Seq[String]] =
    Seq(1, 2, 7).map { k =>
      FileSplits.withRanges(k) {
        val indexed = spark.read.format("xlsx").options(options).load(f)
        assert(indexed.rdd.getNumPartitions == k)
        val plain = spark.read.format("xlsx").options(options).schema(indexed.schema).load(f)
        val rows = indexed.collect().map(_.toSeq.map(_.toString)).toSeq
        assert(rows == plain.collect().map(_.toSeq.map(_.toString)).toSeq, s"K=$k")
        rows
      }
    }.distinct match {
      case Seq(one) => one
      case many => fail(s"rows differ between K = 1, 2, 7: ${many.map(_.size)}")
    }

  private def bigBook(name: String, rows: Int, salt: String = ""): (String, Seq[Seq[String]]) = {
    val f = tmp(name)
    val data = (1 to rows).map(i => Seq(i.toString, s"name $salt${i % 97}", s"v${i * 7}$salt",
      if (i % 5 == 0) "" else s"t${i % 13}"))
    // every 17th row all blank, dropped
    XlsxTestFiles.write(f, Seq(("S", Seq(Seq("id", "name", "v", "t")).map(_.map(Option(_))) ++
      data.zipWithIndex.map { case (r, i) => if (i % 17 == 3) r.map(_ => None) else r.map(Option(_)) })))
    (f, data.zipWithIndex.filter(_._2 % 17 != 3).map(_._1))
  }

  test("access points: load() and a given schema read the split cases alike at K = 1, 2, 7") {
    val (f, expected) = bigBook("ap_big.xlsx", 30000)
    val sheetSize = {
      val zip = new java.util.zip.ZipFile(f)
      try zip.getEntry("xl/worksheets/sheet1.xml").getSize finally zip.close()
    }
    assert(sheetSize > 1000000) // several deflate blocks
    assert(bothWays(f) == expected)
    assert(bothWays(f, Map("headerRow" -> "3")) == expected.drop(3))
    assert(bothWays(f, Map("header" -> "false")).size == expected.size + 1)
    FileSplits.withRanges(7) {
      val parts = planned(f)
      assert(parts.size == 7 && parts.head.start.isEmpty)
      for (p <- parts.tail) {
        val ap = p.start.getOrElse(fail(s"no access point for range ${p.lo}"))
        assert(ap.rowAt <= p.lo && p.lo - ap.rowAt < 200 && ap.block.out <= ap.rowAt)
      }
      assert(parts.tail.map(_.start.get.block.bit).distinct.size > 1) // not all at block 0
      assert(planned(f, infer = false).forall(_.start.isEmpty))
    }
    // the adversarial sheets of the split cases above
    val body = inline(2, "a") +
      """<!-- <row r="90"><c r="A90"><v>comment</v></c></row> -->""" +
      """<row r="3"><c r="A3" t="inlineStr"><is><t><![CDATA[<row r="91">cdata</row>]]></t>""" +
      "</is></c></row>" + inline(4, "b")
    assert(bothWays(rowsBook("ap_adversarial.xlsx", body)._1).map(_.head) ==
      Seq("a", "<row r=\"91\">cdata</row>", "b"))
    assert(bothWays(rowsBook("ap_prolog.xlsx", inline(2, "a") + inline(3, "b"),
      prolog = s"<!-- ${"<row>" * 400} -->")._1).map(_.head) == Seq("a", "b"))
    val blank = (r: Int) => s"""<row r="$r"><c r="A$r"/></row>"""
    val preamble = rowsBook("ap_preamble.xlsx", inline(2, "p1") + blank(3) + inline(4, "p2") +
      blank(5) + blank(6) + inline(7, "p3") + inline(8, "d1") + blank(9) + inline(10, "d2"))._1
    assert(bothWays(preamble, Map("headerRow" -> "3")).map(_.head) == Seq("d1", "d2"))
  }

  test("access points: a workbook rewritten between load() and collect() reads its new rows") {
    val (f, _) = bigBook("ap_rewritten.xlsx", 20000)
    FileSplits.withRanges(7) {
      val df = spark.read.format("xlsx").load(f)
      assert(planned(f).tail.forall(_.start.isDefined))
      val (g, fresh) = bigBook("ap_rewritten_new.xlsx", 15000, salt = "x")
      java.nio.file.Files.move(java.nio.file.Paths.get(g), java.nio.file.Paths.get(f),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(df.collect().map(_.toSeq.map(_.toString)).toSeq == fresh)
    }
  }

  test("access points: UTF-16 and UTF-8-BOM sheets read at K = 7 through load()") {
    val body = (2 to 600).map(r => inline(r, s"v$r")).mkString
    def sheet(decl: String) = s"""<?xml version="1.0" encoding="$decl"?><worksheet xmlns="$ns">""" +
      """<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>""" + body + tail
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ sheet("UTF-8").getBytes(UTF_8)
    val utf16 = Array(0xFF, 0xFE).map(_.toByte) ++ sheet("UTF-16").getBytes(UTF_16LE)
    for ((name, part, indexed) <- Seq(("bom", bom, true), ("utf16", utf16, false))) withClue(name) {
      val f = tmp(s"ap_$name.xlsx")
      XlsxTestFiles.writeParts(f, Seq(("S", part)))
      FileSplits.withRanges(7) {
        val df = spark.read.format("xlsx").load(f)
        assert(df.rdd.getNumPartitions == 7)
        assert(df.collect().map(_.getString(0)).toSeq == (2 to 600).map(r => s"v$r"))
        val starts = planned(f).tail.map(_.start)
        assert(if (indexed) starts.forall(_.exists(_.skew == 3)) else starts.forall(_.isEmpty))
      }
    }
  }
}
