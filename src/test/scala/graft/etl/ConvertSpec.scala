package graft.etl

import java.io.File
import java.nio.file.Files
import java.util.zip.ZipFile

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}
import graft.sources.{FileSplits, XlsxParsing, XlsxTestFiles}

class ConvertSpec extends AnyFunSuite {

  private val formats = Seq("ndjson", "csv", "json", "xlsx")
  private val mapper = new ObjectMapper()
  private val cap = 1L << 30

  private def cfg(fmt: String, out: String) = EngineConfig(
    inputDir = sf0001, sheetName = Some("ORDERS"), format = fmt,
    outputPath = Some(out), overwrite = true, batchSize = 500)

  test("end-to-end ndjson conversion: all rows written, all-string cells") {
    val out = graft.TestDirs.dir("cv").toString + "/nd"
    val r = Convert.run(spark, cfg("ndjson", out))
    assert(r.sheet == "orders" && r.rowsWritten == 1500)
    val back = spark.read.json(out)
    assert(back.count() == 1500)
    assert(back.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
  }

  test("end-to-end chunked csv conversion honors batchSize") {
    val out = graft.TestDirs.dir("cv").toString + "/csv"
    val r = Convert.run(spark, cfg("csv", out))
    assert(r.rowsWritten == 1500)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val dataLines = scala.io.Source.fromFile(f).getLines().size - 1 // minus header
      assert(dataLines <= 500)
    }
  }

  test("end-to-end json-array conversion writes one well-formed document") {
    val out = graft.TestDirs.dir("cv").toString + "/arr.json"
    val r = Convert.run(spark, cfg("json", out))
    assert(r.rowsWritten == 1500)
    val txt = Files.readString(java.nio.file.Paths.get(out))
    assert(txt.startsWith("[{") && txt.endsWith("}]"))
  }

  test("headerRow skips leading rows positionally") {
    val out = graft.TestDirs.dir("cv").toString + "/nd2"
    val r = Convert.run(spark, cfg("ndjson", out).copy(headerRow = 100))
    assert(r.rowsWritten == 1400)
  }

  test("sheet by index when no name given") {
    val out = graft.TestDirs.dir("cv").toString + "/nd3"
    val r = Convert.run(spark, cfg("ndjson", out).copy(sheetName = None, sheetIndex = 0))
    assert(r.sheet == "region" && r.rowsWritten == 5)
  }

  test("end-to-end from a real .xlsx package: scan → header → ndjson sink") {
    val dir = graft.TestDirs.dir("cvx").toString
    graft.sources.XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(
      ("Inventory", Seq(
        Seq("sku", "name", "qty"),
        Seq("s1", "first item", "10"),
        Seq("s2", "second item", "20"),
        Seq("s3", "third item", "30")))))
    val out = s"$dir/nd"
    val r = Convert.run(spark, EngineConfig(
      inputDir = s"$dir/book.xlsx", inputFormat = "xlsx",
      sheetName = Some("INVENTORY"), // case-insensitive resolve (S3)
      format = "ndjson", outputPath = Some(out), overwrite = true))
    assert(r.sheet == "Inventory" && r.rowsWritten == 3)
    val back = spark.read.json(out).orderBy("sku").collect()
    assert(back.map(_.getAs[String]("name")).toSeq ==
      Seq("first item", "second item", "third item"))
  }

  test("xlsx headerRow preamble skip and chunked csv sink compose") {
    val dir = graft.TestDirs.dir("cvx2").toString
    graft.sources.XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(
      ("S", Seq(
        Seq("col_a", "col_b"),
        Seq("PREAMBLE", "ignored"), // headerRow=1 drops this data row
        Seq("a1", "b1"),
        Seq("a2", "b2")))))
    val out = s"$dir/csv"
    val r = Convert.run(spark, EngineConfig(
      inputDir = s"$dir/book.xlsx", inputFormat = "xlsx", headerRow = 1,
      format = "csv", outputPath = Some(out), overwrite = true, batchSize = 1))
    assert(r.rowsWritten == 2)
    val back = spark.read.option("header", "true").csv(out).orderBy("col_a").collect()
    assert(back.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a1", "b1"), ("a2", "b2")))
  }

  // ---- reading outputs back in write order, with no sort ----

  private val PartName = """part-(\d+)(?:-.*-c(\d+))?\.[a-z]+""".r

  /** Part files in (part index, numeric chunk number) order. */
  private def partFiles(dir: String): Seq[File] =
    new File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .map(f => f.getName match {
        case PartName(p, c) => ((p.toInt, Option(c).fold(0)(_.toInt)), f)
      })
      .sortBy(_._1).map(_._2)

  private def lines(f: File): Seq[String] =
    Files.readAllLines(f.toPath).asScala.toSeq.filter(_.nonEmpty)

  private def xlsxRows(f: File): Seq[Seq[String]] = {
    val zip = new ZipFile(f)
    try {
      val sheet = XlsxParsing.listSheets(zip, cap).head
      val shared = XlsxParsing.sharedStrings(zip, cap)
      val rows = new XlsxParsing.SheetRows(zip, zip.getEntry(sheet.target), shared.length, cap)
      try Iterator.continually(rows.next()).takeWhile(identity)
        .map(_ => rows.strings(shared).toSeq).toList.drop(1) // header row
      finally rows.close()
    } finally zip.close()
  }

  /** Data rows of a conversion output, in file and line order. */
  private def readBack(fmt: String, out: String, header: Seq[String]): Seq[Seq[String]] =
    fmt match {
      case "ndjson" => partFiles(out).flatMap(lines).map { l =>
        val n = mapper.readTree(l); header.map(n.get(_).asText) }
      case "csv" => partFiles(out).flatMap { f =>
        val ls = lines(f)
        assert(ls.head.split(",").toSeq == header)
        ls.tail.map(_.split(",", -1).toSeq) }
      case "json" => mapper.readTree(new File(out)).elements.asScala.toSeq
        .map(n => header.map(n.get(_).asText))
      case "xlsx" => partFiles(out).flatMap(xlsxRows)
    }

  /** Fails instead of hanging when a conversion blocks (Observation.get). */
  private def within[A](body: => A): A =
    Await.result(Future(body)(ExecutionContext.global), 3.minutes)

  private def outFor(dir: String, fmt: String) =
    s"$dir/out_$fmt" + (if (fmt == "json") ".json" else "")

  private def xlsxCfg(in: String, fmt: String, out: String) = EngineConfig(
    inputDir = in, inputFormat = "xlsx", format = fmt, outputPath = Some(out),
    overwrite = true)

  test("xlsx conversion keeps source order across workbooks without a sort") {
    val dir = graft.TestDirs.dir("cvorder").toString
    val in = s"$dir/in"
    new File(in).mkdirs()
    val header = Seq("id", "book", "seq")
    def rows(book: String, n: Int) = (1 to n).map(i => Seq(s"$book-$i", book, i.toString))
    val sizes = Seq("c" -> 60, "a" -> 40, "b" -> 25) // created out of name order
    sizes.foreach { case (b, n) =>
      XlsxTestFiles.writeDense(s"$in/wb_$b.xlsx", Seq(("Data",
        header +: Seq(s"$b-preamble", "skip", "0") +: rows(b, n))))
    }
    val expected = sizes.sortBy(_._1).flatMap { case (b, n) => rows(b, n) }
    for (k <- Seq(1, 2, 7); fmt <- formats) FileSplits.withRanges(k) {
      val out = outFor(dir, fmt)
      val r = within(Convert.run(spark,
        xlsxCfg(in, fmt, out).copy(headerRow = 1, batchSize = 7)))
      assert(r.rowsWritten == expected.size, s"$fmt K=$k")
      assert(readBack(fmt, out, header) == expected, s"$fmt K=$k")
    }
  }

  test("header-only sheet converts to every format with rowsWritten 0") {
    val dir = graft.TestDirs.dir("cvempty").toString
    val header = Seq("a", "b")
    XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(("S", Seq(header))))
    formats.foreach { fmt =>
      val out = outFor(dir, fmt)
      val r = within(Convert.run(spark, xlsxCfg(s"$dir/book.xlsx", fmt, out)))
      assert(r.rowsWritten == 0, fmt)
      val back = fmt match {
        case "ndjson" => spark.read.text(out).count()
        case "csv" => spark.read.option("header", "true").csv(out).count()
        case "json" => mapper.readTree(new File(out)).size.toLong
        case "xlsx" =>
          val x = spark.read.format("xlsx").load(out)
          assert(x.columns.toSeq == header)
          x.count()
      }
      assert(back == 0, fmt)
    }
  }

  test("K4: converting onto an existing output without overwrite throws, never blocks") {
    val dir = graft.TestDirs.dir("cvk4").toString
    XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(("S",
      Seq(Seq("a", "b"), Seq("x1", "y1"), Seq("x2", "y2")))))
    formats.foreach { fmt =>
      val out = outFor(dir, fmt)
      val c = xlsxCfg(s"$dir/book.xlsx", fmt, out)
      assert(within(Convert.run(spark, c)).rowsWritten == 2, fmt)
      val e = intercept[Exception](within(Convert.run(spark, c.copy(overwrite = false))))
      e match {
        case a: AnalysisException => assert(a.getCondition == "PATH_ALREADY_EXISTS", fmt)
        case s: IllegalStateException => assert(s.getMessage.contains("overwrite not enabled"), fmt)
        case other => fail(s"$fmt: unexpected $other")
      }
      // the failed attempt leaves nothing pending: the next write counts
      assert(within(Convert.run(spark, c)).rowsWritten == 2, fmt)
    }
  }

  test("chunked csv past 999 chunks in one task: numeric chunk order is source order") {
    val dir = graft.TestDirs.dir("cvchunks").toString
    val rows = (1 to 1200).map(i => Seq(i.toString, s"v$i"))
    XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(("S", Seq("n", "v") +: rows)))
    val out = s"$dir/csv"
    for (k <- Seq(1, 2, 7)) FileSplits.withRanges(k) {
      val r = within(Convert.run(spark,
        xlsxCfg(s"$dir/book.xlsx", "csv", out).copy(batchSize = 1)))
      assert(r.rowsWritten == 1200, s"K=$k")
      assert(partFiles(out).size == 1200, s"K=$k")
      assert(readBack("csv", out, Seq("n", "v")) == rows, s"K=$k")
    }
  }
}
