package graft.etl

import java.io.File
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}
import graft.sources.{FileSplits, XlsxSink, XlsxTestFiles}

/** The part-file writer behind the converter's sinks: its files against
  * Spark's JSON and CSV writers ([[SparkWriterSinks]]), its publication
  * when a job fails, the counts it reports, and that a conversion starts
  * no process. */
class PartFilesSpec extends AnyFunSuite {
  import spark.implicits._

  private def tmp(prefix: String): String = graft.TestDirs.dir(prefix).toString

  private val PartName = """part-(\d+)-.*-c(\d+)\.([a-z]+)""".r

  /** A directory's data files in (partition, chunk) order, keyed by them
    * and the extension (the job id in the name left out), with their
    * bytes as ISO-8859-1 text, so equal text is equal bytes. */
  private def files(dir: String): Seq[((Int, Int, String), String)] =
    new File(dir).listFiles().toSeq.map(_.getName).filter(_.startsWith("part-"))
      .filterNot(_.endsWith(".crc"))
      .map { case n @ PartName(p, c, ext) =>
        ((p.toInt, c.toInt, ext), new String(Files.readAllBytes(new File(dir, n).toPath), ISO_8859_1))
      }
      .sortBy(_._1)

  /** An all-string frame read from a workbook as `k` row ranges; its
    * header names and cells need CSV quoting and JSON escaping. */
  private def xlsxFrame(dir: String, k: Int): DataFrame = {
    val header = Seq("id", "a,b", "say \"hi\"", " lead", "two\nlines", "naïve")
    val rows = (1 to 60).map { i =>
      Seq(i.toString, s"x$i,y", if (i % 4 == 0) "" else s"q\"$i\"", s"  pad $i ",
        if (i % 5 == 0) s"l1\nl2 $i" else "", s"中文 😀 $i")
    }
    XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(("S", header +: rows)))
    FileSplits.withRanges(k)(spark.read.format("xlsx").load(s"$dir/book.xlsx"))
  }

  /** Orders with nulls in a string, a date and a decimal column. */
  private def orders: DataFrame = IngestOps.table(spark, sf0001, "orders")
    .filter(col("o_orderkey") < 700)
    .withColumn("o_orderpriority", when(col("o_orderkey") % 3 === 0, lit(null)).otherwise(col("o_orderpriority")))
    .withColumn("o_orderdate", when(col("o_orderkey") % 5 === 0, lit(null)).otherwise(col("o_orderdate")))
    .withColumn("o_totalprice", when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_totalprice")))

  /** Five rows over eight range partitions, most of them empty, with
    * partition 0 empty too. */
  private def sparse: DataFrame =
    Seq(("5", "e"), ("6", "f"), ("7", ""), ("8", "h"), ("9", "i")).toDF("k", "v")
      .repartitionByRange(8, $"k").union(Seq(("3", null: String)).toDF("k", "v"))

  private def empty: DataFrame = spark.emptyDataset[(String, String)].toDF("k", "v")

  test("ndjson parts are Spark's JSON writer's, byte for byte, single and multi-file") {
    val dir = tmp("pf_nd")
    val frames = Seq("orders" -> (() => orders.repartition(3)), "sparse" -> (() => sparse),
      "empty" -> (() => empty),
      "names" -> (() => Seq(("1", "x"), ("2", null)).toDF("a.b", "`q` \"r\"")))
    for ((name, frame) <- frames; single <- Seq(false, true)) {
      val (a, b) = (s"$dir/ours_$name$single", s"$dir/spark_$name$single")
      val w = Sinks.ndjson(frame(), a, singleFile = single)
      SparkWriterSinks.ndjson(frame(), b, singleFile = single)
      assert(files(a) == files(b), s"$name single=$single")
      assert(w.files == files(a).size && w.bytes == files(a).map(_._2.length.toLong).sum)
    }
    FileSplits.withRanges(3) {
      val (a, b) = (s"$dir/ours_xlsx", s"$dir/spark_xlsx")
      val w = Sinks.ndjson(xlsxFrame(tmp("pf_ndx"), 3), a)
      SparkWriterSinks.ndjson(xlsxFrame(tmp("pf_ndx"), 3), b)
      assert(files(a).size == 3 && files(a) == files(b))
      assert(w.rows == 60)
    }
    // an empty frame gives one empty part
    assert(files(s"$dir/ours_emptytrue").map(_._2) == Seq(""))
  }

  test("chunked csv files are Spark's CSV writer's, byte for byte, each with its header") {
    val dir = tmp("pf_csv")
    def same(name: String, batch: Int, frame: () => DataFrame, orderCol: Option[String] = None): Unit = {
      val (a, b) = (s"$dir/ours_$name$batch", s"$dir/spark_$name$batch")
      val w = Sinks.chunkedCsv(frame(), a, batch, orderCol)
      SparkWriterSinks.chunkedCsv(frame(), b, batch, orderCol)
      val ours = files(a)
      assert(ours == files(b), s"$name batch=$batch")
      val header = ours.head._2.takeWhile(_ != '\n') + "\n"
      assert(ours.forall(_._2.startsWith(header)), s"$name batch=$batch")
      assert(w.files == ours.size && w.bytes == ours.map(_._2.length.toLong).sum)
    }
    FileSplits.withRanges(3) {
      // 60 rows in 3 ranges of about 20: chunks of 1, chunk boundaries
      // inside each range, and one chunk per range
      for (batch <- Seq(1, 7, 1000)) same("xlsx", batch, () => xlsxFrame(tmp("pf_csvx"), 3))
    }
    for (batch <- Seq(1, 37)) same("orders", batch, () => orders, Some("o_orderkey"))
    same("sparse", 2, () => sparse)
    // one column: a null renders as an empty line, "" as a quoted one
    same("onecol", 3, () => Seq("a", null, "", "b").toDF("c").repartition(1))
    same("empty", 5, () => empty)
    // an empty frame gives one readable header-only file
    assert(files(s"$dir/ours_empty5").map(_._2) == Seq("k,v\n"))
    val back = spark.read.option("header", "true").csv(s"$dir/ours_empty5")
    assert(back.columns.toSeq == Seq("k", "v") && back.count() == 0)
  }

  test("an empty frame writes [] as its JSON array") {
    val path = s"${tmp("pf_arr")}/a.json"
    val w = Sinks.jsonArray(empty, path)
    assert(Files.readString(new File(path).toPath) == "[]")
    assert(w == PartFiles.Written(0, 1, 2))
  }

  private def staging(parent: String): Seq[String] =
    new File(parent).list().toSeq.filter(n => n.startsWith(".") && n.endsWith(".staging"))

  /** Every file under `path` with its bytes, or the file itself. */
  private def snapshot(path: String): Map[String, String] = {
    val root = new File(path)
    if (root.isFile) Map("" -> new String(Files.readAllBytes(root.toPath), ISO_8859_1))
    else Files.walk(root.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.toPath.relativize(p).toString -> new String(Files.readAllBytes(p), ISO_8859_1))
      .toMap
  }

  test("a job that fails in one task changes no output and leaves no staging directory") {
    val boom = udf((s: String) => if (s == "v17") throw new IllegalStateException("boom") else s)
    val good = (1 to 40).map(i => (i.toString, s"v$i")).toDF("k", "v").repartition(4)
    val bad = good.withColumn("v", boom($"v"))
    val sinks: Seq[(String, (DataFrame, String) => Any)] = Seq(
      "ndjson" -> ((df, p) => Sinks.ndjson(df, p, overwrite = true, singleFile = true)),
      "csv" -> ((df, p) => Sinks.chunkedCsv(df, p, 6, overwrite = true)),
      "json" -> ((df, p) => Sinks.jsonArray(df, p, overwrite = true)),
      "xlsx" -> ((df, p) => XlsxSink.write(df, p, overwrite = true)))
    val dir = tmp("pf_fail")
    for ((name, sink) <- sinks) {
      val out = s"$dir/out_$name"
      sink(good, out)
      val before = snapshot(out)
      intercept[SparkException](sink(bad, out))
      assert(snapshot(out) == before, name)
      assert(staging(dir).isEmpty, name)
      // a failed write into a path that does not exist leaves none either
      intercept[SparkException](sink(bad, s"$dir/fresh_$name"))
      assert(!new File(s"$dir/fresh_$name").exists() && staging(dir).isEmpty, name)
      sink(good, out)
      assert(snapshot(out).keySet.size == before.keySet.size, name)
    }
  }

  private val formats = Seq("ndjson", "csv", "json", "xlsx")

  private def convertAll(dir: String): Seq[Convert.Result] = {
    XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(("S",
      Seq("a", "b") +: (1 to 500).map(i => Seq(s"a$i", s"b,$i")))))
    FileSplits.withRanges(3) {
      formats.map(fmt => Convert.run(spark, EngineConfig(
        inputDir = s"$dir/book.xlsx", inputFormat = "xlsx", format = fmt,
        outputPath = Some(s"$dir/out_$fmt"), overwrite = true, batchSize = 100)))
    }
  }

  test("Convert.Result counts the files and bytes the sink published") {
    val dir = tmp("pf_counts")
    convertAll(dir).foreach { r =>
      val out = new File(r.outputPath)
      val data = if (out.isFile) Seq(out) else out.listFiles().toSeq.filter(_.isFile)
      assert(r.rowsWritten == 500, r.format)
      assert(r.filesWritten == data.size && r.bytesWritten == data.map(_.length).sum, r.format)
      assert(!data.exists(f => f.getName.startsWith(".") || f.getName.startsWith("_")), r.format)
    }
    val byFormat = convertAll(dir).map(r => r.format -> r.filesWritten).toMap
    // ndjson and json are one file; csv chunks of 100 over 3 ranges; one
    // workbook per range
    assert(byFormat == Map("ndjson" -> 1, "csv" -> 6, "json" -> 1, "xlsx" -> 3))
  }

  /** The `jdk.ProcessStart` events JFR records while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = graft.TestDirs.file("proc", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally rec.close()
  }

  test("a conversion to each format starts no process") {
    // the recorder sees a process this JVM starts
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).size == 1)
    val dir = tmp("pf_fork")
    convertAll(dir) // first conversions load classes and warm the session
    assert(processStarts(convertAll(dir)) == Nil)
  }

  test("graft.Main's CONVERT line reports the files and bytes written") {
    val line = graft.Main.report(
      Convert.Result("S", "csv", "/out", 500, 6, 12345), 1500)
    assert(line == "CONVERT sheet=S format=csv output=/out excel.rows.processed=500 " +
      "excel.rows.skipped=0 excel.batches.written=6 excel.bytes.written=12345 " +
      "excel.time.total=1500")
  }
}
