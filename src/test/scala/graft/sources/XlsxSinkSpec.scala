package graft.sources


import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class XlsxSinkSpec extends AnyFunSuite {
  import spark.implicits._

  private def tmpDir(): String = {
    val d = graft.TestDirs.dir("xlsx_sink_").toFile
    d.delete() // the sink creates it (and the guard checks existence)
    d.getPath
  }

  test("roundtrip: values, header names, and row count survive sink → source") {
    val dir = tmpDir()
    val df = Seq(("1", "alpha", "x y"), ("2", "beta", ""), ("3", "gamma", "z"))
      .toDF("id", "name", "note")
    val n = XlsxSink.write(df, dir, sheetName = "data").rows
    assert(n == 3L)
    val back = spark.read.format("xlsx").option("sheetName", "data").load(dir)
      .orderBy("id").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("1", "2", "3"))
    assert(back.map(_.getString(1)).toSeq == Seq("alpha", "beta", "gamma"))
    assert(back.map(_.getString(2)).toSeq == Seq("x y", "", "z"))
  }

  test("roundtrip: XML-special and whitespace-edged values escape correctly") {
    val dir = tmpDir()
    val vals = Seq("a & b", "x < y > z", "\"quoted\"", " lead", "trail ", "a  b")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toString, v) }.toDF("id", "v")
    XlsxSink.write(df, dir)
    val back = spark.read.format("xlsx").load(dir)
      .orderBy(org.apache.spark.sql.functions.col("id").cast("int"))
      .collect().map(_.getString(1)).toSeq
    assert(back == vals)
  }

  test("multi-partition write: one workbook per non-empty partition, all rows read back") {
    val dir = tmpDir()
    val df = (1 to 100).map(i => (i.toString, s"v$i")).toDF("k", "v").repartition(7)
    val n = XlsxSink.write(df, dir).rows
    assert(n == 100L)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(files.nonEmpty && files.length <= 7)
    val back = spark.read.format("xlsx").load(dir)
    assert(back.count() == 100L)
    assert(back.select("k").as[String].collect().map(_.toInt).sorted.toSeq == (1 to 100))
  }

  test("overwrite guard: existing dir errors without overwrite, truncates with it") {
    val dir = tmpDir()
    val df = Seq(("1", "a")).toDF("id", "v")
    XlsxSink.write(df, dir)
    val e = intercept[IllegalStateException](XlsxSink.write(df, dir))
    assert(e.getMessage.contains("overwrite"))
    XlsxSink.write(Seq(("9", "z")).toDF("id", "v"), dir, overwrite = true)
    val back = spark.read.format("xlsx").load(dir).collect()
    assert(back.map(_.getString(0)).toSeq == Seq("9"))
  }

  test("all-empty input yields a readable header-only workbook (schema survives)") {
    val dir = tmpDir()
    val df = Seq(("1", "a")).toDF("id", "v").filter("id = 'nope'")
    val n = XlsxSink.write(df, dir).rows
    assert(n == 0L)
    val back = spark.read.format("xlsx").load(dir)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.count() == 0L)
  }

  test("column pruning reaches the xlsx scan: projected reads build narrow rows") {
    val dir = tmpDir()
    val df = Seq(("1", "a", "x"), ("2", "b", "y")).toDF("id", "name", "extra")
    XlsxSink.write(df, dir)
    val back = spark.read.format("xlsx").load(dir).select("name")
    // the DSv2 scan's readSchema must be the pruned single column
    val scan = back.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("name") && !scan.contains("extra"),
      s"scan not pruned: $scan")
    assert(back.as[String].collect().sorted.toSeq == Seq("a", "b"))
    // T2 is projection-independent: a row blank only in the projected
    // column still survives when the full row has content
    val dir2 = tmpDir()
    XlsxSink.write(Seq(("1", "", "x")).toDF("id", "name", "extra"), dir2)
    assert(spark.read.format("xlsx").load(dir2).select("name").count() == 1L)
  }

  test("control characters and literal _xHHHH_ text roundtrip via ECMA escapes") {
    val dir = tmpDir()
    val vals = Seq("a\rb", "ab", "has _x0041_ literal", "_x", "tab\there",
      "line\nbreak", "crlf\r\nhere")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toString, v) }.toDF("id", "v")
    XlsxSink.write(df, dir)
    val back = spark.read.format("xlsx").load(dir)
      .orderBy(org.apache.spark.sql.functions.col("id").cast("int"))
      .collect().map(_.getString(1)).toSeq
    assert(back == vals)
  }

  test("duplicate header names stay addressable as distinct columns") {
    val dir = tmpDir()
    new java.io.File(dir).mkdirs()
    // build the workbook directly: header [a, a, b], rows below
    XlsxTestFiles.writeDense(s"$dir/d.xlsx",
      Seq(("Sheet1", Seq(Seq("a", "a", "b"), Seq("1", "2", "3")))))
    val back = spark.read.format("xlsx").load(dir)
    assert(back.columns.toSeq == Seq("a", "a_1", "b"))
    val r = back.collect().head
    assert(r.getString(0) == "1" && r.getString(1) == "2" && r.getString(2) == "3")
  }

  test("options resolve case-insensitively on the executor path too") {
    val dir = tmpDir()
    new java.io.File(dir).mkdirs()
    XlsxTestFiles.writeDense(s"$dir/d.xlsx", Seq(
      ("First", Seq(Seq("k"), Seq("1"))),
      ("Second", Seq(Seq("k"), Seq("2")))))
    // mixed-case option name + mixed-case sheet value: both paths
    // (inferSchema's case-insensitive map AND getTable's case-sensitive
    // properties) must land on the same sheet
    val back = spark.read.format("xlsx").option("SHEETNAME", "second").load(dir)
    assert(back.collect().map(_.getString(0)).toSeq == Seq("2"))
  }

  test("non-string columns are rejected with a pointer to allString") {
    val dir = tmpDir()
    val e = intercept[IllegalArgumentException](
      XlsxSink.write(Seq((1, "a")).toDF("id", "v"), dir))
    assert(e.getMessage.contains("allString"))
  }

  test("reproducible output: two writes of the same data are byte-identical") {
    import spark.implicits._
    val df = Seq(("a", "1"), ("b", "2"), ("c", "3")).toDF("k", "v").repartition(2)
    val d1 = tmpDir(); val d2 = tmpDir()
    XlsxSink.write(df, d1, overwrite = true)
    XlsxSink.write(df, d2, overwrite = true)
    val f1 = new java.io.File(d1).listFiles().filter(_.getName.endsWith(".xlsx")).sortBy(_.getName)
    val f2 = new java.io.File(d2).listFiles().filter(_.getName.endsWith(".xlsx")).sortBy(_.getName)
    assert(f1.nonEmpty && f1.map(_.getName).toSeq == f2.map(_.getName).toSeq)
    f1.zip(f2).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(a.toPath),
        java.nio.file.Files.readAllBytes(b.toPath)), a.getName)
    }
    // and no stray temp files linger after a successful commit
    assert(new java.io.File(d1).listFiles().forall(!_.getName.endsWith(".tmp")))
  }

  test("Convert.run writes xlsx end-to-end (parquet fixture → Excel out)") {
    val dir = tmpDir()
    val res = graft.etl.Convert.run(spark, graft.etl.EngineConfig(
      inputDir = "/root/testdata/sf0.001", sheetName = Some("nation"),
      format = "xlsx", outputPath = Some(dir), overwrite = true))
    assert(res.rowsWritten > 0)
    val back = spark.read.format("xlsx").option("sheetName", "nation").load(dir)
    assert(back.count() == res.rowsWritten)
    assert(back.columns.contains("n_name"))
  }
}
