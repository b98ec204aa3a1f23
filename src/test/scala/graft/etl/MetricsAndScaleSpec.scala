package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class MetricsAndScaleSpec extends AnyFunSuite {

  test("C7: QueryExecutionListener harvests scan rows and bytes after actions") {
    Metrics.clear()
    Metrics.install(spark)
    IngestOps.table(spark, sf0001, "lineitem").count()
    // listener fires asynchronously; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (Metrics.all.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    val m = Metrics.all.values
    assert(m.nonEmpty)
    assert(m.exists(_.rowsProcessed == 6000L), s"got: $m")
  }

  test("C7: contract §10 metric names — skipped rows, batches/bytes written, strategy") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Metrics.clear()
    Metrics.install(spark)
    // corpus with 2 structurally-corrupt JSON rows; tolerate via observe
    val rows = Seq(
      (1L, """{"k":"a"}"""), (2L, "not json"), (3L, """{"k":"b"}"""),
      (4L, null.asInstanceOf[String]), (5L, """{"k":"c"}"""))
    val df = rows.toDF("id", "props")
    val good = ErrorModes.tolerateObserved(df, ErrorModes.corruptJson($"props", "k STRING"))
    val out = graft.TestDirs.dir("metricsout").toString + "/o"
    good.write.json(out) // write action → listener harvests write metrics too
    val deadline = System.currentTimeMillis() + 10000
    def found = Metrics.all.values.find(_.rowsSkipped == 2L)
    while (found.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    val m = found.getOrElse(fail(s"no metrics with rowsSkipped=2; got ${Metrics.all}"))
    val view = Metrics.contractView(m)
    assert(view("excel.rows.skipped") == 2L)
    assert(view("excel.batches.written").asInstanceOf[Long] >= 1L)
    assert(view("excel.bytes.written").asInstanceOf[Long] > 0L)
    assert(view.keySet == Set("excel.converter.strategy", "excel.rows.processed",
      "excel.rows.skipped", "excel.bytes.read", "excel.bytes.written",
      "excel.batches.written", "excel.time.total"))
    // and the codegen-friendly tolerate path actually dropped the bad rows
    assert(spark.read.json(out).count() == 3L)
  }

  test("C7: two tolerant sources compose in one query; skips sum across observations") {
    import spark.implicits._
    Metrics.clear()
    Metrics.install(spark)
    val a = Seq((1L, """{"k":"a"}"""), (2L, "bad")).toDF("id", "props")
    val b = Seq((3L, "also bad"), (4L, "worse"), (5L, """{"k":"c"}""")).toDF("id", "props")
    // distinct suffixes: same observation name twice in one query throws
    val ga = ErrorModes.tolerateObserved(a, ErrorModes.corruptJson($"props", "k STRING"), "src_a")
    val gb = ErrorModes.tolerateObserved(b, ErrorModes.corruptJson($"props", "k STRING"), "src_b")
    assert(ga.unionByName(gb).count() == 2L)
    val deadline = System.currentTimeMillis() + 10000
    def found = Metrics.all.values.find(_.rowsSkipped == 3L) // 1 + 2 summed
    while (found.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(found.nonEmpty, s"expected summed rowsSkipped=3; got ${Metrics.all}")
  }

  test("scalable per-file row position covers 0..n-1 exactly once") {
    val df = IngestOps.withFileRowPos(spark, s"$sf0001/lineitem.parquet")
    val n = df.count()
    assert(n == 6000)
    val stats = df.agg(
      org.apache.spark.sql.functions.min("_pos"),
      org.apache.spark.sql.functions.max("_pos"),
      org.apache.spark.sql.functions.countDistinct("_pos")).head()
    assert(stats.getLong(0) == 0L && stats.getLong(1) == n - 1 && stats.getLong(2) == n)
  }

  test("scalable row position spans multiple files in file-path order") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("multifile").toString + "/t"
    // 8 files; each row records its original global ordinal
    (0L until 4000L).toDF("ord").repartitionByRange(8, org.apache.spark.sql.functions.col("ord"))
      .write.parquet(dir)
    val pos = IngestOps.withFileRowPos(spark, dir, keepFileCol = true)
    assert(pos.count() == 4000)
    val stats = pos.agg(
      org.apache.spark.sql.functions.min("_pos"),
      org.apache.spark.sql.functions.max("_pos"),
      org.apache.spark.sql.functions.countDistinct("_pos")).head()
    assert(stats.getLong(0) == 0L && stats.getLong(1) == 3999L && stats.getLong(2) == 4000L)
    // within every file, _pos must be contiguous (offset + local index)
    val perFile = pos
      .groupBy("_file")
      .agg(org.apache.spark.sql.functions.min("_pos").as("lo"),
        org.apache.spark.sql.functions.max("_pos").as("hi"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    perFile.foreach { case (_, lo, hi, n) => assert(hi - lo + 1 == n) }
  }

  test("scalable row position agrees with skipRows semantics on ordered keys") {
    import spark.implicits._
    val skipped = IngestOps.withFileRowPos(spark, s"$sf0001/region.parquet")
      .filter($"_pos" >= 2).select("r_regionkey").as[Int].collect().sorted
    assert(skipped.length == 3)
  }
}
