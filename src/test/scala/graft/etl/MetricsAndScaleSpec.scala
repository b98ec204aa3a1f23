package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class MetricsAndScaleSpec extends AnyFunSuite {

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
    val pos = IngestOps.withFileRowPos(spark, dir)
    assert(pos.count() == 4000)
    val stats = pos.agg(
      org.apache.spark.sql.functions.min("_pos"),
      org.apache.spark.sql.functions.max("_pos"),
      org.apache.spark.sql.functions.countDistinct("_pos")).head()
    assert(stats.getLong(0) == 0L && stats.getLong(1) == 3999L && stats.getLong(2) == 4000L)
    // within every file, _pos must be contiguous (offset + local index);
    // `ord` is unique, so it names each row's file
    val files = spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.col("_metadata.file_path").as("_file"), $"ord")
    val perFile = pos.join(files, "ord")
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
