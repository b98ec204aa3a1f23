package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class SourceFormatsSpec extends AnyFunSuite {

  private def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
    IngestOps.allString(df).collect().map(_.toSeq.map(String.valueOf)).toSet

  test("round-trip: parquet → csv/json/orc → read back preserves data") {
    val orders = IngestOps.table(spark, sf0001, "orders")
    val expect = canon(orders)
    val base = graft.TestDirs.dir("fmt").toString
    for (fmt <- Seq("csv", "json", "orc")) {
      val p = s"$base/$fmt"
      fmt match {
        case "csv" => orders.write.option("header", "true").csv(p)
        case "json" => orders.write.json(p)
        case "orc" => orders.write.orc(p)
      }
      val back = IngestOps.read(spark, p, fmt, Some(orders.schema))
      assert(back.count() == 1500, fmt)
      assert(canon(back) == expect, s"$fmt round-trip altered data")
    }
  }

  test("FAILFAST mode dies on malformed records; PERMISSIVE tolerates") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("bad").toString + "/data.json"
    Files.writeString(java.nio.file.Paths.get(dir),
      """{"a": 1}
        |not json at all
        |{"a": 3}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT")
    val ok = IngestOps.read(spark, dir, "json", Some(schema), continueOnError = true)
    assert(ok.count() == 3) // PERMISSIVE keeps the bad row with null fields
    assert(ok.filter($"a".isNotNull).count() == 2)
    val ex = intercept[Exception] {
      IngestOps.read(spark, dir, "json", Some(schema), continueOnError = false).collect()
    }
    assert(ex.getMessage != null)
  }

  test("unknown format errors with the supported list") {
    val e = intercept[IllegalArgumentException](
      IngestOps.read(spark, "/tmp/x", "avro"))
    assert(e.getMessage.contains("Supported"))
  }

  test("xlsx flows through the generic read surface with guard options threaded") {
    val dir = graft.TestDirs.dir("ingest_xlsx_").toString
    graft.sources.XlsxTestFiles.writeDense(s"$dir/a.xlsx",
      Seq(("Sheet1", Seq(Seq("k", "v"), Seq("1", "x"), Seq("2", "y")))))
    val df = IngestOps.read(spark, dir, "xlsx",
      guards = Some(EngineConfig(inputDir = dir, outputPath = Some("/tmp/o"))))
    assert(canon(df) == Set(Seq("1", "x"), Seq("2", "y")))
    // a guard tight enough to reject the workbook surfaces the typed error
    val tight = EngineConfig(inputDir = dir, outputPath = Some("/tmp/o"),
      maxEntrySizeBytes = 10)
    val e = intercept[Exception](
      IngestOps.read(spark, dir, "xlsx", guards = Some(tight)).collect())
    assert(e.isInstanceOf[InputTooLargeException] ||
      Option(e.getCause).exists(_.isInstanceOf[InputTooLargeException]))
  }

  test("S8 guard: oversized input rejected with a typed error before scanning") {
    val dir = graft.SparkTestSession.sf0001
    val guards = EngineConfig(inputDir = dir, outputPath = Some("/tmp/unused"),
      maxEntrySizeBytes = 16L) // region.parquet is a few KB — over the cap
    val e = intercept[InputTooLargeException] {
      IngestOps.read(spark, s"$dir/region.parquet", "parquet", guards = Some(guards))
    }
    assert(e.getMessage.contains("maxEntrySizeBytes"))
  }

  test("S7 guard: inflation-ratio violation raises the zip-bomb analog") {
    import spark.implicits._
    // 100k identical strings compress ~1000:1 — footer uncompressed size far
    // exceeds the strict ratio below
    val p = graft.TestDirs.dir("inflate").toString + "/t"
    // dictionary encoding off → plain pages of repeated bytes, which snappy
    // collapses ~100:1 (the zip-bomb shape parquet can actually express)
    Seq.fill(100000)("abcabcabcabcabcabcabcabcabc").toDF("s")
      .coalesce(1).write.option("parquet.enable.dictionary", "false").parquet(p)
    val strict = EngineConfig(inputDir = p, outputPath = Some("/tmp/unused"),
      minInflateRatio = 0.9)
    val e = intercept[InflationLimitException] {
      IngestOps.read(spark, p, "parquet", guards = Some(strict))
    }
    assert(e.getMessage.contains("minInflateRatio"))
    // the reference default (0.01 → 100× allowed) admits the same input
    val default = EngineConfig(inputDir = p, outputPath = Some("/tmp/unused"))
    assert(IngestOps.read(spark, p, "parquet", guards = Some(default)).count() == 100000)
  }

  test("guard: missing input path errors at validation, not at scan") {
    val guards = EngineConfig(inputDir = "/nope", outputPath = Some("/tmp/unused"))
    val e = intercept[IllegalArgumentException] {
      IngestOps.read(spark, "/nope/missing.parquet", "parquet", guards = Some(guards))
    }
    assert(e.getMessage.contains("does not exist"))
  }
}
