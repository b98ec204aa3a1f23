package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

/** The input guards (S7/S8) on a parquet conversion: `Convert.run` checks
  * the sheet's files before it plans the scan. */
class SourceFormatsSpec extends AnyFunSuite {

  private def config(inputDir: String): EngineConfig =
    EngineConfig(inputDir = inputDir, sheetName = Some("region"),
      outputPath = Some(graft.TestDirs.dir("guard_out").toString + "/out"))

  test("S8 guard: oversized input rejected with a typed error before scanning") {
    val e = intercept[InputTooLargeException] {
      // region.parquet is a few KB — over the cap
      Convert.run(spark, config(sf0001).copy(maxEntrySizeBytes = 16L))
    }
    assert(e.getMessage.contains("maxEntrySizeBytes"))
  }

  test("S7 guard: inflation-ratio violation raises the zip-bomb analog") {
    import spark.implicits._
    // 100k identical strings compress ~1000:1 — footer uncompressed size far
    // exceeds the strict ratio below
    val dir = graft.TestDirs.dir("inflate").toString
    // dictionary encoding off → plain pages of repeated bytes, which snappy
    // collapses ~100:1 (the zip-bomb shape parquet can actually express)
    Seq.fill(100000)("abcabcabcabcabcabcabcabcabc").toDF("s")
      .coalesce(1).write.option("parquet.enable.dictionary", "false")
      .parquet(s"$dir/region.parquet")
    val e = intercept[InflationLimitException] {
      Convert.run(spark, config(dir).copy(minInflateRatio = 0.9))
    }
    assert(e.getMessage.contains("minInflateRatio"))
    // the reference default (0.01 → 100× allowed) admits the same input
    assert(Convert.run(spark, config(dir)).rowsWritten == 100000)
  }

  test("guard: missing input path errors at validation, not at scan") {
    val e = intercept[IllegalArgumentException] {
      Convert.run(spark, config("/nope"))
    }
    assert(e.getMessage.contains("does not exist"))
  }
}
