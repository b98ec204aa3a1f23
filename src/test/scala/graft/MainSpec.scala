package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

/** The CLI entry point (SURVEY §3.1 parity): flag parse, validation
  * routing, the accepted-but-unconsumed --date-format, and one end-to-end
  * conversion through Convert.run. */
class MainSpec extends AnyFunSuite {

  test("parseArgs maps the reference flag surface onto EngineConfig") {
    val Right(c) = Main.parseArgs(Seq(
      "--output", "/tmp/x", "--format", "ndjson", "--sheet-name", "Orders",
      "--header-row", "2", "--batch-size", "100", "--overwrite",
      "--continue-on-error", "--pretty", "--min-inflate-ratio", "0.5",
      "--date-format", "yyyy-MM-dd", // accepted, never consumed
      "/data/in")): @unchecked
    assert(c.inputDir == "/data/in" && c.outputPath.contains("/tmp/x"))
    assert(c.sheetName.contains("Orders") && c.headerRow == 2 && c.batchSize == 100)
    assert(c.overwrite && c.continueOnError && c.prettyJson && c.minInflateRatio == 0.5)
  }

  test("every EngineConfig field is reachable from the CLI") {
    val Right(c) = Main.parseArgs(Seq(
      "--output", "/tmp/x", "--format", "csv", "--input-format", "xlsx",
      "--sheet-name", "Orders", "--sheet-index", "1", "--header-row", "2",
      "--batch-size", "100", "--memory-threshold", "256",
      "--min-inflate-ratio", "0.5", "--max-entry-size", "1024",
      "--pretty", "--overwrite", "--continue-on-error", "/data/in")): @unchecked
    val base = graft.etl.EngineConfig(inputDir = "")
    val unset = c.productElementNames.zip(c.productIterator.zip(base.productIterator))
      .collect { case (name, (got, default)) if got == default => name }.toSeq
    assert(unset.isEmpty, "fields no flag sets")
  }

  test("usage errors: unknown flag, missing value, bad number, missing input, validation") {
    assert(Main.parseArgs(Seq("--nope", "x")).isLeft)
    assert(Main.parseArgs(Seq("--output")).isLeft)
    assert(Main.parseArgs(Seq("--batch-size", "many", "in")).isLeft)
    assert(Main.parseArgs(Seq("--output", "/tmp/x")).isLeft) // no input
    // validation routed through EngineConfig.validate: batchSize <= 0
    assert(Main.parseArgs(Seq("--output", "/tmp/x", "--batch-size", "0", "in")).isLeft)
    // ndjson without output: validate() requires outputPath unless CSV
    assert(Main.parseArgs(Seq("in")).isLeft)
    assert(Main.parseArgs(Seq("--format", "csv", "in")).isRight)
  }

  test("end-to-end: CLI-shaped config converts a fixture table to ndjson") {
    val out = graft.TestDirs.dir("main_e2e").toString + "/orders"
    val Right(cfg) = Main.parseArgs(Seq(
      "--output", out, "--format", "ndjson", "--sheet-name", "orders",
      "--overwrite", sf0001)): @unchecked
    val r = graft.etl.Convert.run(spark, cfg)
    assert(r.sheet == "orders" && r.rowsWritten > 0)
    assert(spark.read.json(out).count() == r.rowsWritten)
  }
}
