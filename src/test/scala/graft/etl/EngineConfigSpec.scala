package graft.etl

import org.scalatest.funsuite.AnyFunSuite

class EngineConfigSpec extends AnyFunSuite {
  private val ok = EngineConfig(inputDir = "/in", outputPath = Some("/out"))

  test("C2: valid config passes") { ok.validate() }

  test("C2: validation table (config/ConverterConfig.java:170-191 parity)") {
    intercept[IllegalArgumentException](ok.copy(batchSize = 0).validate())
    intercept[IllegalArgumentException](ok.copy(memoryThresholdMb = -1).validate())
    intercept[IllegalArgumentException](ok.copy(minInflateRatio = -0.1).validate())
    intercept[IllegalArgumentException](ok.copy(sheetIndex = -1).validate())
    intercept[IllegalArgumentException](ok.copy(headerRow = -1).validate())
    intercept[IllegalArgumentException](ok.copy(format = "xml").validate())
    intercept[IllegalArgumentException](ok.copy(maxEntrySizeBytes = 0).validate())
  }

  test("C2: outputPath required unless CSV (chunk names derive from input)") {
    intercept[IllegalArgumentException](ok.copy(outputPath = None).validate())
    ok.copy(outputPath = None, format = "csv").validate() // no throw
  }
}
