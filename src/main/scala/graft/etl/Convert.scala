package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{XlsxParsing, XlsxSink}

/** The reference's end-to-end conversion as one engine call — the whole
  * program of HighVolumeExcelConverter.main (SURVEY.md §3.1–§3.3):
  *
  *   validate config → resolve sheet → scan → header/projection →
  *   all-string normalization → ordered sink (ndjson | chunked csv | json)
  *
  * The reference's strategy selection (C1), pipelining, batching and memory
  * management dissolve into Catalyst/Tungsten; what remains is the declared
  * dataflow. Row order is preserved end-to-end: the xlsx path is one narrow
  * scan → write job that keeps [[graft.sources.XlsxSource]]'s source order
  * (no sort, no shuffle). The source splits a large sheet into row ranges
  * in sheet order, so the job runs on every core and each sink writes the
  * ranges' output in range order (one part file, chunk set or workbook per
  * range; ndjson and json join them into one file). The parquet path sorts
  * on IngestOps.withFileRowPos.
  *
  * Every sink writes through [[PartFiles]] to a local output path and
  * returns what it published, so the result carries the contract §10
  * counts (rows, files, bytes written) without a re-read or a second job.
  */
object Convert {

  final case class Result(sheet: String, format: String, outputPath: String,
      rowsWritten: Long, filesWritten: Int, bytesWritten: Long)

  private def result(sheet: String, config: EngineConfig, out: String,
      w: PartFiles.Written): Result =
    Result(sheet, config.format.toLowerCase, out, w.rows, w.files, w.bytes)

  def run(spark: SparkSession, config: EngineConfig): Result =
    if (config.inputFormat.equalsIgnoreCase("xlsx")) runXlsx(spark, config.validate())
    else runParquet(spark, config.validate())

  private def runParquet(spark: SparkSession, config: EngineConfig): Result = {
    // S3: sheet by name (case-insensitive) else by index
    val sheet = config.sheetName match {
      case Some(n) => IngestOps.resolveSheetName(n)
      case None =>
        require(config.sheetIndex < IngestOps.knownTables.length,
          s"sheetIndex ${config.sheetIndex} out of range; available: ${IngestOps.knownTables.mkString(", ")}")
        IngestOps.knownTables(config.sheetIndex)
    }

    // S7/S8/C3: size and inflation caps from file metadata, before the scan
    val path = s"${config.inputDir}/$sheet.parquet"
    InputGuards.validate(spark, path, config.maxEntrySizeBytes, config.minInflateRatio)

    // S1 + order invariant: scan with scalable per-file row positions
    val positioned = IngestOps.withFileRowPos(spark, path)

    // T3: skip-before-header (the fixture tables carry their schema, so the
    // "header row" contributes no names here — only the positional skip)
    val afterHeader =
      if (config.headerRow > 0) positioned.filter(col("_pos") >= config.headerRow)
      else positioned

    // T2/T5: universal all-string cell model, order restored for the sink
    val ordered = IngestOps.allString(
      afterHeader.orderBy("_pos").drop("_pos"))

    val out = config.outputPath.getOrElse(s"${config.inputDir}-${sheet}-chunks")
    result(sheet, config, out, writeSink(ordered, out, config))
  }

  /** The reference's native path: a real .xlsx package in, streamed via the
    * [[graft.sources.XlsxSource]] DataSource V2. Sheet resolution (S3),
    * header naming with index fallback (S4), shared-strings resolve (S5),
    * all-string cells (T5), blank normalization + empty-row drop (T2), the
    * positional skip (T3: `headerRow` leading non-blank data rows of each
    * workbook) and the zip-bomb guards (S7/S8/C3) all run inside the
    * source; what remains here is the sink, in one scan → write job. */
  private def runXlsx(spark: SparkSession, config: EngineConfig): Result = {
    val first = XlsxParsing.listFiles(config.inputDir).head
    val sheet = XlsxParsing.resolveSheet(
      XlsxParsing.listSheets(first, config.maxEntrySizeBytes),
      config.sheetName, config.sheetIndex).name
    val rows = spark.read.format("xlsx")
      .option("sheetName", sheet)
      .option("headerRow", config.headerRow.toString)
      .option("maxEntrySizeBytes", config.maxEntrySizeBytes.toString)
      .option("minInflateRatio", config.minInflateRatio.toString)
      .load(config.inputDir)
    val out = config.outputPath.getOrElse(s"${config.inputDir}-${sheet}-chunks")
    result(sheet, config, out, writeSink(rows, out, config))
  }

  private def writeSink(df: DataFrame, out: String, config: EngineConfig): PartFiles.Written =
    config.format.toLowerCase match {
      case "ndjson" =>
        Sinks.ndjson(df, out, overwrite = config.overwrite, singleFile = true) // K1
      case "csv" =>
        Sinks.chunkedCsv(df, out, config.batchSize, overwrite = config.overwrite) // K2
      case "json" =>
        Sinks.jsonArray(df, out, overwrite = config.overwrite,
          pretty = config.prettyJson) // K3
      case "xlsx" => // outbound Excel: one workbook per partition (range), streamed
        XlsxSink.write(df, out, sheetName = config.sheetName.getOrElse("Sheet1"),
          overwrite = config.overwrite)
    }
}
