package graft

import org.apache.spark.sql.SparkSession

import graft.etl.{Convert, EngineConfig}

/** The reference's sole external entry point, re-expressed: CLI args →
  * validated [[graft.etl.EngineConfig]] → [[graft.etl.Convert.run]] → exit
  * code (HighVolumeExcelConverter.main, SURVEY.md §3.1:
  * parseArgs → help/version early-exit → validate() → strategy select →
  * convert → catch hierarchy → duration metric).
  *
  * Flag surface mirrors the reference's picocli options
  * (config/ConverterConfig.java:28-126); `--date-format` is accepted and
  * ignored exactly as the reference accepts-but-never-consumes it
  * (ConverterConfig.java:94-98 — no other reference to dateFormat in src/).
  * Strategy selection itself is Catalyst's job here (SURVEY §3.1 maps
  * StrategySelector ≈ physical planning), so no size-based branch exists.
  *
  * Exit codes, mirroring the reference's catch hierarchy (:93-106):
  * 0 success · 2 flag-parse/usage error (picocli's exitCodeOnInvalidInput)
  * · 1 config-validation failure (the reference's IllegalArgumentException
  * catch at HighVolumeExcelConverter.java:100-103 exits 1, NOT 2 — only
  * unparseable flags get 2) · 1 conversion failure.
  */
object Main {

  /** A CLI failure plus the exit code its class carries: 2 for flag-parse
    * errors (usage is printed), 1 for config-validation errors. */
  final case class CliError(message: String, exitCode: Int)

  val Usage: String =
    """usage: graft-convert [OPTIONS] <inputDir-or-xlsx>
      |  --output PATH            output path (required unless --format csv)
      |  --format FMT             ndjson | csv | json | xlsx   (default ndjson)
      |  --input-format FMT       parquet | xlsx               (default parquet)
      |  --sheet-name NAME        sheet by name, case-insensitive
      |  --sheet-index N          sheet by 0-based index       (default 0)
      |  --header-row N           0-based header row           (default 0)
      |  --batch-size N           rows per CSV chunk           (default 50000)
      |  --memory-threshold MB    validated, not consumed      (default 512)
      |  --min-inflate-ratio R    zip-bomb inflation guard     (default 0.01)
      |  --max-entry-size BYTES   zip entry size cap
      |  --date-format FMT        accepted, not consumed (reference parity)
      |  --pretty                 pretty-print JSON array sink
      |  --overwrite              replace existing output
      |  --continue-on-error      accepted, not consumed (reference parity)
      |  --help | --version
      |--memory-threshold and --continue-on-error are parsed and validated for
      |parity with the reference CLI and do not change a conversion: a malformed
      |sheet fails with a typed error either way (every cell is read as a
      |string, so no row can fail on its own), and parquet input has no
      |malformed rows.""".stripMargin

  /** Pure arg→config parse; Left = error + exit code (2 parse, 1 validate). */
  def parseArgs(args: Seq[String]): Either[CliError, EngineConfig] = {
    var cfg = EngineConfig(inputDir = "")
    var input: Option[String] = None
    var i = 0
    def value(flag: String): Either[String, String] =
      if (i + 1 < args.length) { i += 1; Right(args(i)) }
      else Left(s"missing value for $flag")
    def num[T](flag: String, f: String => T): Either[String, T] =
      value(flag).flatMap(v =>
        try Right(f(v))
        catch { case _: NumberFormatException => Left(s"bad number for $flag: '$v'") })
    while (i < args.length) {
      val r: Either[String, Unit] = args(i) match {
        case "--output" => value("--output").map(v => cfg = cfg.copy(outputPath = Some(v)))
        case "--format" => value("--format").map(v => cfg = cfg.copy(format = v))
        case "--input-format" => value("--input-format").map(v => cfg = cfg.copy(inputFormat = v))
        case "--sheet-name" => value("--sheet-name").map(v => cfg = cfg.copy(sheetName = Some(v)))
        case "--sheet-index" => num("--sheet-index", _.toInt).map(v => cfg = cfg.copy(sheetIndex = v))
        case "--header-row" => num("--header-row", _.toInt).map(v => cfg = cfg.copy(headerRow = v))
        case "--batch-size" => num("--batch-size", _.toInt).map(v => cfg = cfg.copy(batchSize = v))
        case "--memory-threshold" =>
          num("--memory-threshold", _.toInt).map(v => cfg = cfg.copy(memoryThresholdMb = v))
        case "--min-inflate-ratio" =>
          num("--min-inflate-ratio", _.toDouble).map(v => cfg = cfg.copy(minInflateRatio = v))
        case "--max-entry-size" =>
          num("--max-entry-size", _.toLong).map(v => cfg = cfg.copy(maxEntrySizeBytes = v))
        case "--date-format" => value("--date-format").map(_ => ()) // accepted, never consumed
        case "--pretty" => cfg = cfg.copy(prettyJson = true); Right(())
        case "--overwrite" => cfg = cfg.copy(overwrite = true); Right(())
        case "--continue-on-error" => cfg = cfg.copy(continueOnError = true); Right(())
        case flag if flag.startsWith("--") => Left(s"unknown option $flag")
        case positional if input.isEmpty => input = Some(positional); Right(())
        case extra => Left(s"unexpected argument '$extra'")
      }
      r match { case Left(e) => return Left(CliError(e, 2)); case Right(_) => () }
      i += 1
    }
    input match {
      case None => Left(CliError("missing required <inputDir-or-xlsx>", 2))
      case Some(in) =>
        val c = cfg.copy(inputDir = in)
        // validation failures exit 1, like the reference's
        // IllegalArgumentException catch — not the picocli usage code 2
        try Right(c.validate())
        catch { case e: IllegalArgumentException => Left(CliError(e.getMessage, 1)) }
    }
  }

  /** The run's one result line: the reference's finally-block duration
    * metric (:107-113), with the contract §10 counts the sink published. */
  def report(r: Convert.Result, seconds: Double): String =
    f"CONVERT sheet=${r.sheet} format=${r.format} rows=${r.rowsWritten} " +
      f"files=${r.filesWritten} bytes=${r.bytesWritten} " +
      f"output=${r.outputPath} seconds=$seconds%.3f"

  def main(args: Array[String]): Unit = {
    if (args.contains("--help")) { println(Usage); return }
    if (args.contains("--version")) { println("graft-convert 1.0 (Spark " +
      org.apache.spark.SPARK_VERSION + ")"); return }
    parseArgs(args.toSeq) match {
      case Left(err) =>
        System.err.println(s"error: ${err.message}")
        if (err.exitCode == 2) System.err.println(Usage)
        sys.exit(err.exitCode)
      case Right(config) =>
        val t0 = System.nanoTime()
        val spark = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
          .appName("graft-convert")
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.ansi.enabled", "false")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        try {
          val r = Convert.run(spark, config)
          println(report(r, (System.nanoTime() - t0) / 1e9))
        } catch {
          case e: Throwable =>
            System.err.println(s"conversion failed: ${e.getMessage}")
            spark.stop()
            sys.exit(1)
        }
        spark.stop()
    }
  }
}
