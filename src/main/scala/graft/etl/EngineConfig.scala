package graft.etl

import org.apache.spark.sql.SparkSession

/** C2/C3 — engine configuration: the reference CLI surface only
  * (config/ConverterConfig.java:28-191). Every field is set by a
  * [[graft.Main.parseArgs]] flag or is its positional input. Operators in
  * `graft.ext` take their tuning parameters directly; each parameter's
  * default and its check live in the operator's own signature.
  * Validation reproduces the `validate()` invariant table at
  * config/ConverterConfig.java:170-191.
  *
  * The zip-bomb guards (C3, HighVolumeExcelConverter.java:82) hold for both
  * input formats: the xlsx source checks `maxEntrySizeBytes` and
  * `minInflateRatio` against the package's zip entries, and a parquet
  * conversion checks them against each file's size and its footer's
  * compressed-to-uncompressed ratio ([[InputGuards]]) before the scan.
  */
final case class EngineConfig(
    inputDir: String,
    inputFormat: String = "parquet", // parquet (fixture tables) | xlsx
    sheetName: Option[String] = None,
    sheetIndex: Int = 0,
    headerRow: Int = 0,
    outputPath: Option[String] = None,
    format: String = "ndjson", // ndjson | csv | json
    batchSize: Int = 50000,
    overwrite: Boolean = false,
    // continueOnError and memoryThresholdMb are parsed and validated for
    // parity with the reference CLI and do not change a conversion: a
    // malformed sheet fails with a typed error either way (every cell is
    // read as a string, so no row can fail on its own), and parquet input
    // has no malformed rows
    continueOnError: Boolean = false,
    memoryThresholdMb: Int = 512,
    minInflateRatio: Double = 0.01,
    maxEntrySizeBytes: Long = 6L * 1024 * 1024 * 1024,
    prettyJson: Boolean = false) {

  /** config/ConverterConfig.java:170-191 invariants. */
  def validate(): EngineConfig = {
    require(batchSize > 0, s"batchSize must be > 0, got $batchSize")
    require(memoryThresholdMb > 0, s"memoryThreshold must be > 0, got $memoryThresholdMb")
    require(minInflateRatio >= 0, s"minInflateRatio must be >= 0, got $minInflateRatio")
    require(sheetIndex >= 0, s"sheetIndex must be >= 0, got $sheetIndex")
    require(headerRow >= 0, s"headerRow must be >= 0, got $headerRow")
    require(maxEntrySizeBytes > 0, s"maxEntrySize must be > 0, got $maxEntrySizeBytes")
    val fmt = format.toLowerCase
    require(Set("ndjson", "csv", "json", "xlsx").contains(fmt), s"unknown format '$format'")
    require(Set("parquet", "xlsx").contains(inputFormat.toLowerCase),
      s"unknown inputFormat '$inputFormat'")
    // outputPath required unless CSV (which derives chunk names from input;
    // config/ConverterConfig.java:34-35,106-109)
    require(fmt == "csv" || outputPath.isDefined,
      s"outputPath is required for format '$format'")
    this
  }
}

object EngineConfig {

  /** The `local[cpus]` session that [[graft.Verify]] and [[graft.Bench]]
    * run every SparkEntry row in. */
  def localSession(cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false") // reference parity: bad cells → null
      .config("spark.ui.enabled", "false")
      // optimizer rung end-to-end: raw-SQL range theta joins rewrite to the
      // bucketed equi-join (plans.RangeJoinBucketing; events_range_join_sql
      // plan-asserts the rewrite happened)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.rangejoin.bucketUs", "600000000")
      // StageStore read-back parallelism: the 4 MB default open-cost packs
      // a small staged relation's files into 1-2 splits, serializing every
      // downstream map stage; on local disk/tmpfs the real open cost is ~0
      .config("spark.sql.files.openCostInBytes", "16384")
    // shuffle files / DISK_ONLY blocks / spills on tmpfs (NVMe stand-in)
    // — see ScratchDirs
    val spark = ScratchDirs.withLocalDir(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
