package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** S7/S8 — behavioral input-sanity guards (SURVEY.md §2.1).
  *
  * Reference semantics: SafePOIEntryStreamer converts POI "Zip bomb detected"
  * failures into a typed exception
  * (core/SafePOIEntryStreamer.java:54-90,102-165); FallbackZipExtractor
  * enforces a hard per-entry size cap and an inflation-ratio cap
  * (core/FallbackZipExtractor.java:91-165, caps :31-32); the global guards
  * are ZipSecureFile.setMinInflateRatio/setMaxEntrySize
  * (HighVolumeExcelConverter.java:82, config/ConverterConfig.java:76-79).
  *
  * Spark-native analog: parquet cannot zip-bomb the JVM the way a crafted
  * OPC package can, but the same two invariants are enforceable from file
  * metadata BEFORE any scan task is scheduled — per-file size against
  * `maxEntrySizeBytes`, and the compression ratio from parquet footers
  * (compressed vs. total uncompressed block bytes) against
  * `minInflateRatio`. Driver-side metadata reads only: one FileSystem
  * listing plus one footer per file, never data. [[Convert]] runs the pass
  * on a parquet conversion's sheet before it plans the scan.
  */
class InputTooLargeException(msg: String) extends RuntimeException(msg)
class InflationLimitException(msg: String) extends RuntimeException(msg)

object InputGuards {

  private def listDataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"Input path does not exist: $path")
    val it = fs.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith("."))
        buf += st
    }
    buf.toSeq
  }

  /** S8 cap: every data file must be ≤ maxEntrySizeBytes
    * (core/FallbackZipExtractor.java:31,146-150). */
  def checkEntrySizes(files: Seq[FileStatus], maxEntrySizeBytes: Long): Unit =
    files.find(_.getLen > maxEntrySizeBytes).foreach { f =>
      throw new InputTooLargeException(
        s"Input entry ${f.getPath} is ${f.getLen} bytes, " +
          s"exceeding maxEntrySizeBytes=$maxEntrySizeBytes")
    }

  /** S7/C3 inflation guard: compressed/uncompressed ratio from parquet
    * footers must be ≥ minInflateRatio (the ZipSecureFile contract —
    * ratio 0.01 permits up to 100× inflation). Footer-only read. */
  def checkParquetInflation(spark: SparkSession, files: Seq[FileStatus],
      minInflateRatio: Double): Unit = {
    if (minInflateRatio <= 0) return
    val conf = spark.sessionState.newHadoopConf()
    files.filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala
        val uncompressed = blocks.map(_.getTotalByteSize).sum
        val compressed = blocks.map(_.getCompressedSize).sum
        if (uncompressed > 0 && compressed.toDouble / uncompressed < minInflateRatio)
          throw new InflationLimitException(
            s"Input entry ${f.getPath} inflates ${compressed}B → ${uncompressed}B " +
              s"(ratio ${compressed.toDouble / uncompressed} < minInflateRatio=$minInflateRatio)")
      } finally reader.close()
    }
  }

  /** Full guard pass over an input path. */
  def validate(spark: SparkSession, path: String, maxEntrySizeBytes: Long,
      minInflateRatio: Double): Unit = {
    val files = listDataFiles(spark, path)
    checkEntrySizes(files, maxEntrySizeBytes)
    checkParquetInflation(spark, files, minInflateRatio)
  }
}
