package graft.etl

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SaveMode}

/** The sinks that [[Sinks.ndjson]] and [[Sinks.chunkedCsv]] replaced,
  * written through Spark's own JSON and CSV writers, kept unchanged as the
  * reference their part files are tested against. */
object SparkWriterSinks {

  private def saveMode(overwrite: Boolean): SaveMode =
    if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists

  def ndjson(df: DataFrame, path: String, overwrite: Boolean = false,
      singleFile: Boolean = false): Unit = {
    df.write.mode(saveMode(overwrite)).json(path)
    if (singleFile) {
      import scala.jdk.CollectionConverters._
      val dir = Paths.get(path)
      val parts = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      if (parts.size > 1) {
        val merged = dir.resolve(".merge.tmp")
        val out = Files.newOutputStream(merged, StandardOpenOption.CREATE,
          StandardOpenOption.TRUNCATE_EXISTING)
        try parts.foreach(p => Files.copy(p, out)) finally out.close()
        parts.foreach { p =>
          Files.delete(p)
          Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
        }
        Files.move(merged, dir.resolve(parts.head.getFileName))
      }
    }
  }

  def chunkedCsv(df: DataFrame, path: String, batchSize: Int,
      overwrite: Boolean = false): Unit =
    df.write.mode(saveMode(overwrite))
      .option("header", "true")
      .option("maxRecordsPerFile", batchSize.toLong)
      .csv(path)
}
