package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink operators K1–K4 (SURVEY.md §2.3), Spark-native.
  *
  * Reference: core/writers/{NdjsonDataWriter,CsvDataWriter,JsonDataWriter}.java.
  *
  * Scale note (100 TB): ndjson/csv sinks are fully distributed (one file per
  * task, `maxRecordsPerFile` for chunk parity). The JSON-array sink (K3) is
  * inherently a single sequential `[...]` file — same single-writer design as
  * the reference (core/writers/JsonDataWriter.java); it streams with bounded
  * memory via `toLocalIterator`, and is NOT meant for 100 TB outputs (the
  * reference contract scopes it the same way: NDJSON is "recommended").
  */
object Sinks {

  /** K4 — overwrite guard (core/writers/NdjsonDataWriter.java:73-77):
    * existing output without overwrite → error; with overwrite → truncate. */
  def saveMode(overwrite: Boolean): SaveMode =
    if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists

  /** K1 — NDJSON sink: Spark's JSON sink *is* NDJSON (one object per line).
    * `singleFile=true` reproduces the reference's one-output-file reality.
    *
    * r17 shape: the previous `coalesce(1)` collapsed the ENTIRE upstream
    * (sort + all-string render + JSON encode) onto one task; now the
    * render writes at full parallelism and only the unavoidable serial
    * part — concatenating the ordered part files into one — runs as a
    * driver byte-stream copy (part order = partition order, so the line
    * order is exactly the DataFrame order, byte-identical output). */
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
          // the local committer's ChecksumFileSystem sidecar, if present
          Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
        }
        Files.move(merged, dir.resolve(parts.head.getFileName))
      }
    }
  }

  /** K2 — chunked CSV sink: files of at most `batchSize` rows, header per
    * chunk (core/writers/CsvDataWriter.java:80-103,148-151). Guarantees the
    * contract invariants: every chunk ≤ batchSize rows, and concatenation in
    * (part index, chunk number K) order preserves row order. Chunks are
    * `part-NNNNN-<job>-cK.csv` with K padded to three digits only, so past
    * 999 chunks in a task a name sort misplaces `c1000`: sort K as a number.
    * File boundaries fall at partition edges, not necessarily at exact
    * batchSize multiples; use `chunkedCsvNamed` for exact reference chunks. */
  def chunkedCsv(df: DataFrame, path: String, batchSize: Int,
      orderCol: Option[String] = None, overwrite: Boolean = false): Unit = {
    val d = orderCol.map(c => df.repartitionByRange(col(c)).sortWithinPartitions(col(c))).getOrElse(df)
    d.write.mode(saveMode(overwrite))
      .option("header", "true")
      .option("maxRecordsPerFile", batchSize.toLong)
      .csv(path)
  }

  /** K2 with exact reference parity: chunk k holds rows
    * [k*batchSize, (k+1)*batchSize) of the key-ordered stream, named
    * `<stem>-chunk-N.csv` (core/writers/CsvDataWriter.java:87-90). Chunk ids
    * come from the scalable global position (no single-partition window);
    * each chunk's rows are co-located by a hash repartition on chunk id, and
    * the dynamic-partition write emits one file per chunk. The rename pass
    * touches file metadata only (driver-side loop over chunk count). */
  def chunkedCsvNamed(df: DataFrame, dir: String, stem: String, batchSize: Int,
      orderCol: String, overwrite: Boolean = false): Seq[String] = {
    val chunked = IngestOps.withGlobalPos(df, col(orderCol), "_pos")
      .withColumn("_chunk", floor((col("_pos") - 1) / batchSize).cast("long"))
      .drop("_pos")
    chunked.repartition(col("_chunk"))
      .sortWithinPartitions(col("_chunk"), col(orderCol))
      .write.mode(saveMode(overwrite))
      .option("header", "true")
      .partitionBy("_chunk")
      .csv(dir)
    // Rename pass through the Hadoop FileSystem resolved from the path (as
    // InputGuards does), so the parity sink works on any supported store
    // (local, HDFS; object stores turn rename into copy — metadata-bounded
    // either way, one op per chunk).
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val chunkDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_chunk="))
      .sortBy(s => s.getPath.getName.stripPrefix("_chunk=").toLong)
    chunkDirs.map { cd =>
      val n = cd.getPath.getName.stripPrefix("_chunk=").toLong
      val part = fs.listStatus(cd.getPath)
        .filter(_.getPath.getName.endsWith(".csv")) match {
        case Array(one) => one.getPath
        case many => throw new IllegalStateException(
          s"expected one csv per chunk dir ${cd.getPath.getName}, found ${many.length}")
      }
      val target = new org.apache.hadoop.fs.Path(root, s"$stem-chunk-$n.csv")
      if (!fs.rename(part, target))
        throw new java.io.IOException(s"rename failed: $part -> $target")
      fs.delete(cd.getPath, true)
      target.getName
    }.toSeq
  }

  /** Chunk assignment as data: which chunk each row of an ordered stream
    * falls into, and the per-chunk row counts — the contract invariant
    * "every chunk ≤ batchSize rows, order preserved"
    * (HighVolumeExcelConverter-Contract-v2.0.1.md:83,99) as a checkable
    * DataFrame. */
  def chunkStats(df: DataFrame, batchSize: Int,
      orderKey: org.apache.spark.sql.Column): DataFrame =
    IngestOps.withGlobalPos(df, orderKey, "_rn")
      .withColumn("chunk_id", floor((col("_rn") - 1) / batchSize).cast("long"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_rows"), min("_rn").as("min_rn"), max("_rn").as("max_rn"))

  /** K3 — single-file JSON array sink (core/writers/JsonDataWriter.java:79-257):
    * one well-formed `[{...},{...}]` document, single sequential writer with
    * bounded memory — the reference's single-writer contract.
    *
    * r17 shape: the JSON RENDERING is distributed (one parallel text write
    * of the per-row JSON strings to scratch), and only the unavoidable
    * serial part — streaming the bytes into one file with separators — runs
    * on the driver as a byte copy. The previous `toJSON.toLocalIterator`
    * form serialized the rendering too: the driver pulled each of the N
    * partitions as a separate sequential job (32 mini-jobs per call at the
    * bench session width). Part files sort in partition order, so the
    * element order is exactly the DataFrame order, byte-identical output. */
  def jsonArray(df: DataFrame, path: String, overwrite: Boolean = false,
      pretty: Boolean = false): Long = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      if (!overwrite) throw new IllegalStateException(
        s"Output file exists and overwrite not enabled: $path") // K4 parity
      Files.delete(p)
    }
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val stage = Paths.get(ScratchDirs.scratchOutputDir,
      s"jsonarray_stage_${java.util.UUID.randomUUID.toString.take(8)}")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(p,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING), 1 << 16)
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    val (open, sep, close) =
      if (pretty) (utf8("[\n  "), utf8(",\n  "), utf8("\n]")) else (utf8("["), utf8(","), utf8("]"))
    var n = 0L
    import scala.jdk.CollectionConverters._
    try {
      // rendered rows never contain a raw newline (JSON escapes them), so
      // the text sink's one-line-per-row framing round-trips exactly: the
      // part files' bytes are copied as they are, with the separator in
      // place of each row's '\n'
      df.toJSON.write.text(stage.toString)
      out.write(open)
      val parts = Files.list(stage).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      val buf = new Array[Byte](1 << 16)
      var inRow = false
      def rowBytes(from: Int, until: Int): Unit = {
        if (!inRow) { if (n > 0) out.write(sep); inRow = true }
        out.write(buf, from, until - from)
      }
      parts.foreach { part =>
        val in = Files.newInputStream(part)
        try {
          var r = in.read(buf)
          while (r >= 0) {
            var from = 0
            var i = 0
            while (i < r) {
              if (buf(i) == '\n') { rowBytes(from, i); n += 1; inRow = false; from = i + 1 }
              i += 1
            }
            if (from < r) rowBytes(from, r)
            r = in.read(buf)
          }
        } finally in.close()
        if (inRow) { n += 1; inRow = false } // a last row without its '\n'
      }
      out.write(close)
    } finally {
      out.close()
      if (Files.exists(stage)) try { // a failed render may leave no stage
        Files.walk(stage).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"WARN jsonArray: stage $stage not removed: $e")
      }
    }
    n
  }
}
