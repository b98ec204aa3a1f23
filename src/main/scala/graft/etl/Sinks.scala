package graft.etl

import java.io.{OutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._

/** Sink operators K1–K4 (SURVEY.md §2.3).
  *
  * Reference: core/writers/{NdjsonDataWriter,CsvDataWriter,JsonDataWriter}.java.
  *
  * The converter's sinks (`ndjson`, `chunkedCsv`, `jsonArray`, and
  * [[graft.sources.XlsxSink]]) render rows with Spark's own generators —
  * JacksonGenerator through `to_json` and UnivocityGenerator, each with
  * the default options of Spark's JSON and CSV writers — and write them
  * with [[PartFiles]]: each task streams its partition's file (or chunk
  * files) into a staging directory, and the driver publishes it once the
  * job has succeeded. Like the reference's writers they write
  * LOCAL paths only, on a file system the driver and every executor share.
  * Files keep Spark's names, `part-NNNNN-<job>-cKKK.<ext>`, in partition
  * order; no `_SUCCESS` or `.crc` file is written.
  *
  * Scale note (100 TB): the ndjson and csv sinks write one file per task
  * (per chunk for csv) at full parallelism. The single-file forms — the
  * converter's one NDJSON file and the JSON array (K3) — are inherently one
  * sequential file, as in the reference (core/writers/JsonDataWriter.java);
  * their one serial part is a driver byte copy of the rendered parts in
  * partition order. The reference contract scopes the JSON array the same
  * way: NDJSON is "recommended".
  */
object Sinks {

  /** Streams each rendered row (one string column), each with a '\n'. */
  private def lines(rows: Iterator[InternalRow], out: OutputStream): Long = {
    var n = 0L
    while (rows.hasNext) {
      rows.next().getUTF8String(0).writeTo(out)
      out.write('\n')
      n += 1
    }
    n
  }

  /** `df`'s rows as Spark's JSON writer renders them (JacksonGenerator,
    * default options), in one string column. The struct is built from
    * positional names aliased back to the column names, so any name passes
    * as it is. */
  private def json(df: DataFrame): DataFrame = {
    val pos = df.columns.indices.map(i => s"_$i")
    val fields = pos.zip(df.columns).map { case (p, n) => col(p).as(n) }
    df.toDF(pos: _*).select(to_json(struct(fields: _*)))
  }

  /** K1 — NDJSON sink: one JSON object per line, one
    * `part-NNNNN-<job>-c000.json` per partition (partition 0 always, the
    * others when not empty, as Spark's JSON writer). `singleFile=true`
    * reproduces the reference's one output file: the parts are joined on
    * the driver in partition order, so the line order is the DataFrame
    * order. */
  def ndjson(df: DataFrame, path: String, overwrite: Boolean = false,
      singleFile: Boolean = false): PartFiles.Written =
    PartFiles.write(json(df), path, overwrite,
      finish = (stage, parts) =>
        if (singleFile && parts.size > 1) Seq(stage.join(parts, parts.head.name)) else parts) {
      (stage, p, rows) =>
        if (p != 0 && !rows.hasNext) Nil
        else Seq(stage.commit(f"part-$p%05d-${stage.id}-c000.json")(lines(rows, _)))
    }

  /** K2 — chunked CSV sink: files of at most `batchSize` rows, header per
    * chunk (core/writers/CsvDataWriter.java:80-103,148-151). Guarantees the
    * contract invariants: every chunk ≤ batchSize rows, and concatenation in
    * (part index, chunk number K) order preserves row order. Chunks are
    * `part-NNNNN-<job>-cK.csv` with K padded to three digits only, so past
    * 999 chunks in a task a name sort misplaces `c1000`: sort K as a number.
    * File boundaries fall at partition edges, not necessarily at exact
    * batchSize multiples.
    * Each file is rendered as Spark's CSV writer renders it, by its
    * UnivocityGenerator with the writer's default options: the header, then
    * the rows. */
  def chunkedCsv(df: DataFrame, path: String, batchSize: Int,
      orderCol: Option[String] = None, overwrite: Boolean = false): PartFiles.Written = {
    val d = orderCol.map(c => df.repartitionByRange(col(c)).sortWithinPartitions(col(c))).getOrElse(df)
    val schema = d.schema
    val timeZone = d.sparkSession.sessionState.conf.sessionLocalTimeZone
    PartFiles.write(d, path, overwrite) { (stage, p, rows) =>
      if (p != 0 && !rows.hasNext) Nil
      else {
        val options = new CSVOptions(Map("header" -> "true"), true, timeZone)
        val chunks = Seq.newBuilder[PartFiles.Part]
        var k = 0
        do {
          chunks += stage.commit(f"part-$p%05d-${stage.id}-c$k%03d.csv") { out =>
            val gen = new UnivocityGenerator(schema,
              new OutputStreamWriter(out, Charset.forName(options.charset)), options)
            gen.writeHeaders()
            var n = 0L
            while (n < batchSize && rows.hasNext) { gen.write(rows.next()); n += 1 }
            gen.flush()
            n
          }
          k += 1
        } while (rows.hasNext)
        chunks.result()
      }
    }
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
    * one well-formed `[{...},{...}]` document, the reference's
    * single-writer contract, written with bounded memory. Each task writes
    * its rows' JSON already joined by the separator; the driver writes
    * `[`, the non-empty parts in partition order with one separator between
    * each two, then `]`, so the element order is the DataFrame order.
    * Returns the rows, file and bytes written. */
  def jsonArray(df: DataFrame, path: String, overwrite: Boolean = false,
      pretty: Boolean = false): PartFiles.Written = {
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    val (open, sep, close) =
      if (pretty) (utf8("[\n  "), utf8(",\n  "), utf8("\n]")) else (utf8("["), utf8(","), utf8("]"))
    val name = Paths.get(path).getFileName.toString
    PartFiles.write(json(df), path, overwrite, toFile = true,
      finish = (stage, parts) => Seq(stage.join(parts, name, open, sep, close))) {
      (stage, p, rows) =>
        if (!rows.hasNext) Nil
        else Seq(stage.commit(f"part-$p%05d") { out =>
          var n = 0L
          while (rows.hasNext) {
            if (n > 0) out.write(sep)
            rows.next().getUTF8String(0).writeTo(out)
            n += 1
          }
          n
        })
    }
  }
}
