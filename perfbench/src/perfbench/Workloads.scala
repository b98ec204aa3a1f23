package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.etl.{CacheRegistry, Convert, EngineConfig, IngestOps, Sinks}
import graft.sources.{XlsxParsing, XlsxSink}

/** One benchmark operation. `run` is the timed part and returns the
  * untimed check, which yields an error message when the output is wrong. */
final case class Op(name: String, family: String, run: () => (() => Option[String]))

/** A workload: the same operations over a small warm-up input and over the
  * measured input, plus (traced runs only) a per-layer decomposition. */
trait Workload {
  def warmOps: Seq[Op]
  def coldOps: Seq[Op]
  def steadyOps: Seq[Op]
  def layers(): Map[String, Double] = Map.empty
  def oracle: Map[String, String] = Map.empty
}

/** Order-insensitive all-column digest (row count, wrapping sum of per-row
  * xxhash64), computed executor-side. Every output column feeds the hash,
  * so no column is pruned away; the per-partition fold sits behind an
  * opaque mapPartitions, so a row's own ORDER BY is executed, not elided. */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def frame(df: DataFrame): Dataset[(Long, Long)] = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // hash expressions reject maps; their JSON rendering is deterministic
    val cols = named.schema.fields.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)).toSeq
    val spark = df.sparkSession
    import spark.implicits._
    named.select(xxhash64((if (cols.isEmpty) Seq(lit(0)) else cols): _*))
      .as[Long].mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { h => n += 1; s += h }
        Iterator((n, s))
      }
  }

  def fold(parts: Array[(Long, Long)]): (Long, Long) =
    parts.foldLeft((0L, 0L)) { case ((n, s), (a, b)) => (n + a, s + b) }

  def of(df: DataFrame): (Long, Long) = fold(frame(df).collect())
}

/** Catalogue rows (`SparkEntry.queries`) over a generated fixture directory.
  *
  * Cold pass: each row as a batch job runs it, the result written to
  * parquet; that file is what the DuckDB oracle checks after the run, and
  * its digest is the row's reference. Steady passes: each row consumed
  * into the executor-side digest, which must equal the reference. */
final class Catalog(spark: SparkSession, rows: Seq[String], warmDir: String,
    mainDir: String, outDir: String, tr: Tracer) extends Workload {

  private val ref = mutable.Map.empty[String, (Long, Long)]

  private def construct(r: String, dir: String): DataFrame =
    tr.layer("construct")(SparkEntry.queries(r)(spark, dir))

  private def digest(df: DataFrame): (Long, Long) = {
    val q = Digest.frame(df)
    tr.layer("plan")(q.queryExecution.executedPlan)
    tr.layer("exec")(Digest.fold(q.collect()))
  }

  private def release(): Unit = {
    if (tr.enabled) tr.add("cache.persisted", spark.sparkContext.getPersistentRDDs.size)
    tr.layer("release")(CacheRegistry.releaseAll())
  }

  private def steady(r: String, dir: String, check: ((Long, Long)) => Option[String]) =
    Op(r, Catalog.family(r), () => {
      val d = try digest(construct(r, dir)) finally release()
      () => check(d)
    })

  def warmOps: Seq[Op] = rows.map(steady(_, warmDir, _ => None))

  def coldOps: Seq[Op] = rows.map(r => Op(r, Catalog.family(r), () => {
    val path = s"$outDir/$r"
    try tr.layer("write")(construct(r, mainDir).write.mode("overwrite").parquet(path))
    finally release()
    () => { ref(r) = Digest.of(spark.read.parquet(path)); None }
  }))

  def steadyOps: Seq[Op] = rows.map(r => steady(r, mainDir, d => ref.get(r) match {
    case Some(x) if x == d => None
    case Some(x) => Some(s"digest $d differs from the checked result's $x")
    case None => Some("no checked result to compare with")
  }))

  override def oracle: Map[String, String] =
    rows.map(r => r -> SparkEntry.oracleSql(r)).toMap
}

object Catalog {
  private val named = Set("orders", "events", "docs", "dedup", "text", "search",
    "sim", "graph", "pipeline", "quality", "sample", "layout", "sketch")
  private val ingest = Set("s1", "s3", "s4", "s6", "t2", "t3", "t4", "t5", "t6",
    "k1", "k2", "c4", "convert", "csv", "jsonarray", "orc", "xlsx")

  /** Operator family of a row, from its name prefix. */
  def family(row: String): String = {
    val p = row.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "tpch"
    else if (named(p)) p
    else if (ingest(p)) "ingest"
    else if (p == "multimodal" || p == "audio") "multimodal"
    else "other"
  }
}

/** A generated workbook and the generator's expectation of its conversion. */
final case class Book(file: String, sheet: String, header: Seq[String],
    rows: Long, sha256: String)

object Book {
  def apply(n: JsonNode): Book = Book(n.get("file").asText, n.get("sheet").asText,
    n.get("header").elements.asScala.map(_.asText).toSeq,
    n.get("rows").asLong, n.get("sha256").asText)
}

/** `Convert.run` over a generated workbook, cycling through every output
  * format. Each output is read back with the benchmark's own readers and
  * must reproduce the generator's row count and order-sensitive digest. */
final class XlsxConvert(spark: SparkSession, warm: Book, main: Book,
    outDir: String, tr: Tracer, ledger: Option[Ledger]) extends Workload {

  val formats = Seq("ndjson", "csv", "json", "xlsx")

  private def outPath(fmt: String) = s"$outDir/out_$fmt" + (if (fmt == "json") ".json" else "")

  private def convert(book: Book, fmt: String): Convert.Result =
    Convert.run(spark, EngineConfig(
      inputDir = new File(book.file).getParent, inputFormat = "xlsx",
      sheetName = Some(book.sheet), outputPath = Some(outPath(fmt)), format = fmt,
      batchSize = 50000, overwrite = true))

  private def op(book: Book, fmt: String) = Op(s"convert_$fmt", "ingest", () => {
    val res = tr.layer("convert")(convert(book, fmt))
    () => {
      val (n, sha) = Outputs.read(fmt, outPath(fmt), book.header)
      Outputs.delete(new File(outPath(fmt)))
      if (res.rowsWritten != book.rows)
        Some(s"$fmt: rowsWritten ${res.rowsWritten}, expected ${book.rows}")
      else if (n != book.rows || sha != book.sha256)
        Some(s"$fmt: output has $n rows, digest ${sha.take(12)}; expected " +
          s"${book.rows} rows, digest ${book.sha256.take(12)}")
      else None
    }
  })

  def warmOps: Seq[Op] = formats.map(op(warm, _))
  def coldOps: Seq[Op] = formats.map(op(main, _))
  def steadyOps: Seq[Op] = coldOps

  /** Each layer of the conversion timed on its own, through the engine's
    * public entry points, over the measured workbook. */
  override def layers(): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val sc = spark.sparkContext
    val led = ledger.get
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def measured[A](body: => A): (A, Double, Map[String, Long]) = {
      val before = led.snapshot(sc)
      val (a, s) = timed(body)
      (a, s, Ledger.delta(before, led.snapshot(sc)))
    }
    val cap = 6L * 1024 * 1024 * 1024
    val dir = new File(main.file).getParent
    val sheetPacked = {
      val zip = new ZipFile(main.file)
      try zip.getEntry(XlsxParsing.resolveSheet(XlsxParsing.listSheets(zip, cap),
        Some(main.sheet), 0).target).getCompressedSize
      finally zip.close()
    }
    m("xlsx.meta_s") = timed {
      val zip = new ZipFile(main.file)
      try {
        XlsxParsing.checkEntries(zip, main.file, cap, 0.01)
        XlsxParsing.listSheets(zip, cap)
        XlsxParsing.sharedStrings(zip, cap)
      } finally zip.close()
    }._2
    // sheet passes made by schema inference, measured as the bytes this
    // process read over the sheet's packed size
    val rchar0 = Env.rchar
    val (df, inferS) = timed(tr.span("xlsx.infer")(
      spark.read.format("xlsx").option("sheetName", main.sheet).load(dir)))
    val inferPasses = (Env.rchar - rchar0).toDouble / sheetPacked
    m("xlsx.infer_s") = inferS
    def noop(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()
    val (_, scanS, _) = measured(tr.span("xlsx.scan")(noop(df)))
    m("xlsx.scan_s") = scanS
    m("xlsx.scan_rows_per_s") = main.rows / scanS
    val ordered = IngestOps.withRowId(df, "_pos").orderBy("_pos").drop("_pos")
    val (_, orderS, orderL) = measured(tr.span("ingest.order")(noop(ordered)))
    m("ingest.order_s") = orderS - scanS
    m("ingest.shuffle_mb") = orderL("shw_bytes") / 1048576.0

    // sinks over the ordered sheet already held in memory
    val cached = ordered.cache()
    noop(cached)
    val sinkOut = Seq("ndjson", "csv", "json", "xlsx").map(f => f -> s"$outDir/sink_$f").toMap
    m("sink.ndjson_s") = timed(tr.span("sink.ndjson")(
      Sinks.ndjson(cached, sinkOut("ndjson"), overwrite = true, singleFile = true)))._2
    m("sink.csv_s") = timed(tr.span("sink.csv")(
      Sinks.chunkedCsv(cached, sinkOut("csv"), 50000, overwrite = true)))._2
    m("sink.json_s") = timed(tr.span("sink.json")(
      Sinks.jsonArray(cached, sinkOut("json"), overwrite = true)))._2
    m("sink.xlsx_s") = timed(tr.span("sink.xlsx")(
      XlsxSink.write(cached, sinkOut("xlsx"), main.sheet, overwrite = true)))._2
    val written = sinkOut.values.toSeq.flatMap(p => Outputs.dataFiles(new File(p)))
    m("sink.mb_written") = written.map(_.length).sum / 1048576.0
    m("sink.files") = written.size
    cached.unpersist(blocking = true)
    sinkOut.values.foreach(p => Outputs.delete(new File(p)))

    // the converter's own row-count re-reads, and the executor-side sheet
    // parses of one conversion (its scan records minus the re-read's)
    val (res, _, convL) = measured(tr.span("xlsx.convert")(convert(main, "ndjson")))
    val (_, rbN, rbL) = measured(tr.span("convert.readback")(
      spark.read.text(outPath("ndjson")).count()))
    convert(main, "csv")
    val (_, rbC, _) = measured(tr.span("convert.readback")(
      spark.read.option("header", "true").csv(outPath("csv")).count()))
    m("convert.readback_s") = rbN + rbC
    val executorRows = convL("in_records") - rbL("in_records")
    // an inference pass parses the header and every data row
    m("xlsx.parse_amplification") =
      (executorRows + inferPasses * (main.rows + 1)) / math.max(res.rowsWritten, 1L)
    formats.foreach(f => Outputs.delete(new File(outPath(f))))
    m.toMap
  }
}

/** Independent readers for the converter's four output formats, each
  * returning (rows, sha256) in the generator's digest convention: cells
  * joined by 0x1f, each row terminated by 0x1e. */
object Outputs {
  private val mapper = new ObjectMapper()
  private val Missing = "\u0000missing"

  private final class Sha {
    val md = MessageDigest.getInstance("SHA-256")
    var rows = 0L
    def row(cells: Seq[String]): Unit = {
      md.update(cells.mkString("\u001f").getBytes(StandardCharsets.UTF_8))
      md.update(0x1e.toByte)
      rows += 1
    }
    def result: (Long, String) = (rows, md.digest().map("%02x".format(_)).mkString)
  }

  def dataFiles(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(x => x.isFile && x.getName.startsWith("part-")).sortBy(_.getName)

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }

  private def fields(node: JsonNode, header: Seq[String]): Seq[String] =
    header.map(h => Option(node.get(h)).filter(_.isTextual).map(_.asText).getOrElse(Missing))

  private def lines(f: File): Iterator[String] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.iterator

  def read(fmt: String, path: String, header: Seq[String]): (Long, String) = {
    val sha = new Sha
    val files = dataFiles(new File(path))
    fmt match {
      case "ndjson" =>
        files.foreach(f => lines(f).filter(_.nonEmpty)
          .foreach(l => sha.row(fields(mapper.readTree(l), header))))
      case "json" =>
        mapper.readTree(new File(path)).elements.asScala
          .foreach(n => sha.row(fields(n, header)))
      case "csv" =>
        // the generated cells hold no comma, quote or newline; the writer
        // quotes only empty strings
        files.foreach { f =>
          val it = lines(f)
          if (it.hasNext) {
            val h = it.next().split(",", -1).toSeq
            if (h != header) sha.row(Seq(Missing, "header") ++ h)
          }
          it.foreach(l => sha.row(l.split(",", -1).toSeq.map(c => if (c == "\"\"") "" else c)))
        }
      case "xlsx" => files.foreach(f => readXlsx(f, header, sha))
    }
    sha.result
  }

  private def colIndex(ref: String): Int =
    ref.takeWhile(_.isLetter).foldLeft(0)((a, c) => a * 26 + (c.toUpper - 'A' + 1)) - 1

  private def readXlsx(f: File, header: Seq[String], sha: Sha): Unit = {
    val zip = new ZipFile(f)
    try {
      val xr = XMLInputFactory.newInstance().createXMLStreamReader(
        zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml")))
      var cells: Array[String] = null
      var col = 0
      var first = true
      while (xr.hasNext) xr.next() match {
        case XMLStreamConstants.START_ELEMENT => xr.getLocalName match {
          case "row" => cells = Array.fill(header.size)("")
          case "c" => col = colIndex(xr.getAttributeValue(null, "r"))
          case "t" => cells(col) = cells(col) + xr.getElementText
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if xr.getLocalName == "row" =>
          if (first) {
            if (cells.toSeq != header) sha.row(Seq(Missing, "header") ++ cells)
            first = false
          } else sha.row(cells.toSeq)
        case _ =>
      }
      xr.close()
    } finally zip.close()
  }
}
