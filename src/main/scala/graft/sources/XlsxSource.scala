package graft.sources

import java.io.{File, FilterInputStream, InputStream}
import java.util.zip.{ZipEntry, ZipFile}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.{InflationLimitException, InputTooLargeException}

/** Streaming .xlsx parsing over plain JDK `java.util.zip` + StAX — no POI.
  *
  * The reference's Excel surface, re-expressed:
  *  - sheet enumeration/selection with case-insensitive match and the
  *    available-sheets error (S3;
  *    strategy/UserModeEventConversionStrategy.java:133-171);
  *  - shared-strings dictionary resolve (S5/S6;
  *    core/LazySharedStringsProvider.java);
  *  - all-string cell rendering + blank normalization (T5/T2;
  *    core/poi/CatmePoiSheetContentsHandler.java:122-125);
  *  - zip-bomb guards: central-directory caps BEFORE any inflate plus a
  *    counting stream that re-checks the cap DURING inflate, because a
  *    crafted central directory can lie (S7/S8;
  *    core/FallbackZipExtractor.java:31-32,91-165,
  *    core/SafePOIEntryStreamer.java:54-90).
  *
  * Memory contract: one deflate stream per open sheet, one pulled XML event
  * at a time, the shared-strings array resident (the reference holds the
  * same table; its "lazy provider" S6 trades that residency for re-parses).
  */
object XlsxParsing {

  final case class SheetInfo(name: String, target: String)

  private def secureFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  /** Central-directory guard pass over every entry — runs before any entry
    * is inflated (FallbackZipExtractor.java:146-150 / ZipSecureFile caps). */
  def checkEntries(zip: ZipFile, file: String, maxEntrySizeBytes: Long,
      minInflateRatio: Double): Unit = {
    val es = zip.entries()
    while (es.hasMoreElements) {
      val e = es.nextElement()
      if (!e.isDirectory) {
        if (e.getSize >= 0 && e.getSize > maxEntrySizeBytes)
          throw new InputTooLargeException(
            s"Zip entry ${e.getName} in $file is ${e.getSize} bytes, " +
              s"exceeding maxEntrySizeBytes=$maxEntrySizeBytes")
        if (minInflateRatio > 0 && e.getSize > 0 && e.getCompressedSize >= 0 &&
            e.getCompressedSize.toDouble / e.getSize < minInflateRatio)
          throw new InflationLimitException(
            s"Zip entry ${e.getName} in $file inflates ${e.getCompressedSize}B → " +
              s"${e.getSize}B (ratio below minInflateRatio=$minInflateRatio)")
      }
    }
  }

  /** The declared sizes can be forged; this stream enforces the cap on the
    * bytes ACTUALLY inflated (SafePOIEntryStreamer's runtime guard). */
  private final class CappedStream(in: InputStream, cap: Long, name: String)
      extends FilterInputStream(in) {
    private var count = 0L
    private def bump(n: Int): Unit = if (n > 0) {
      count += n
      if (count > cap) throw new InputTooLargeException(
        s"Zip entry $name inflated beyond maxEntrySizeBytes=$cap")
    }
    override def read(): Int = { val b = super.read(); if (b >= 0) bump(1); b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(buf, off, len); bump(n); n
    }
  }

  private def entryStream(zip: ZipFile, entry: ZipEntry, cap: Long): InputStream =
    new CappedStream(zip.getInputStream(entry), cap, entry.getName)

  private def requireEntry(zip: ZipFile, name: String): ZipEntry = {
    val e = zip.getEntry(name)
    if (e == null) throw new IllegalArgumentException(
      s"Not a valid .xlsx package: missing $name")
    e
  }

  /** Workbook sheet list in declared order. Targets resolve through
    * xl/_rels/workbook.xml.rels (sheet N is NOT guaranteed to live in
    * sheetN.xml — the rels indirection is part of the OPC format). */
  def listSheets(zip: ZipFile, cap: Long): Seq[SheetInfo] = {
    val rels = scala.collection.mutable.Map.empty[String, String]
    val relsEntry = zip.getEntry("xl/_rels/workbook.xml.rels")
    if (relsEntry != null) {
      val xr = secureFactory().createXMLStreamReader(entryStream(zip, relsEntry, cap))
      try while (xr.hasNext) {
        if (xr.next() == XMLStreamConstants.START_ELEMENT &&
            xr.getLocalName == "Relationship") {
          val id = xr.getAttributeValue(null, "Id")
          val target = xr.getAttributeValue(null, "Target")
          if (id != null && target != null)
            rels(id) = if (target.startsWith("/")) target.drop(1)
              else if (target.startsWith("xl/")) target else s"xl/$target"
        }
      } finally xr.close()
    }
    val out = ArrayBuffer.empty[SheetInfo]
    val wb = requireEntry(zip, "xl/workbook.xml")
    val xr = secureFactory().createXMLStreamReader(entryStream(zip, wb, cap))
    try while (xr.hasNext) {
      if (xr.next() == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "sheet") {
        val name = xr.getAttributeValue(null, "name")
        // the r:id attribute is namespaced; match by local name
        val rid = (0 until xr.getAttributeCount)
          .find(i => xr.getAttributeLocalName(i) == "id").map(xr.getAttributeValue)
        val target = rid.flatMap(rels.get)
          .getOrElse(s"xl/worksheets/sheet${out.size + 1}.xml")
        out += SheetInfo(name, target)
      }
    } finally xr.close()
    out.toSeq
  }

  /** Sheet resolution with the reference's exact error surface
    * (UserModeEventConversionStrategy.java:141-166). */
  def resolveSheet(sheets: Seq[SheetInfo], sheetName: Option[String],
      sheetIndex: Int): SheetInfo = {
    val names = sheets.map(_.name)
    if (sheets.isEmpty)
      throw new IllegalArgumentException("No sheets found in the Excel file.")
    sheetName match {
      case Some(n) =>
        sheets.find(_.name.equalsIgnoreCase(n)).getOrElse {
          throw new IllegalArgumentException(
            s"Sheet with name '$n' not found. Available sheets: ${names.mkString("[", ", ", "]")}")
        }
      case None =>
        if (sheetIndex < 0 || sheetIndex >= sheets.length)
          throw new IllegalArgumentException(
            s"Invalid sheet index: $sheetIndex. File contains ${sheets.length} sheets. " +
              s"Available sheets: ${names.mkString("[", ", ", "]")}")
        sheets(sheetIndex)
    }
  }

  /** ECMA-376 `_xHHHH_` cell-escape decode (the convention Excel/POI and
    * [[XlsxSink.escCell]] use for XML-illegal characters): each literal
    * `_xHHHH_` becomes the code point HHHH; everything else passes through.
    * Scanning resumes AFTER a decoded char, so the writer's `_x005F_x`
    * pre-escape round-trips a literal "_x" exactly. */
  def decodeCellEscapes(s: String): String = {
    if (s == null || s.indexOf("_x") < 0) return s
    def hex4(i: Int): Boolean = (i until i + 4).forall { j =>
      val c = s.charAt(j)
      (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')
    }
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (i + 7 <= s.length && s.charAt(i) == '_' && s.charAt(i + 1) == 'x' &&
          s.charAt(i + 6) == '_' && hex4(i + 2)) {
        sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
        i += 7
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** sharedStrings.xml → dense array; `<si>` rich-text runs concatenate
    * (ReadOnlySharedStringsTable semantics). */
  def sharedStrings(zip: ZipFile, cap: Long): Array[String] = {
    val entry = zip.getEntry("xl/sharedStrings.xml")
    if (entry == null) return Array.empty
    val out = ArrayBuffer.empty[String]
    val xr = secureFactory().createXMLStreamReader(entryStream(zip, entry, cap))
    try {
      var sb: StringBuilder = null
      while (xr.hasNext) xr.next() match {
        case XMLStreamConstants.START_ELEMENT if xr.getLocalName == "si" =>
          sb = new StringBuilder
        case XMLStreamConstants.START_ELEMENT if xr.getLocalName == "t" && sb != null =>
          sb.append(xr.getElementText)
        case XMLStreamConstants.END_ELEMENT if xr.getLocalName == "si" =>
          out += decodeCellEscapes(sb.toString); sb = null
        case _ =>
      }
    } finally xr.close()
    out.toArray
  }

  /** "BC12" → 0-based column index 54. */
  def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** Pull-based sheet row reader: one `next()` per `<row>`, cells rendered to
    * display strings (t="s" via the shared table, t="b" as TRUE/FALSE to
    * match POI's formatted output, numbers/strings as raw text), gaps from
    * sparse cell refs filled with "" (the blank-normalization contract). */
  final class SheetRows(zip: ZipFile, entry: ZipEntry, shared: Array[String],
      cap: Long) extends AutoCloseable {
    private val stream = entryStream(zip, entry, cap)
    private val xr: XMLStreamReader = secureFactory().createXMLStreamReader(stream)
    private val cells = ArrayBuffer.empty[(Int, String)]

    /** @return next row as a dense cell array, or null at end of sheet. */
    def nextRow(): Array[String] = {
      cells.clear()
      var curCol = -1
      var curType: String = null
      var curVal: String = null
      var inCell = false
      while (xr.hasNext) {
        xr.next() match {
          case XMLStreamConstants.START_ELEMENT => xr.getLocalName match {
            case "c" =>
              inCell = true
              val ref = xr.getAttributeValue(null, "r")
              curCol = if (ref != null) colIndex(ref) else curCol + 1
              curType = xr.getAttributeValue(null, "t")
              curVal = null
            case "v" if inCell => curVal = xr.getElementText
            case "t" if inCell => // inlineStr runs concatenate like <si>
              curVal = (if (curVal == null) "" else curVal) + xr.getElementText
            case _ =>
          }
          case XMLStreamConstants.END_ELEMENT => xr.getLocalName match {
            case "c" if inCell =>
              inCell = false
              cells += ((curCol, render(curType, curVal)))
            case "row" => return materialize()
            case _ =>
          }
          case _ =>
        }
      }
      null
    }

    private def render(t: String, v: String): String = {
      if (v == null) return ""
      t match {
        case "s" =>
          val i = v.trim.toInt
          if (i >= 0 && i < shared.length) shared(i) // decoded at table parse
          else throw new IllegalArgumentException(
            s"Shared-string index $i out of range (${shared.length} strings)")
        case "b" => if (v.trim == "1") "TRUE" else "FALSE"
        case "inlineStr" => XlsxParsing.decodeCellEscapes(v)
        case _ => v
      }
    }

    private def materialize(): Array[String] = {
      val width = if (cells.isEmpty) 0 else cells.map(_._1).max + 1
      val row = Array.fill(width)("")
      cells.foreach { case (i, v) => if (i >= 0) row(i) = v }
      row
    }

    override def close(): Unit = { xr.close(); stream.close() }
  }

  /** Resolve the file list for a path option: a single file, or every
    * `.xlsx` under a directory in name order (deterministic scan order). */
  def listFiles(path: String): Seq[String] = {
    val clean = path.stripPrefix("file:")
    val f = new File(clean)
    if (!f.exists())
      throw new IllegalArgumentException(s"Input path does not exist: $path")
    if (f.isFile) Seq(f.getPath)
    else {
      val files = Option(f.listFiles()).getOrElse(Array.empty)
        .filter(x => x.isFile && x.getName.toLowerCase.endsWith(".xlsx"))
        .map(_.getPath).sorted.toSeq
      if (files.isEmpty)
        throw new IllegalArgumentException(s"No .xlsx files under $path")
      files
    }
  }
}

/** Options bundle shared by driver (inference) and executors (readers). */
private[sources] final case class XlsxOptions(
    sheetName: Option[String],
    sheetIndex: Int,
    header: Boolean,
    unionSheets: Boolean,
    maxEntrySizeBytes: Long,
    minInflateRatio: Double) extends Serializable

private[sources] object XlsxOptions {
  def apply(options: java.util.Map[String, String]): XlsxOptions = {
    // inferSchema receives a CaseInsensitiveStringMap but getTable receives
    // the CASE-SENSITIVE map (DataSourceV2Utils.loadV2Source) — normalize
    // here so option("SheetName", …) resolves identically on both paths
    // instead of silently reverting to defaults at read time
    val lower = new java.util.HashMap[String, String]()
    options.forEach((k, v) => lower.put(k.toLowerCase(java.util.Locale.ROOT), v))
    def get(k: String): Option[String] =
      Option(lower.get(k.toLowerCase(java.util.Locale.ROOT)))
    val union = get("unionSheets").exists(_.toBoolean)
    require(!(union && get("sheetName").exists(_.nonEmpty)),
      "unionSheets reads EVERY sheet; it cannot be combined with sheetName")
    XlsxOptions(
      sheetName = get("sheetName").filter(_.nonEmpty),
      sheetIndex = get("sheetIndex").map(_.toInt).getOrElse(0),
      header = get("header").forall(_.toBoolean),
      unionSheets = union,
      maxEntrySizeBytes = get("maxEntrySizeBytes").map(_.toLong)
        .getOrElse(6L * 1024 * 1024 * 1024),
      minInflateRatio = get("minInflateRatio").map(_.toDouble).getOrElse(0.01))
  }
}

/** `spark.read.format("xlsx")` — a minimal DataSource V2 over
  * [[XlsxParsing]]. All columns are StringType (the reference's universal
  * all-string row model, T1/T5); header row names columns with the
  * index-fallback rule (S4). One InputPartition per FILE: a deflate stream
  * is not splittable, so within-file reads stream sequentially in constant
  * memory and parallelism comes from the file count — at scale a 100 TB
  * drop of .xlsx exports parallelizes across its thousands of workbooks,
  * which is the only shape the container format admits. The one finer
  * grain that exists — each SHEET is its own deflate stream — is exposed
  * via `unionSheets=true`: one partition per (file, sheet), all sheets
  * unioned under the inferred schema (header row consumed per sheet;
  * narrower sheets pad with ""), so a single many-sheet workbook spreads
  * across cores. Order guarantee ([[graft.etl.Convert]] relies on it in place
  * of a sort): partitions follow file-name order (then sheet order under
  * `unionSheets`), and each reader emits its sheet's rows in sheet order. */
class XlsxSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: java.util.Map[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "xlsx source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = XlsxOptions(options)
    val first = XlsxParsing.listFiles(pathOf(options)).head
    val zip = new ZipFile(first)
    try {
      XlsxParsing.checkEntries(zip, first, opts.maxEntrySizeBytes, opts.minInflateRatio)
      val sheet = XlsxParsing.resolveSheet(
        XlsxParsing.listSheets(zip, opts.maxEntrySizeBytes), opts.sheetName, opts.sheetIndex)
      val shared = XlsxParsing.sharedStrings(zip, opts.maxEntrySizeBytes)
      val entry = zip.getEntry(sheet.target)
      require(entry != null, s"Sheet target ${sheet.target} missing from $first")
      val rows = new XlsxParsing.SheetRows(zip, entry, shared, opts.maxEntrySizeBytes)
      try {
        // width = max over header AND data rows: the reference names
        // positions beyond the header by their index
        // (core/writers/JsonDataWriter.java:151-154)
        var header: Array[String] = if (opts.header) rows.nextRow() else null
        if (header == null) header = Array.empty
        var width = header.length
        var r = rows.nextRow()
        while (r != null) { width = math.max(width, r.length); r = rows.nextRow() }
        // duplicate header cells would collapse in name-keyed lookups
        // (StructType.fieldIndex — last-wins — would silently map two
        // ordinals to one physical column); uniquify deterministically by
        // suffixing later occurrences with their position
        val used = scala.collection.mutable.Set.empty[String]
        val names = (0 until width).map { i =>
          val base =
            if (i < header.length && header(i) != null && header(i).nonEmpty) header(i)
            else i.toString
          var cand = base
          while (used.contains(cand)) cand = s"${cand}_$i"
          used += cand
          cand
        }
        StructType(names.map(n => StructField(n, StringType, nullable = false)))
      } finally rows.close()
    } finally zip.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new XlsxTable(pathOf(properties), schema, XlsxOptions(properties))
}

private[sources] class XlsxTable(path: String, tableSchema: StructType,
    opts: XlsxOptions) extends Table with SupportsRead {
  override def name(): String = s"xlsx:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(path, tableSchema, opts)
}

/** Column pruning: a projection of k columns builds k-wide rows — Catalyst
  * hands the required schema down and the reader materializes only those
  * ordinals (the XML still streams past every cell; what pruning saves is
  * row width, string allocation, and everything downstream of the scan). */
private[sources] class XlsxScanBuilder(path: String, tableSchema: StructType,
    opts: XlsxOptions) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // intersect in table order; Catalyst only asks for existing columns
    required = StructType(tableSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new XlsxScan(path, tableSchema, required, opts)
}

private[sources] class XlsxScan(path: String, tableSchema: StructType,
    required: StructType, opts: XlsxOptions) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val files = XlsxParsing.listFiles(path)
    if (!opts.unionSheets)
      files.map(f => XlsxFilePartition(f, None): InputPartition).toArray
    else
      // one partition per (file, sheet): a multi-sheet workbook's sheets
      // decompress and parse on separate cores — the only intra-file
      // parallelism the container admits (each sheet is its own deflate
      // stream). Enumeration reads only each workbook's central directory
      // + workbook.xml on the driver — KBs per file, the same metadata
      // cost class as the file listing itself.
      files.flatMap { f =>
        val zip = new java.util.zip.ZipFile(f)
        try XlsxParsing.listSheets(zip, opts.maxEntrySizeBytes)
          .map(s => XlsxFilePartition(f, Some(s.name)): InputPartition)
        finally zip.close()
      }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val ordinals = required.fieldNames.map(tableSchema.fieldIndex)
    new XlsxReaderFactory(ordinals, opts)
  }
}

private[sources] final case class XlsxFilePartition(file: String,
    sheet: Option[String]) extends InputPartition

private[sources] class XlsxReaderFactory(ordinals: Array[Int], opts: XlsxOptions)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[XlsxFilePartition]
    new XlsxPartitionReader(p.file, p.sheet, ordinals, opts)
  }
}

/** Streams one workbook's selected sheet: guard pass → sheet resolve →
  * shared strings → row pull. Rows materialize only the pruned `ordinals`
  * (pad with "" past the physical row end); rows whose cells are ALL blank
  * — judged on the FULL physical row, projection-independent (T2,
  * core/poi/CatmePoiSheetContentsHandler.java:122-125) — are dropped. */
private[sources] class XlsxPartitionReader(file: String, pinned: Option[String],
    ordinals: Array[Int], opts: XlsxOptions) extends PartitionReader[InternalRow] {

  private val zip = new ZipFile(file)
  XlsxParsing.checkEntries(zip, file, opts.maxEntrySizeBytes, opts.minInflateRatio)
  // `pinned` = the one sheet this unionSheets partition owns; otherwise the
  // usual name/index resolution
  private val sheet = XlsxParsing.resolveSheet(
    XlsxParsing.listSheets(zip, opts.maxEntrySizeBytes),
    pinned.orElse(opts.sheetName), if (pinned.isDefined) 0 else opts.sheetIndex)
  private val shared = XlsxParsing.sharedStrings(zip, opts.maxEntrySizeBytes)
  private val rows = {
    val entry = zip.getEntry(sheet.target)
    require(entry != null, s"Sheet target ${sheet.target} missing from $file")
    new XlsxParsing.SheetRows(zip, entry, shared, opts.maxEntrySizeBytes)
  }
  if (opts.header) rows.nextRow() // consume the header row

  private var current: Array[String] = _

  override def next(): Boolean = {
    var r = rows.nextRow()
    while (r != null && r.forall(_.isEmpty)) r = rows.nextRow() // T2 empty-row drop
    current = r
    current != null
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      val c = ordinals(i)
      vals(i) = UTF8String.fromString(if (c < current.length) current(c) else "")
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = {
    rows.close()
    zip.close()
  }
}
