package graft.sources

import java.util.zip.{ZipEntry, ZipFile}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

/** The JDK StAX sheet and shared-strings readers that
  * [[XlsxParsing.SheetRows]] and [[XlsxParsing.sharedStrings]] replaced,
  * kept unchanged as the reference the byte-level scanner is tested against.
  * Only the entry stream differs: it is opened without the inflate cap. */
object StaxSheetReader {

  private def secureFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  /** sharedStrings.xml → dense array; `<si>` rich-text runs concatenate
    * (ReadOnlySharedStringsTable semantics). */
  def sharedStrings(zip: ZipFile): Array[String] = {
    val entry = zip.getEntry("xl/sharedStrings.xml")
    if (entry == null) return Array.empty
    val out = ArrayBuffer.empty[String]
    val xr = secureFactory().createXMLStreamReader(zip.getInputStream(entry))
    try {
      var sb: StringBuilder = null
      while (xr.hasNext) xr.next() match {
        case XMLStreamConstants.START_ELEMENT if xr.getLocalName == "si" =>
          sb = new StringBuilder
        case XMLStreamConstants.START_ELEMENT if xr.getLocalName == "t" && sb != null =>
          sb.append(xr.getElementText)
        case XMLStreamConstants.END_ELEMENT if xr.getLocalName == "si" =>
          out += XlsxParsing.decodeCellEscapes(sb.toString); sb = null
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
  final class SheetRows(zip: ZipFile, entry: ZipEntry, shared: Array[String])
      extends AutoCloseable {
    private val stream = zip.getInputStream(entry)
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
}
