package graft.sources

import java.io.{File, FilterInputStream, InputStream, InputStreamReader, PushbackInputStream}
import java.nio.charset.StandardCharsets.{UTF_16, UTF_16BE, UTF_16LE, UTF_8}
import java.util.zip.{ZipEntry, ZipFile}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.{InflationLimitException, InputTooLargeException}

/** Streaming .xlsx parsing over plain JDK `java.util.zip` and a byte-level
  * SpreadsheetML scanner — no POI, no StAX.
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
  * Every XML part (workbook, its rels, shared strings, sheets) is read by
  * one pull scanner, [[XmlScanner]], that works on the inflated bytes and
  * builds no `String` for markup; sheet cells go to the executor as
  * `UTF8String`s copied from those bytes. The XML subset it accepts is what
  * package parts use: UTF-8 (a UTF-8 BOM is dropped; a UTF-16 part, by BOM
  * or by its declaration, is transcoded to UTF-8 first, as OPC allows only
  * these two encodings; text bytes are passed on without a UTF-8 validity
  * check), elements matched by local name with any namespace prefix
  * stripped, single- or double-quoted attributes, the five predefined
  * entities, decimal and hex character references, CDATA, comments and
  * processing instructions (skipped), and CR/CRLF line ends normalized to
  * LF. A `<!DOCTYPE` is rejected outright (OPC, ECMA-376 Part 2, forbids
  * DTDs in package parts), so no entity can expand. End tags must match
  * their start tags. Malformed input ends in an `IllegalArgumentException`
  * naming the file, the part and the byte offset, in time linear in the
  * part's size.
  *
  * Memory contract: one deflate stream and one 64 KB scan window per open
  * part (larger only while a single tag is), one row's cells at a time,
  * the shared-strings array resident (the reference holds the same table;
  * its "lazy provider" S6 trades that residency for re-parses).
  */
object XlsxParsing {

  final case class SheetInfo(name: String, target: String)

  /** SpreadsheetML's column limit: column XFD. */
  final val MaxColumns = 16384

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

  /** A growable byte array: decoded text and attribute values land here. */
  private final class Bytes(initial: Int) {
    var arr = new Array[Byte](initial)
    var len = 0
    private def ensure(extra: Int): Unit = if (len + extra > arr.length)
      arr = java.util.Arrays.copyOf(arr,
        math.min(math.max(arr.length.toLong * 2, len.toLong + extra), Int.MaxValue - 8L).toInt)
    def +=(b: Int): Unit = { if (len == arr.length) ensure(1); arr(len) = b.toByte; len += 1 }
    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, arr, len, n); len += n
    }
    def appendCodePoint(cp: Int): Unit =
      if (cp < 0x80) this += cp
      else if (cp < 0x800) { this += 0xC0 | cp >> 6; this += 0x80 | cp & 0x3F }
      else if (cp < 0x10000) {
        this += 0xE0 | cp >> 12; this += 0x80 | cp >> 6 & 0x3F; this += 0x80 | cp & 0x3F
      } else {
        this += 0xF0 | cp >> 18; this += 0x80 | cp >> 12 & 0x3F
        this += 0x80 | cp >> 6 & 0x3F; this += 0x80 | cp & 0x3F
      }
    def is(from: Int, s: Array[Byte]): Boolean =
      len - from == s.length && sameBytes(arr, from, s, s.length)
    def string(from: Int, until: Int): String = new String(arr, from, until - from, UTF_8)
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** a[from, from + n) == b[0, n). A plain loop: on names this short the
    * JDK's vectorized compare costs more than it saves. */
  private def sameBytes(a: Array[Byte], from: Int, b: Array[Byte], n: Int): Boolean = {
    var i = 0
    while (i < n && a(from + i) == b(i)) i += 1
    i == n
  }

  private final val Eof = 0
  private final val Start = 1
  private final val End = 2

  /** The UTF-8 text of a part: a UTF-8 BOM is dropped, and a UTF-16 part —
    * by its BOM, or by the `<?` its declaration starts with — is
    * transcoded, so the scanner only ever sees UTF-8. */
  private def utf8View(raw: InputStream): InputStream = {
    val in = new PushbackInputStream(raw, 4)
    val head = in.readNBytes(4)
    def starts(bs: Int*): Boolean =
      head.length >= bs.length && bs.indices.forall(i => (head(i) & 0xff) == bs(i))
    val charset =
      if (starts(0xFE, 0xFF) || starts(0xFF, 0xFE)) Some(UTF_16) // the BOM picks the order
      else if (starts(0x3C, 0, 0x3F, 0)) Some(UTF_16LE)
      else if (starts(0, 0x3C, 0, 0x3F)) Some(UTF_16BE)
      else None
    if (starts(0xEF, 0xBB, 0xBF)) in.unread(head, 3, head.length - 3) else in.unread(head)
    charset.fold(in: InputStream)(cs => new Utf8Encoder(new InputStreamReader(in, cs)))
  }

  /** Re-encodes a character stream as UTF-8 bytes. */
  private final class Utf8Encoder(reader: java.io.Reader) extends InputStream {
    private val chars = new Array[Char](8192)
    private var bytes = Array.emptyByteArray
    private var p = 0
    private def refill(): Boolean = {
      var n = reader.read(chars, 0, chars.length - 1)
      // keep a surrogate pair in one chunk
      if (n > 0 && Character.isHighSurrogate(chars(n - 1))) {
        val c = reader.read()
        if (c >= 0) { chars(n) = c.toChar; n += 1 }
      }
      if (n < 0) false
      else { bytes = new String(chars, 0, n).getBytes(UTF_8); p = 0; true }
    }
    override def read(): Int =
      if (p == bytes.length && !refill()) -1 else { p += 1; bytes(p - 1) & 0xff }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (p == bytes.length && !refill()) -1
      else {
        val n = math.min(len, bytes.length - p)
        System.arraycopy(bytes, p, b, off, n); p += n; n
      }
    override def close(): Unit = reader.close()
  }

  private final val Lt = ascii("lt")
  private final val Gt = ascii("gt")
  private final val Amp = ascii("amp")
  private final val Quot = ascii("quot")
  private final val Apos = ascii("apos")

  /** A name to match, packed into a Long when it has at most eight bytes
    * (a name holds no 0 byte, so the packing is exact); 0 when longer. */
  private final class Name(s: String) {
    val bytes: Array[Byte] = ascii(s)
    val key: Long = if (bytes.length > 8) 0L else bytes.foldLeft(0L)((k, b) => k << 8 | (b & 0xff))
  }

  private final val Xmlns = ascii("xmlns")

  /** Bytes that end a name: white space, markup and quotes. */
  private val NameEnd: Array[Boolean] = {
    val a = new Array[Boolean](256)
    " \t\n\r>/=<\"'".foreach(c => a(c) = true)
    a
  }

  private def isSpace(b: Int): Boolean = b == ' ' || b == '\n' || b == '\t' || b == '\r'

  private def isXmlChar(cp: Int): Boolean =
    cp == 0x9 || cp == 0xA || cp == 0xD || (cp >= 0x20 && cp <= 0xD7FF) ||
      (cp >= 0xE000 && cp <= 0xFFFD) || (cp >= 0x10000 && cp <= 0x10FFFF)

  /** Pull scanner over one package part. [[next]] returns [[Start]], [[End]]
    * or [[Eof]]; a self-closing element yields a Start and then an End.
    * After a Start, [[is]] tests the element's local name, [[attr]] holds
    * the attributes named in `attrNames` (matched by local name, first
    * occurrence wins, each name at most eight bytes; every other attribute
    * is checked and skipped without being stored), and [[text]] reads the
    * element's text up to and including its end tag. Text outside [[text]]
    * is skipped, its entities still checked.
    *
    * The input sits in a window, `buf(pos until lim)`. A tag or an entity
    * is parsed inside the window on local indices; when the window ends
    * inside it, the parse starts over after [[more]] has moved it to the
    * front and filled the rest of the window, which doubles only for a tag
    * larger than itself. So every byte is scanned a bounded number of times.
    *
    * @param part the entry name, for error messages */
  private final class XmlScanner(raw: InputStream, file: String, part: String,
      attrNames: Array[Name]) {
    require(attrNames.forall(_.key != 0))
    private val in = utf8View(raw)
    private var buf = new Array[Byte](1 << 16)
    private var pos = 0
    private var lim = 0
    private var base = 0L // offset of buf(0) in the part
    private val name = new Bytes(64) // qname of the current element
    private var local = 0 // where its local name starts
    private var localKey = 0L
    private val values = attrNames.map(_ => new Bytes(32))
    private val present = new Array[Boolean](attrNames.length)
    private val scratch = new Bytes(16)
    private val open = new Bytes(256) // qnames of the open elements, back to back
    private var ends = new Array[Int](16) // end offset of each in `open`
    private var openKeys = new Array[Long](16) // each one's qname packed, or 0
    private var depth = 0
    private var pendingEnd = false
    // the name [[scanName]] read last: keys of its local part and of the
    // whole qname, and the index of its colon (or -1)
    private var nameKey = 0L
    private var wholeKey = 0L
    private var colon = -1
    /** Offset in the part of the '<' of the tag [[next]] read last. */
    var tagAt = 0L

    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"$file: $part at byte ${base + pos}: $what")

    private def failAt(p: Int, what: String): Nothing = { pos = p; fail(what) }

    def is(n: Name): Boolean = if (n.key != 0) localKey == n.key else name.is(local, n.bytes)

    /** The `i`th attribute of `attrNames` on the current start tag, or null. */
    def attr(i: Int): Bytes = if (present(i)) values(i) else null

    def attrString(i: Int): String = {
      val a = attr(i)
      if (a == null) null else a.string(0, a.len)
    }

    /** Keeps `buf(pos until lim)`, moved to the front, and reads input into
      * the rest of the window (doubled first if the kept bytes fill it);
      * false when no input is left. */
    private def more(): Boolean = {
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        base += pos
        lim -= pos
        pos = 0
      }
      if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = in.readNBytes(buf, lim, buf.length - lim)
      lim += n
      n > 0
    }

    /** Input ended where more was required. */
    private def eof(): Nothing =
      fail(if (depth > 0) s"end of input inside <$top>" else "end of input")

    private def need(): Int = {
      if (pos >= lim && !more()) eof()
      pos += 1
      buf(pos - 1) & 0xff
    }

    private def nextIs(b: Int): Boolean = (pos < lim || more()) && buf(pos) == b

    private def top: String =
      if (depth == 0) "" else open.string(if (depth > 1) ends(depth - 2) else 0, ends(depth - 1))

    def next(): Int = {
      if (pendingEnd) { pendingEnd = false; return End }
      while (true) {
        skipText()
        if (pos >= lim && !more()) {
          if (depth > 0) eof()
          return Eof
        }
        tagAt = base + pos
        pos += 1 // '<'
        if (nextIs('/')) { pos += 1; endTag(); return End }
        else if (nextIs('?')) skipInstruction()
        else if (nextIs('!')) { pos += 1; bang(null) }
        else { startTag(); return Start }
      }
      Eof
    }

    /** Reads the current element's text into `dst` (appending), through its
      * end tag. An element inside the text is an error. */
    def text(dst: Bytes): Unit = {
      if (pendingEnd) { pendingEnd = false; return }
      while (true) {
        if (pos >= lim && !more()) eof()
        val a = buf
        var i = pos
        while (i < lim && { val b = a(i); b != '<' && b != '&' && b != '\r' }) i += 1
        if (i > pos) { dst.append(a, pos, i - pos); pos = i }
        if (i < lim) {
          val b = a(i)
          if (b == '&') entity(dst)
          else if (b == '\r') { pos += 1; dst += '\n'; if (nextIs('\n')) pos += 1 }
          else {
            pos += 1
            if (nextIs('/')) { pos += 1; endTag(); return }
            else if (nextIs('?')) skipInstruction()
            else if (nextIs('!')) { pos += 1; bang(dst) }
            else nestedElement()
          }
        }
      }
    }

    private def nestedElement(): Nothing = fail(s"element inside the text of <$top>")

    /** The structural skip: reads on to the first start tag named `target`
      * at byte `lo` or later and stops at its '<', unread; the number of
      * `target` start tags passed on the way is returned. The skip keeps
      * the markup state a full parse keeps (tags with their quoted
      * attribute values, comments, CDATA, processing instructions, the
      * open-element stack, with the same errors), so markup-like bytes
      * inside a comment, CDATA or a value are never taken for a tag; it
      * captures no attribute and decodes no text or entity. */
    def skipTo(lo: Long, target: Name): Long = {
      require(target.key != 0)
      pendingEnd = false
      var passed = 0L
      while (true) {
        var at = -1
        while (at < 0 && (pos < lim || more())) {
          val a = buf
          var i = pos
          while (i < lim && a(i) != '<') i += 1
          pos = i
          if (i < lim) at = i
        }
        if (at < 0) {
          if (depth > 0) eof()
          return passed
        }
        if (pos + 1 >= lim && !more()) { pos += 1; eof() }
        val b = buf(pos + 1)
        if (b == '/') { pos += 2; endTag() }
        else if (b == '?') { pos += 1; skipInstruction() }
        else if (b == '!') { pos += 2; bang(null) }
        else {
          var r = trySkipStartTag(target, lo)
          while (r < 0) { if (!more()) { pos += 1; eof() }; r = trySkipStartTag(target, lo) }
          if (r == 2) return passed
          passed += r
        }
      }
      passed
    }

    /** Skips the start tag whose '<' is at `pos`: -1, nothing consumed,
      * when the window ends inside it; 2, nothing consumed, when it is a
      * `target` at `lo` or later; else 1 for a `target` and 0 for any other
      * name, the tag consumed. */
    private def trySkipStartTag(target: Name, lo: Long): Int = {
      val a = buf
      val l = lim
      val start = pos + 1
      val end = scanName(a, start, l)
      if (end < 0) return -1
      val isTarget = nameKey == target.key
      if (isTarget && base + pos >= lo) return 2
      val whole = wholeKey
      var p = end
      var q = 0
      while (p < l) {
        val b = a(p)
        if (q != 0) {
          if (b == q) q = 0
          else if (b == '<') failAt(p, "'<' in an attribute value")
        } else if (b == '"' || b == '\'') q = b
        else if (b == '>' || b == '/') {
          if (b == '/') {
            if (p + 1 >= l) return -1
            if (a(p + 1) != '>') failAt(p + 1, "expected '>' after '/'")
          } else {
            setName(a, start, end)
            push(whole)
          }
          pos = if (b == '/') p + 2 else p + 1
          return if (isTarget) 1 else 0
        } else if (b == '<') failAt(p, "malformed name")
        p += 1
      }
      -1
    }

    /** Skips character data up to the next '<' or the end of input. */
    private def skipText(): Unit =
      while (pos < lim || more()) {
        val a = buf
        var i = pos
        while (i < lim && a(i) != '<' && a(i) != '&') i += 1
        pos = i
        if (i < lim) {
          if (a(i) == '<') return
          scratch.len = 0
          entity(scratch)
        }
      }

    private def startTag(): Unit = while (!tryStartTag()) if (!more()) eof()

    private def endTag(): Unit = while (!tryEndTag()) if (!more()) eof()

    /** Scans the name at `a(p)`; returns the index of the byte that ends it,
      * or -1 when the window `a(p until l)` ends first. */
    private def scanName(a: Array[Byte], p0: Int, l: Int): Int = {
      var p = p0
      var key = 0L
      var whole = 0L
      colon = -1
      while (p < l && !NameEnd(a(p) & 0xff)) {
        val b = a(p) & 0xff
        if (b == ':' && colon < 0) { colon = p; key = 0L } else key = key << 8 | b
        whole = whole << 8 | b
        p += 1
      }
      if (p >= l) return -1
      if (p == p0 || a(p) == '<' || a(p) == '"' || a(p) == '\'') failAt(p, "malformed name")
      nameKey = if (p - (if (colon < 0) p0 else colon + 1) > 8) 0L else key
      wholeKey = if (p - p0 > 8) 0L else whole
      p
    }

    /** Makes `a(start until end)`, just scanned, the current element name. */
    private def setName(a: Array[Byte], start: Int, end: Int): Unit = {
      name.len = 0
      name.append(a, start, end - start)
      local = if (colon < 0) 0 else colon - start + 1
      localKey = nameKey
    }

    /** Parses the start tag whose name starts at `pos`; false, with nothing
      * consumed, when the window ends inside it. */
    private def tryStartTag(): Boolean = {
      val a = buf
      val l = lim
      val start = pos
      val end = scanName(a, start, l)
      if (end < 0) return false
      setName(a, start, end)
      val whole = wholeKey
      var k = 0
      while (k < present.length) { present(k) = false; k += 1 }
      var p = end
      while (true) {
        while (p < l && isSpace(a(p))) p += 1
        if (p >= l) return false
        val b = a(p)
        if (b == '/') {
          if (p + 1 >= l) return false
          if (a(p + 1) != '>') failAt(p + 1, "expected '>' after '/'")
          pendingEnd = true
          pos = p + 2
          return true
        }
        if (b == '>') {
          push(whole)
          pos = p + 1
          return true
        }
        p = attribute(a, p, l)
        if (p < 0) return false
      }
      false
    }

    /** Parses one attribute at `a(p)`, keeping its value when `attrNames`
      * asks for it; the index after it, or -1 when the window ends inside. */
    private def attribute(a: Array[Byte], p0: Int, l: Int): Int = {
      var p = scanName(a, p0, l)
      if (p < 0) return -1
      var i = -1
      // namespace declarations (xmlns:p="…") are not attributes
      if (nameKey != 0 && !(colon - p0 == Xmlns.length && sameBytes(a, p0, Xmlns, Xmlns.length))) {
        var k = 0
        while (k < attrNames.length && i < 0) {
          if (nameKey == attrNames(k).key) i = k
          k += 1
        }
      }
      while (p < l && isSpace(a(p))) p += 1
      if (p >= l) return -1
      if (a(p) != '=') failAt(p, "expected '=' after an attribute name")
      p += 1
      while (p < l && isSpace(a(p))) p += 1
      if (p >= l) return -1
      val q = a(p)
      if (q != '"' && q != '\'') failAt(p, "expected a quoted attribute value")
      val dst = if (i >= 0 && !present(i)) values(i) else null
      if (dst != null) { present(i) = true; dst.len = 0 }
      attrValue(a, p + 1, l, q, dst)
    }

    /** An attribute value up to the quote `q`, entity-decoded and
      * white-space-normalized into `dst`, or only checked when `dst` is
      * null; the index after the quote, or -1 when the window ends first. */
    private def attrValue(a: Array[Byte], p0: Int, l: Int, q: Byte, dst: Bytes): Int = {
      var p = p0
      while (true) {
        val s = p
        while (p < l && { val b = a(p)
            b != q && b != '<' && b != '&' && b != '\n' && b != '\t' && b != '\r' }) p += 1
        if (dst != null) dst.append(a, s, p - s)
        if (p >= l) return -1
        val b = a(p)
        if (b == q) return p + 1
        if (b == '<') failAt(p, "'<' in an attribute value")
        if (b == '&') {
          p = entityAt(a, p + 1, l, if (dst != null) dst else { scratch.len = 0; scratch })
          if (p < 0) return -1
        } else {
          if (b == '\r') { // CRLF is one line end
            if (p + 1 >= l) return -1
            if (a(p + 1) == '\n') p += 1
          }
          if (dst != null) dst += ' '
          p += 1
        }
      }
      -1
    }

    private def push(whole: Long): Unit = {
      if (depth == ends.length) {
        ends = java.util.Arrays.copyOf(ends, depth * 2)
        openKeys = java.util.Arrays.copyOf(openKeys, depth * 2)
      }
      open.append(name.arr, 0, name.len)
      ends(depth) = open.len
      openKeys(depth) = whole
      depth += 1
    }

    /** Parses the end tag whose name starts at `pos`, which must close the
      * innermost open element; false when the window ends inside it. */
    private def tryEndTag(): Boolean = {
      val a = buf
      val l = lim
      val start = pos
      val end = scanName(a, start, l)
      if (end < 0) return false
      var p = end
      while (p < l && isSpace(a(p))) p += 1
      if (p >= l) return false
      if (a(p) != '>') failAt(p, "expected '>' in an end tag")
      setName(a, start, end)
      if (depth == 0) unmatched()
      val from = if (depth > 1) ends(depth - 2) else 0
      val openKey = openKeys(depth - 1)
      if (if (openKey != 0) openKey != wholeKey
          else open.len - from != name.len || !sameBytes(open.arr, from, name.arr, name.len))
        unmatched()
      depth -= 1
      open.len = from
      pos = p + 1
      true
    }

    private def unmatched(): Nothing =
      fail(s"</${name.string(0, name.len)}> " +
        (if (depth == 0) "closes no element" else s"does not close <$top>"))

    /** Skips a processing instruction, its '?' at `pos`. */
    private def skipInstruction(): Unit = {
      pos += 1
      var q = false
      while (true) {
        val b = need()
        if (b == '>' && q) return
        q = b == '?'
      }
    }

    /** After "<!": a comment (skipped), CDATA (appended to `dst` when given)
      * or a DTD (rejected). */
    private def bang(dst: Bytes): Unit = {
      val b = need()
      if (b == '-') {
        if (need() != '-') fail("malformed comment")
        var dashes = 0
        while (true) {
          val c = need()
          if (c == '>' && dashes >= 2) return
          dashes = if (c == '-') dashes + 1 else 0
        }
      } else if (b == '[') {
        var i = 0
        while (i < Cdata.length) { if (need() != Cdata(i)) fail("malformed CDATA section"); i += 1 }
        var brackets = 0
        while (true) {
          val c = need()
          if (c == '>' && brackets >= 2) { if (dst != null) dst.len -= 2; return }
          brackets = if (c == ']') brackets + 1 else 0
          if (dst != null) {
            if (c == '\r') { dst += '\n'; if (nextIs('\n')) pos += 1 } else dst += c
          }
        }
      } else if (b == 'D') fail("a DTD (<!DOCTYPE) is not allowed in a package part")
      else fail("malformed markup after '<!'")
    }

    /** Decodes the entity whose '&' is at `pos` into `dst`. */
    private def entity(dst: Bytes): Unit = {
      var p = entityAt(buf, pos + 1, lim, dst)
      while (p < 0) {
        if (!more()) eof()
        p = entityAt(buf, pos + 1, lim, dst)
      }
      pos = p
    }

    /** Decodes the predefined entity or character reference after an '&'
      * at `a(p - 1)` into `dst` as UTF-8; the index after its ';', or -1
      * (with `dst` untouched) when the window ends first. */
    private def entityAt(a: Array[Byte], p0: Int, l: Int, dst: Bytes): Int = {
      var p = p0
      if (p >= l) return -1
      if (a(p) == '#') {
        p += 1
        if (p >= l) return -1
        val hex = a(p) == 'x'
        if (hex) p += 1
        val digits = p
        var cp = 0
        while (p < l && a(p) != ';') {
          val b = a(p)
          val d =
            if (b >= '0' && b <= '9') b - '0'
            else if (hex && b >= 'a' && b <= 'f') b - 'a' + 10
            else if (hex && b >= 'A' && b <= 'F') b - 'A' + 10
            else failAt(p, "malformed character reference")
          cp = cp * (if (hex) 16 else 10) + d
          if (cp > 0x10FFFF) failAt(p, "character reference beyond U+10FFFF")
          p += 1
        }
        if (p >= l) return -1
        if (p == digits || !isXmlChar(cp))
          failAt(p, s"character reference to U+${Integer.toHexString(cp)}, not an XML character")
        dst.appendCodePoint(cp)
      } else {
        while (p < l && a(p) != ';' && p - p0 < 6) p += 1
        if (p >= l) return -1
        val n = p - p0
        def named(e: Array[Byte]): Boolean = n == e.length && sameBytes(a, p0, e, n)
        dst += (
          if (a(p) != ';') failAt(p0, s"undeclared entity &${new String(a, p0, n, UTF_8)}…")
          else if (named(Lt)) '<'
          else if (named(Gt)) '>'
          else if (named(Amp)) '&'
          else if (named(Quot)) '"'
          else if (named(Apos)) '\''
          else failAt(p0, s"undeclared entity &${new String(a, p0, n, UTF_8)};"))
      }
      p + 1
    }
  }

  private final val Cdata = ascii("CDATA[")

  /** Opens `entry` and hands the scanner to `onStart` at every start tag. */
  private def eachStart(zip: ZipFile, entry: ZipEntry, cap: Long,
      attrNames: Array[Name])(onStart: XmlScanner => Unit): Unit = {
    val stream = entryStream(zip, entry, cap)
    try {
      val xml = new XmlScanner(stream, zip.getName, entry.getName, attrNames)
      var ev = xml.next()
      while (ev != Eof) { if (ev == Start) onStart(xml); ev = xml.next() }
    } finally stream.close()
  }

  private final val Relationship = new Name("Relationship")
  private final val Sheet = new Name("sheet")

  /** Workbook sheet list in declared order. Targets resolve through
    * xl/_rels/workbook.xml.rels (sheet N is NOT guaranteed to live in
    * sheetN.xml — the rels indirection is part of the OPC format). */
  def listSheets(zip: ZipFile, cap: Long): Seq[SheetInfo] = {
    val rels = scala.collection.mutable.Map.empty[String, String]
    val relsEntry = zip.getEntry("xl/_rels/workbook.xml.rels")
    if (relsEntry != null)
      eachStart(zip, relsEntry, cap, Array(new Name("Id"), new Name("Target"))) { xml =>
        if (xml.is(Relationship)) {
          val id = xml.attrString(0)
          val target = xml.attrString(1)
          if (id != null && target != null)
            rels(id) = if (target.startsWith("/")) target.drop(1)
              else if (target.startsWith("xl/")) target else s"xl/$target"
        }
      }
    val out = ArrayBuffer.empty[SheetInfo]
    // the r:id attribute is namespaced; it matches by local name
    eachStart(zip, requireEntry(zip, "xl/workbook.xml"), cap,
        Array(new Name("name"), new Name("id"))) { xml =>
      if (xml.is(Sheet)) {
        val target = Option(xml.attrString(1)).flatMap(rels.get)
          .getOrElse(s"xl/worksheets/sheet${out.size + 1}.xml")
        out += SheetInfo(xml.attrString(0), target)
      }
    }
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

  private final val Si = new Name("si")
  private final val T = new Name("t")

  /** sharedStrings.xml → dense array; every `<t>` of an `<si>` — rich-text
    * runs and phonetic `<rPh>` runs alike — concatenates. */
  def sharedStrings(zip: ZipFile, cap: Long): Array[String] = {
    val entry = zip.getEntry("xl/sharedStrings.xml")
    if (entry == null) return Array.empty
    val out = ArrayBuffer.empty[String]
    val text = new Bytes(256)
    var inItem = false
    val stream = entryStream(zip, entry, cap)
    try {
      val xml = new XmlScanner(stream, zip.getName, entry.getName, Array.empty[Name])
      var ev = xml.next()
      while (ev != Eof) {
        if (ev == Start) {
          if (xml.is(Si)) { inItem = true; text.len = 0 }
          else if (inItem && xml.is(T)) xml.text(text)
        } else if (inItem && xml.is(Si)) {
          out += decodeCellEscapes(text.string(0, text.len))
          inItem = false
        }
        ev = xml.next()
      }
    } finally stream.close()
    out.toArray
  }

  /** 0-based column index of the letters a cell reference starts with
    * ("BC12" → 54); any reference past XFD saturates at [[MaxColumns]]. */
  def colIndex(ref: String): Int = {
    val b = ascii(ref)
    colIndex(b, b.length)
  }

  private def colIndex(ref: Array[Byte], len: Int): Int = {
    var i = 0
    var acc = 0
    while (i < len && acc <= MaxColumns && {
        val c = ref(i) | 0x20; c >= 'a' && c <= 'z' }) {
      acc = acc * 26 + ((ref(i) | 0x20) - 'a' + 1)
      i += 1
    }
    math.min(acc, MaxColumns + 1) - 1
  }

  private final val C = new Name("c")
  private final val V = new Name("v")
  private final val Row = new Name("row")
  private final val SharedType = ascii("s")
  private final val BoolType = ascii("b")
  private final val InlineType = ascii("inlineStr")
  private final val TrueUtf8 = UTF8String.fromString("TRUE")
  private final val FalseUtf8 = UTF8String.fromString("FALSE")

  // cell kinds of SheetRows
  private final val NoValue: Byte = 0
  private final val Raw: Byte = 1
  private final val InlineText: Byte = 2
  private final val SharedIndex: Byte = 3
  private final val BoolValue: Byte = 4

  /** Pull-based sheet row reader: one [[next]] per `<row>` (both `</row>`
    * and `<row/>` end one), then the row rendered by [[strings]] or
    * [[utf8]] — or, for a pass that only needs the row's [[width]], not at
    * all. Cells render to display strings: t="s" via the shared table
    * (index trimmed, parsed and bounds-checked while the row is read),
    * t="b" as TRUE/FALSE to match POI's formatted output, t="inlineStr"
    * through [[decodeCellEscapes]], every other type as its raw text, a
    * cell with no value as "". A `<v>` sets the value and every `<t>` in
    * the cell (rich-text and phonetic runs too) appends to it; a `<c>`
    * without `r` takes the previous column + 1; sparse gaps fill with ""
    * (the blank-normalization contract); a `<c>` outside a `<row>` belongs
    * to no row. A column past XFD is an error.
    *
    * [[range]] restricts the reader to the rows whose `<row` tag starts in
    * a byte range of the part, so that readers over ranges that tile the
    * part read each row exactly once between them.
    *
    * @param sharedCount size of the shared-string table the renderers get */
  final class SheetRows(zip: ZipFile, entry: ZipEntry, sharedCount: Int,
      cap: Long) extends AutoCloseable {
    private val stream = entryStream(zip, entry, cap)
    private val xml = new XmlScanner(stream, zip.getName, entry.getName,
      Array(new Name("r"), T))
    private val text = new Bytes(1 << 12) // the row's raw and inline values
    private var n = 0 // cells in the current row
    private var cols = new Array[Int](32)
    private var kinds = new Array[Byte](32)
    private var offs = new Array[Int](32) // value start in `text`, shared index or 0/1
    private var ends = new Array[Int](32)
    private var maxCol = -1
    private var rowStarts = 0L // `<row>` tags read or skipped so far
    private var stopAt = Long.MaxValue // no row starting here or later is read
    private var done = false

    /** 0-based place in the part of the row [[next]] read last. */
    def ordinal: Long = rowStarts - 1

    /** From here on, reads only the rows whose `<row` starts at byte `lo`
      * or later and before byte `hi`; the rows between are passed by the
      * structural skip ([[XmlScanner.skipTo]]) but still counted in
      * [[ordinal]]. The last row read is read to its end, past `hi`, and
      * so is the markup after it up to the next `<row`: over ranges that
      * tile the part, every byte is parsed in full by exactly one reader
      * (the one at `lo` = 0 parses the part's head). */
    def range(lo: Long, hi: Long): Unit = {
      if (lo > 0 && !done) rowStarts += xml.skipTo(lo, Row)
      stopAt = hi
    }

    /** Reads the next physical row; false at the end of the sheet or of
      * the [[range]]. */
    def next(): Boolean = {
      if (done) return false
      n = 0
      text.len = 0
      maxCol = -1
      var col = -1
      var kind = Raw
      var start = 0
      var hasValue = false
      var inCell = false
      while (true) {
        val ev = xml.next()
        if (ev == Eof) { done = true; return false }
        if (ev == Start) {
          if (xml.is(Row)) {
            if (xml.tagAt >= stopAt) { done = true; return false }
            rowStarts += 1
            n = 0
            text.len = 0
            maxCol = -1
            col = -1
            inCell = false
          } else if (xml.is(C)) {
            inCell = true
            val r = xml.attr(0)
            col = if (r != null) colIndex(r.arr, r.len) else col + 1
            if (col >= MaxColumns) pastXfd()
            val t = xml.attr(1)
            kind =
              if (t == null) Raw
              else if (t.is(0, SharedType)) SharedIndex
              else if (t.is(0, BoolType)) BoolValue
              else if (t.is(0, InlineType)) InlineText
              else Raw
            start = text.len
            hasValue = false
          } else if (inCell && xml.is(V)) {
            text.len = start
            xml.text(text)
            hasValue = true
          } else if (inCell && xml.is(T)) {
            xml.text(text)
            hasValue = true
          }
        } else if (inCell && xml.is(C)) {
          inCell = false
          addCell(col, if (hasValue) kind else NoValue, start)
        } else if (xml.is(Row)) return true
      }
      false
    }

    private def addCell(col: Int, kind: Byte, start: Int): Unit = {
      if (n == cols.length) {
        cols = java.util.Arrays.copyOf(cols, n * 2)
        kinds = java.util.Arrays.copyOf(kinds, n * 2)
        offs = java.util.Arrays.copyOf(offs, n * 2)
        ends = java.util.Arrays.copyOf(ends, n * 2)
      }
      cols(n) = col
      kinds(n) = kind
      offs(n) = start
      ends(n) = text.len
      if (kind == SharedIndex || kind == BoolValue) {
        trim(start)
        offs(n) =
          if (kind == BoolValue) { if (hi - lo == 1 && text.arr(lo) == '1') 1 else 0 }
          else {
            val i = sharedIndex()
            if (i < 0 || i >= sharedCount) badIndex(i)
            i
          }
        text.len = start
      }
      maxCol = math.max(maxCol, col)
      n += 1
    }

    private def pastXfd(): Nothing =
      xml.fail(s"cell past column XFD, the last of $MaxColumns columns")

    private def badIndex(i: Int): Nothing =
      xml.fail(s"shared-string index $i out of range ($sharedCount strings)")

    // the value being added, bounded as `String.trim` would cut it
    private var lo = 0
    private var hi = 0

    private def trim(start: Int): Unit = {
      lo = start
      hi = text.len
      while (lo < hi && (text.arr(lo) & 0xff) <= ' ') lo += 1
      while (hi > lo && (text.arr(hi - 1) & 0xff) <= ' ') hi -= 1
    }

    /** The trimmed value as `Integer.parseInt` reads it; up to nine ASCII
      * digits without building a String. */
    private def sharedIndex(): Int = {
      val a = text.arr
      var i = 0
      var k = lo
      while (k < hi && hi - lo <= 9 && a(k) >= '0' && a(k) <= '9') {
        i = i * 10 + (a(k) - '0')
        k += 1
      }
      if (k == hi && hi > lo) i else text.string(lo, hi).toInt
    }

    /** Columns in the current row: its highest cell column + 1. */
    def width: Int = maxCol + 1

    /** Fills `row`, of [[width]] cells, with the current row. */
    private def render[A <: AnyRef](row: Array[A], blank: A, shared: Array[A], yes: A,
        no: A, value: (Int, Int, Boolean) => A): Array[A] = {
      java.util.Arrays.fill(row.asInstanceOf[Array[AnyRef]], blank)
      var k = 0
      while (k < n) {
        val c = cols(k)
        if (c >= 0) row(c) = kinds(k) match {
          case NoValue => blank
          case SharedIndex => shared(offs(k))
          case BoolValue => if (offs(k) == 1) yes else no
          case kind => value(offs(k), ends(k), kind == InlineText)
        }
        k += 1
      }
      row
    }

    /** The current row as Strings; `shared` is the table of `sharedCount`. */
    def strings(shared: Array[String]): Array[String] =
      render(new Array[String](width), "", shared, "TRUE", "FALSE", { (from, until, inline) =>
        val s = text.string(from, until)
        if (inline) decodeCellEscapes(s) else s
      })

    /** The current row as UTF8Strings: views into one copy of the row's
      * bytes, with no String in between (except an inline string holding
      * `_x`). */
    def utf8(shared: Array[UTF8String]): Array[UTF8String] = {
      var bytes: Array[Byte] = null
      render(new Array[UTF8String](width), UTF8String.EMPTY_UTF8, shared, TrueUtf8, FalseUtf8,
        { (from, until, inline) =>
          if (inline && hasEscape(from, until))
            UTF8String.fromString(decodeCellEscapes(text.string(from, until)))
          else {
            if (bytes == null) bytes = java.util.Arrays.copyOf(text.arr, text.len)
            UTF8String.fromBytes(bytes, from, until - from)
          }
        })
    }

    private def hasEscape(from: Int, until: Int): Boolean = {
      var i = from
      while (i + 1 < until && !(text.arr(i) == '_' && text.arr(i + 1) == 'x')) i += 1
      i + 1 < until
    }

    override def close(): Unit = stream.close()
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
    headerRow: Int,
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
      headerRow = get("headerRow").map(_.toInt).getOrElse(0),
      maxEntrySizeBytes = get("maxEntrySizeBytes").map(_.toLong)
        .getOrElse(6L * 1024 * 1024 * 1024),
      minInflateRatio = get("minInflateRatio").map(_.toDouble).getOrElse(0.01))
  }
}

/** `spark.read.format("xlsx")` — a minimal DataSource V2 over
  * [[XlsxParsing]]. All columns are StringType (the reference's universal
  * all-string row model, T1/T5); header row names columns with the
  * index-fallback rule (S4).
  *
  * Partitioning. A deflate stream cannot be entered mid-way, but its
  * inflated bytes can be split: each sheet is read as K row ranges by
  * inflated byte offset. K follows Spark's own file-split rule over the
  * `spark.sql.files.*` confs, with each sheet's uncompressed size `S`
  * from the zip central directory as its file length: ranges of
  * `min(maxPartitionBytes, max(openCostInBytes, total / minPartitionNum))`
  * bytes, so a sheet under 4 MB is one partition at Spark's defaults.
  * Range `[lo, hi)` inflates the sheet from its start, passes `[0, lo)` with
  * the scanner's exact structural skip, and reads every row whose `<row`
  * tag starts in the range, the last one to its end. The last range is
  * unbounded, so the ranges tile the part whatever its real byte count,
  * and every row is read by exactly one range. A workbook directory is
  * planned the same way over all its files; `unionSheets=true` reads every
  * sheet of each file (header row consumed per sheet; narrower sheets pad
  * with ""), all under the inferred schema.
  *
  * A row's place in its sheet, not its range, decides how it is treated:
  * the sheet's first row is the header under `header=true`, and
  * `headerRow=N` drops the first N non-blank data rows of each sheet (the
  * converter's preamble skip, T3); a range parses the sheet in full until
  * it has seen those N rows, then skips structurally.
  *
  * Order guarantee ([[graft.etl.Convert]] relies on it in place of a
  * sort): partitions follow file-name order, then sheet order under
  * `unionSheets`, then range order, and each reader emits its rows in
  * sheet order. */
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
      val rows = new XlsxParsing.SheetRows(zip, entry, shared.length, opts.maxEntrySizeBytes)
      try {
        // width = max over header AND data rows: the reference names
        // positions beyond the header by their index
        // (core/writers/JsonDataWriter.java:151-154). Only the header is
        // rendered; the data rows are parsed and checked for their width.
        val header: Array[String] =
          if (opts.header && rows.next()) rows.strings(shared) else Array.empty
        var width = header.length
        while (rows.next()) width = math.max(width, rows.width)
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
    // the sheets to read and their inflated sizes: only each workbook's
    // central directory and workbook.xml are read, on the driver
    val sheets = XlsxParsing.listFiles(path).flatMap { f =>
      val zip = new ZipFile(f)
      try {
        XlsxParsing.checkEntries(zip, f, opts.maxEntrySizeBytes, opts.minInflateRatio)
        val all = XlsxParsing.listSheets(zip, opts.maxEntrySizeBytes)
        val read =
          if (opts.unionSheets) all.map(s => (Some(s.name), s))
          else Seq((None, XlsxParsing.resolveSheet(all, opts.sheetName, opts.sheetIndex)))
        read.map { case (pinned, s) =>
          (f, pinned, Option(zip.getEntry(s.target)).fold(0L)(e => math.max(e.getSize, 0L)))
        }
      } finally zip.close()
    }
    sheets.zip(XlsxScan.ranges(SparkSession.active, sheets.map(_._3))).flatMap {
      case ((f, pinned, _), ranges) =>
        ranges.map { case (lo, hi) => XlsxRangePartition(f, pinned, lo, hi): InputPartition }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val ordinals = required.fieldNames.map(tableSchema.fieldIndex)
    new XlsxReaderFactory(ordinals, opts)
  }
}

private[sources] object XlsxScan {
  /** Spark's file-split rule (`FilePartition.maxSplitBytes` over the
    * `spark.sql.files.*` confs) applied to sheets of these inflated sizes:
    * the `[lo, hi)` byte ranges of each sheet, in order, the last one
    * unbounded. */
  def ranges(spark: SparkSession, sizes: Seq[Long]): Seq[Seq[(Long, Long)]] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val split = math.max(1L, FilePartition.maxSplitBytes(spark, sizes.map(_ + openCost).sum))
    sizes.map { size =>
      val k = math.max(1L, (size + split - 1) / split)
      (0L until k).map(i => (i * split, if (i == k - 1) Long.MaxValue else (i + 1) * split))
    }
  }
}

/** Rows of one sheet whose `<row` tag starts in `[lo, hi)`; `sheet` pins
  * the sheet under `unionSheets`, else the options resolve it. */
private[sources] final case class XlsxRangePartition(file: String,
    sheet: Option[String], lo: Long, hi: Long) extends InputPartition

private[sources] class XlsxReaderFactory(ordinals: Array[Int], opts: XlsxOptions)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    new XlsxPartitionReader(partition.asInstanceOf[XlsxRangePartition], ordinals, opts)
  }
}

/** Streams one range of a workbook's sheet: guard pass → sheet resolve →
  * shared strings → row pull. Rows materialize only the pruned `ordinals`
  * (pad with "" past the physical row end); rows whose cells are ALL blank
  * — judged on the FULL physical row, projection-independent (T2,
  * core/poi/CatmePoiSheetContentsHandler.java:122-125) — are dropped, as
  * are the header and the first `headerRow` non-blank data rows. */
private[sources] class XlsxPartitionReader(part: XlsxRangePartition,
    ordinals: Array[Int], opts: XlsxOptions) extends PartitionReader[InternalRow] {

  private val zip = new ZipFile(part.file)
  XlsxParsing.checkEntries(zip, part.file, opts.maxEntrySizeBytes, opts.minInflateRatio)
  // a pinned sheet is the one this unionSheets partition owns; otherwise
  // the usual name/index resolution
  private val sheet = XlsxParsing.resolveSheet(
    XlsxParsing.listSheets(zip, opts.maxEntrySizeBytes),
    part.sheet.orElse(opts.sheetName), if (part.sheet.isDefined) 0 else opts.sheetIndex)
  // encoded once per reader: cells are handed to Spark as these instances
  private val shared = XlsxParsing.sharedStrings(zip, opts.maxEntrySizeBytes)
    .map(UTF8String.fromString)
  private val rows = {
    val entry = zip.getEntry(sheet.target)
    require(entry != null, s"Sheet target ${sheet.target} missing from ${part.file}")
    new XlsxParsing.SheetRows(zip, entry, shared.length, opts.maxEntrySizeBytes)
  }

  private var current: Array[UTF8String] = _

  /** The next non-blank data row of the sheet into `current`. */
  private def nextDataRow(): Boolean = {
    while (rows.next()) {
      if (!(opts.header && rows.ordinal == 0)) {
        current = rows.utf8(shared)
        if (current.exists(_.numBytes > 0)) return true // T2 empty-row drop
      }
    }
    current = null
    false
  }

  // which rows the preamble skip drops is known only in sheet order, so
  // every range reads the sheet's prefix in full until it has passed them
  private var skipped = 0
  while (skipped < opts.headerRow && nextDataRow()) skipped += 1
  rows.range(part.lo, part.hi)

  override def next(): Boolean = nextDataRow()

  override def get(): InternalRow = {
    val vals = new Array[Any](ordinals.length)
    var i = 0
    while (i < ordinals.length) {
      val c = ordinals(i)
      vals(i) = if (c < current.length) current(c) else UTF8String.EMPTY_UTF8
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = {
    rows.close()
    zip.close()
  }
}
