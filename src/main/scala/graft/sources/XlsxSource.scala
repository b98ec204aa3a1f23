package graft.sources

import java.io.{File, InputStream, InputStreamReader, PushbackInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.{UTF_16, UTF_16BE, UTF_16LE, UTF_8}
import java.util.zip.{ZipEntry, ZipException, ZipFile}

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipFile => CommonsZipFile}
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

/** Streaming .xlsx parsing: a raw-deflate decoder of its own, a
  * byte-level SpreadsheetML scanner — no POI, no StAX.
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
  *    count of the bytes ACTUALLY inflated, checked DURING inflate, because
  *    a crafted central directory can lie (S7/S8;
  *    core/FallbackZipExtractor.java:31-32,91-165,
  *    core/SafePOIEntryStreamer.java:54-90).
  *
  * Entries are looked up and guarded in the central directory as
  * commons-compress reads it, and every part (workbook, its rels, shared
  * strings, sheets) is inflated by [[RawInflate]] from the entry's raw
  * bytes ([[XlsxPackage]]); the calls that take a JDK `ZipFile` open a
  * package over its file. The JDK's inflater cannot start inside a
  * stream; this one can start at any deflate block whose bit offset and
  * 32 KB history were recorded, which is what lets a range of a sheet
  * start near its first row ([[AccessPoint]]).
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
  * part's size. A corrupt deflate stream ends in a `ZipException`.
  *
  * Memory contract: per open part one decoder (a 64 KB input buffer and a
  * window of at most 256 KB, of which 32 KB is history) and one 64 KB scan
  * window (larger only while a single tag is), one row's cells at a time, the
  * shared-strings array resident (the reference holds the same table; its
  * "lazy provider" S6 trades that residency for re-parses). Schema
  * inference also holds the 32 KB history of each access point it takes,
  * and of at most 16 block starts the decoder is ahead of the scanner.
  */
object XlsxParsing {

  final case class SheetInfo(name: String, target: String)

  /** SpreadsheetML's column limit: column XFD. */
  final val MaxColumns = 16384

  /** [[XlsxPackage.checkEntries]] over `zip`'s file (which `file` names). */
  def checkEntries(zip: ZipFile, file: String, maxEntrySizeBytes: Long,
      minInflateRatio: Double): Unit =
    using(zip)(_.checkEntries(maxEntrySizeBytes, minInflateRatio))

  /** Where a deflate block starts: its bit offset in the entry's compressed
    * data, its offset in the inflated data, and the inflated bytes before it
    * that a match may still reach (the last 32 KB, fewer near the start).
    * [[RawInflate]] can resume decoding there. */
  private[sources] final case class BlockStart(bit: Long, out: Long, history: Array[Byte])

  private[sources] object BlockStart {
    val Origin = BlockStart(0L, 0L, Array.emptyByteArray)
  }

  /** A raw-deflate (RFC 1951) decoder: `in` holds an entry's compressed
    * bytes from byte `start.bit / 8` on, and decoding starts at the block
    * `start` names, with its history in the window. With `stored`, the
    * entry is not compressed and `in` holds its bytes as they are.
    *
    * Stored, fixed-code and dynamic-code blocks are decoded with two-level
    * lookup tables (a 10-bit root for literal/lengths, 8-bit for distances)
    * into a window that grows to 256 KB and then slides, keeping its last
    * 32 KB as the match history. The inflated offset is counted against
    * `cap`, with the entry-size cap's exception. A malformed stream — a
    * bad block type, code lengths that over-subscribe or leave a code
    * incomplete, a repeat with nothing to repeat, an invalid symbol, a
    * distance before the output start, a stored block whose lengths
    * disagree, or input that ends before the final block — raises a
    * `ZipException`; every step consumes input or produces output, so
    * decoding ends in time linear in the input and the output.
    *
    * With [[track]] set, block starts are recorded, with their history,
    * until [[blockAt]] or [[prune]] drops them: a block start at least 32 KB
    * of output after the last one recorded, while fewer than 16 are pending
    * (at most 512 KB of history). A block start not recorded only makes a
    * later [[blockAt]] return an earlier one. */
  private[sources] final class RawInflate(in: InputStream, start: BlockStart, stored: Boolean,
      cap: Long, name: String) extends InputStream {
    import RawInflate._

    // compressed input: inBuf(inPos until inLim), inBuf(0) at offset inBase
    private val inBuf = new Array[Byte](1 << 16)
    private val inWords = ByteBuffer.wrap(inBuf).order(ByteOrder.LITTLE_ENDIAN)
    private var inPos = 0
    private var inLim = 0
    private var inBase = start.bit >>> 3
    // the bit buffer, least significant bit first; bits above `nBits` are
    // either 0 or the next input bits, so a refill can OR over them
    private var bits = 0L
    private var nBits = 0
    // output: win(0 until wpos), win(0) at inflated offset winBase; the
    // reader has taken win(0 until rpos). The window starts small, for the
    // many small parts, and doubles up to WinSize before it slides.
    private var win = new Array[Byte](math.max(1 << 12, 2 * start.history.length))
    private var winBase = start.out - start.history.length
    private var wpos = start.history.length
    private var rpos = wpos
    System.arraycopy(start.history, 0, win, 0, wpos)

    private var state = if (stored) Plain else Header
    private var last = false
    private var storedLeft = 0
    private var copyLen = 0 // the rest of a match the window end cut off
    private var copyDist = 0
    private var lit: Array[Int] = FixedLit
    private var litRoot = 9
    private var dist: Array[Int] = FixedDist
    private var distRoot = 5
    private var dynLit = new Array[Int](1 << 11)
    private var dynDist = new Array[Int](1 << 9)
    private val lens = new Array[Int](320)
    private val clenTab = new Array[Int](1 << 7)

    if (!stored) { val skip = (start.bit & 7).toInt; if (skip > 0) { need(skip); drop(skip) } }

    /** Records block starts from here on. */
    var track = false
    private val starts = scala.collection.mutable.ArrayDeque.empty[BlockStart]

    /** The last recorded block start at inflated offset `out` or before;
      * the ones before it are dropped. For a stored entry, `out` itself. */
    def blockAt(out: Long): BlockStart =
      if (stored) BlockStart(out * 8, out, Array.emptyByteArray)
      else {
        prune(out)
        starts.headOption.filter(_.out <= out).orNull
      }

    /** Drops the recorded block starts a later [[blockAt]] at `out` or
      * beyond cannot return. */
    def prune(out: Long): Unit =
      while (starts.length > 1 && starts(1).out <= out) starts.removeHead()

    /** The block starts recorded and not dropped, in stream order. */
    def blockStarts: Seq[BlockStart] = starts.toSeq

    private def fail(what: String): Nothing =
      throw new ZipException(s"invalid deflate data in $name: $what")

    private def truncated(): Nothing = fail("unexpected end of input")

    /** Moves the unread input to the front of `inBuf` and reads more after
      * it; false when no input is left. */
    private def fillIn(): Boolean = {
      if (inPos > 0) {
        System.arraycopy(inBuf, inPos, inBuf, 0, inLim - inPos)
        inBase += inPos
        inLim -= inPos
        inPos = 0
      }
      val n = in.read(inBuf, inLim, inBuf.length - inLim)
      if (n > 0) inLim += n
      n > 0
    }

    /** Tops the bit buffer up to at least 56 bits, or to the end of input. */
    private def refill(): Unit = {
      if (inLim - inPos < 8) fillIn()
      if (inLim - inPos >= 8) {
        bits |= inWords.getLong(inPos) << nBits
        val take = (63 - nBits) >>> 3
        inPos += take
        nBits += take << 3
      } else
        while (nBits <= 56 && inPos < inLim) {
          bits |= (inBuf(inPos) & 0xffL) << nBits
          inPos += 1
          nBits += 8
        }
    }

    private def need(n: Int): Unit = if (nBits < n) { refill(); if (nBits < n) truncated() }

    private def drop(n: Int): Unit = { bits >>>= n; nBits -= n }

    private def take(n: Int): Int = {
      need(n)
      val v = (bits & ((1L << n) - 1)).toInt
      drop(n)
      v
    }

    /** The next symbol of the code in `tab` (root `root` bits). */
    private def decode(tab: Array[Int], root: Int): Int = {
      if (nBits < 15) refill()
      var e = tab((bits & ((1 << root) - 1)).toInt)
      if ((e & Link) != 0)
        e = tab((e >>> 16) + ((bits >>> root).toInt & ((1 << (e & 0xff)) - 1)))
      val l = e & 0xff
      if (l == 0) fail("invalid code")
      if (l > nBits) truncated()
      drop(l)
      e >>> 16
    }

    private def header(): Unit = {
      // a block start is kept only 32 KB of output after the last one kept,
      // and only while fewer than MaxStarts are pending, so that blocks
      // with little or no output cannot pile up history copies
      if (track && starts.length < MaxStarts &&
          (starts.isEmpty || winBase + wpos - starts.last.out >= History))
        starts += BlockStart((inBase + inPos) * 8 - nBits, winBase + wpos,
          java.util.Arrays.copyOfRange(win, math.max(0, wpos - History), wpos))
      val h = take(3)
      last = (h & 1) != 0
      h >>> 1 match {
        case 0 =>
          drop(nBits & 7)
          val len = take(16)
          if (take(16) != (~len & 0xffff)) fail("invalid stored block lengths")
          storedLeft = len
          state = Stored
        case 1 =>
          lit = FixedLit; litRoot = 9; dist = FixedDist; distRoot = 5
          state = Codes
        case 2 =>
          dynamicTables()
          state = Codes
        case _ => fail("invalid block type")
      }
    }

    private def dynamicTables(): Unit = {
      val nLit = take(5) + 257
      val nDist = take(5) + 1
      val nClen = take(4) + 4
      if (nLit > 286 || nDist > 30) fail("too many length or distance symbols")
      java.util.Arrays.fill(lens, 0, 19, 0)
      var i = 0
      while (i < nClen) { lens(ClenOrder(i)) = take(3); i += 1 }
      build(lens, 0, 19, 7, clenTab, incompleteOk = false, "code lengths")
      val total = nLit + nDist
      i = 0
      while (i < total) {
        val sym = decode(clenTab, 7)
        if (sym < 16) { lens(i) = sym; i += 1 }
        else {
          val (rep, v) = sym match {
            case 16 =>
              if (i == 0) fail("invalid bit length repeat")
              (3 + take(2), lens(i - 1))
            case 17 => (3 + take(3), 0)
            case _ => (11 + take(7), 0)
          }
          if (i + rep > total) fail("invalid bit length repeat")
          java.util.Arrays.fill(lens, i, i + rep, v)
          i += rep
        }
      }
      if (lens(256) == 0) fail("invalid code -- missing end-of-block")
      dynLit = build(lens, 0, nLit, 10, dynLit, incompleteOk = true, "literal/lengths")
      dynDist = build(lens, nLit, nDist, 8, dynDist, incompleteOk = true, "distances")
      lit = dynLit; litRoot = 10; dist = dynDist; distRoot = 8
    }

    /** Copies the rest of a stored block into the window, up to `limit`. */
    private def storedCopy(limit: Int): Unit = {
      while (storedLeft > 0 && nBits >= 8 && wpos < limit) {
        win(wpos) = bits.toByte
        wpos += 1
        drop(8)
        storedLeft -= 1
      }
      if (nBits == 0) bits = 0L // the bytes above were taken from the buffer
      while (storedLeft > 0 && wpos < limit) {
        if (inPos == inLim && !fillIn()) truncated()
        val n = math.min(math.min(storedLeft, limit - wpos), inLim - inPos)
        System.arraycopy(inBuf, inPos, win, wpos, n)
        inPos += n
        wpos += n
        storedLeft -= n
      }
      if (storedLeft == 0) state = Header
    }

    /** Copies a match of `len` bytes from `d` back, up to `limit`; what the
      * limit cuts off is kept for the next call. */
    private def copy(len: Int, d: Int, limit: Int): Unit = {
      val n = math.min(len, limit - wpos)
      val w = win
      var p = wpos
      var s = p - d
      if (d >= n && n >= 32) System.arraycopy(w, s, w, p, n)
      else {
        val end = p + n
        while (p < end) { w(p) = w(s); p += 1; s += 1 }
      }
      wpos += n
      copyLen = len - n
      copyDist = d
    }

    /** Decodes symbols of the current block into the window, up to `limit`. */
    private def codes(limit: Int): Unit = {
      if (copyLen > 0) copy(copyLen, copyDist, limit)
      while (copyLen == 0 && wpos < limit && state == Codes) {
        val sym = decode(lit, litRoot)
        if (sym < 256) { win(wpos) = sym.toByte; wpos += 1 }
        else if (sym == 256) state = Header
        else {
          if (sym > 285) fail("invalid literal/length code")
          val len = LenBase(sym - 257) + take(LenExtra(sym - 257))
          val ds = decode(dist, distRoot)
          if (ds >= 30) fail("invalid distance code")
          val d = DistBase(ds) + take(DistExtra(ds))
          if (d > wpos) fail("invalid distance too far back")
          copy(len, d, limit)
        }
      }
    }

    /** Decodes into the window until it holds unread output or the stream
      * ends; false at the end. */
    private def produce(): Boolean = {
      while (rpos == wpos && state != Done) {
        if (wpos == win.length && win.length < WinSize)
          win = java.util.Arrays.copyOf(win, math.min(2 * win.length, WinSize))
        else if (wpos == WinSize) {
          System.arraycopy(win, wpos - History, win, 0, History)
          winBase += wpos - History
          wpos = History
          rpos = History
        }
        while (wpos < win.length && state != Done) state match {
          case Header => if (last) state = Done else header()
          case Stored => storedCopy(win.length)
          case Codes => codes(win.length)
          case _ => // Plain
            val n = in.read(win, wpos, win.length - wpos)
            if (n < 0) state = Done else wpos += n
        }
        if (winBase + wpos > cap) throw new InputTooLargeException(
          s"Zip entry $name inflated beyond maxEntrySizeBytes=$cap")
      }
      rpos < wpos
    }

    override def read(): Int =
      if (rpos == wpos && !produce()) -1 else { rpos += 1; win(rpos - 1) & 0xff }

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (rpos == wpos && !produce()) -1
      else {
        val n = math.min(len, wpos - rpos)
        System.arraycopy(win, rpos, b, off, n)
        rpos += n
        n
      }

    override def skip(n: Long): Long = {
      var left = n
      while (left > 0 && (rpos < wpos || produce())) {
        val k = math.min(left, (wpos - rpos).toLong).toInt
        rpos += k
        left -= k
      }
      n - left
    }

    override def close(): Unit = in.close()
  }

  private[sources] object RawInflate {
    private final val WinSize = 1 << 18
    private final val History = 1 << 15
    private final val MaxStarts = 16
    private final val Link = 0x100

    private final val Header = 0
    private final val Stored = 1
    private final val Codes = 2
    private final val Plain = 3
    private final val Done = 4

    private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
      35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
    private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
      3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
    private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
      257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289, 16385, 24577)
    private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
      7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
    private val ClenOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

    /** The lookup table of the canonical code with lengths `lens(off until
      * off + n)`, in `into` or a larger array: entry `sym << 16 | length`,
      * or, for a root entry whose codes are longer than `root` bits, `start
      * << 16 | Link | subBits` pointing at a subtable; 0 where no code
      * decodes. A code must be complete, except that a literal/length or
      * distance code may be empty or a single one-bit code (as zlib
      * allows). */
    private def build(lens: Array[Int], off: Int, n: Int, root: Int, into: Array[Int],
        incompleteOk: Boolean, what: String): Array[Int] = {
      val count = new Array[Int](16)
      var max = 0
      var i = 0
      while (i < n) { val l = lens(off + i); count(l) += 1; if (l > max) max = l; i += 1 }
      count(0) = 0
      var left = 1
      var len = 1
      while (len <= 15) {
        left = (left << 1) - count(len)
        if (left < 0) throw new ZipException(s"invalid deflate data: over-subscribed $what code")
        len += 1
      }
      if (left > 0 && max > 0 && !(incompleteOk && max == 1))
        throw new ZipException(s"invalid deflate data: incomplete $what code")
      val next = new Array[Int](16)
      var code = 0
      len = 1
      while (len <= 15) { code = (code + count(len - 1)) << 1; next(len) = code; len += 1 }
      val rev = new Array[Int](n)
      val rootSize = 1 << root
      val subBits = new Array[Int](rootSize)
      i = 0
      while (i < n) {
        val l = lens(off + i)
        if (l > 0) {
          val r = Integer.reverse(next(l)) >>> (32 - l)
          next(l) += 1
          rev(i) = r
          if (l > root) { val p = r & (rootSize - 1); subBits(p) = math.max(subBits(p), l - root) }
        }
        i += 1
      }
      val subStart = new Array[Int](rootSize)
      var size = rootSize
      var p = 0
      while (p < rootSize) {
        if (subBits(p) > 0) { subStart(p) = size; size += 1 << subBits(p) }
        p += 1
      }
      val tab = if (into.length >= size) into else new Array[Int](size)
      java.util.Arrays.fill(tab, 0, size, 0)
      i = 0
      while (i < n) {
        val l = lens(off + i)
        if (l > 0) {
          val r = rev(i)
          val e = i << 16 | l
          if (l <= root) {
            var k = r
            while (k < rootSize) { tab(k) = e; k += 1 << l }
          } else {
            val q = r & (rootSize - 1)
            val sb = subBits(q)
            tab(q) = subStart(q) << 16 | Link | sb
            var k = r >>> root
            while (k < (1 << sb)) { tab(subStart(q) + k) = e; k += 1 << (l - root) }
          }
        }
        i += 1
      }
      tab
    }

    private val FixedLit: Array[Int] = {
      val l = Array.tabulate(288)(s => if (s < 144) 8 else if (s < 256) 9 else if (s < 280) 7 else 8)
      build(l, 0, 288, 9, new Array[Int](1 << 9), incompleteOk = false, "fixed")
    }
    private val FixedDist: Array[Int] =
      build(Array.fill(32)(5), 0, 32, 5, new Array[Int](1 << 5), incompleteOk = false, "fixed")
  }

  /** Bytes `[at, until)` of a file, read with positioned reads. */
  private final class ChannelSlice(ch: FileChannel, private var at: Long, until: Long)
      extends InputStream {
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (at >= until) -1
      else {
        val n = ch.read(ByteBuffer.wrap(b, off, math.min(len.toLong, until - at).toInt), at)
        if (n > 0) at += n
        n
      }
  }

  /** A workbook's entries, as commons-compress reads its central
    * directory, each inflated by [[RawInflate]] from its raw bytes. An
    * entry's local header is read only when the entry is opened, for where
    * its data starts. */
  private[sources] final class XlsxPackage(val file: String) extends AutoCloseable {
    private val ch = FileChannel.open(new File(file).toPath)
    private val raw =
      try CommonsZipFile.builder().setSeekableByteChannel(ch).setIgnoreLocalFileHeader(true).get()
      catch { case e: Throwable => ch.close(); throw e }

    /** The entry named `name`, or null. */
    def entry(name: String): ZipArchiveEntry = raw.getEntry(name)

    /** Central-directory guard pass over every entry — runs before any
      * entry is inflated (FallbackZipExtractor.java:146-150 /
      * ZipSecureFile caps). */
    def checkEntries(maxEntrySizeBytes: Long, minInflateRatio: Double): Unit = {
      val es = raw.getEntries
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

    /** The inflated bytes of `e`, from the start or from the block `from`
      * names; `cap` bounds the inflated offset. */
    def open(e: ZipArchiveEntry, cap: Long, from: BlockStart = BlockStart.Origin): RawInflate = {
      val stored = e.getMethod match {
        case ZipEntry.STORED => true
        case ZipEntry.DEFLATED => false
        case m => throw new ZipException(s"invalid compression method $m of ${e.getName}")
      }
      // reads the local header for the data offset (a stream that holds nothing)
      if (raw.getRawInputStream(e) == null)
        throw new ZipException(s"$file: no data offset for ${e.getName}")
      val at = e.getDataOffset
      new RawInflate(new ChannelSlice(ch, at + (from.bit >>> 3), at + e.getCompressedSize),
        from, stored, cap, e.getName)
    }

    override def close(): Unit = try raw.close() finally ch.close()
  }

  /** A package over the file a JDK `ZipFile` has open. */
  private def using[A](zip: ZipFile)(body: XlsxPackage => A): A = {
    val pkg = new XlsxPackage(zip.getName)
    try body(pkg) finally pkg.close()
  }

  private def requireEntry(pkg: XlsxPackage, name: String): ZipArchiveEntry = {
    val e = pkg.entry(name)
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
    * transcoded, so the scanner only ever sees UTF-8. With it, how many
    * bytes the part has ahead of the text's (3 after a BOM, else 0), or -1
    * when the text is transcoded and its offsets are not the part's. */
  private def utf8View(raw: InputStream): (InputStream, Int) = {
    val in = new PushbackInputStream(raw, 4)
    val head = in.readNBytes(4)
    def starts(bs: Int*): Boolean =
      head.length >= bs.length && bs.indices.forall(i => (head(i) & 0xff) == bs(i))
    val charset =
      if (starts(0xFE, 0xFF) || starts(0xFF, 0xFE)) Some(UTF_16) // the BOM picks the order
      else if (starts(0x3C, 0, 0x3F, 0)) Some(UTF_16LE)
      else if (starts(0, 0x3C, 0, 0x3F)) Some(UTF_16BE)
      else None
    val bom = starts(0xEF, 0xBB, 0xBF)
    if (bom) in.unread(head, 3, head.length - 3) else in.unread(head)
    charset.fold((in: InputStream, if (bom) 3 else 0))(cs =>
      (new Utf8Encoder(new InputStreamReader(in, cs)), -1))
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
      attrNames: Array[Name], from: AccessPoint = null) {
    require(attrNames.forall(_.key != 0))
    /** `in` is the text scanned; the part has `skew` bytes ahead of it
      * ([[utf8View]]). From an access point, `raw` is already there. */
    private val (in: InputStream, skew: Int) = if (from == null) utf8View(raw) else (raw, from.skew)
    private var buf = new Array[Byte](1 << 16)
    private var pos = 0
    private var lim = 0
    private var base = if (from == null) 0L else from.rowAt // offset of buf(0) in the text
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
    /** Offset in the text of the '<' of the tag [[next]] read last. */
    var tagAt = 0L
    /** Told, each time input is read, the offset of the first byte the
      * scanner still holds: no later tag starts before it. */
    var onRead: Long => Unit = null

    if (from != null) {
      open.append(from.open, 0, from.open.length)
      depth = from.ends.length
      ends = java.util.Arrays.copyOf(from.ends, math.max(16, depth))
      openKeys = java.util.Arrays.copyOf(from.keys, math.max(16, depth))
    }

    def textSkew: Int = skew

    // the open elements at the '<' of the start tag just read: without it
    private def outer: Int = if (pendingEnd) depth else depth - 1
    private def outerLen: Int = if (outer > 0) ends(outer - 1) else 0

    /** The elements open where the start tag just read begins: qnames back
      * to back, the end of each, their packed keys (what an [[AccessPoint]]
      * keeps). */
    def openNames: Array[Byte] = java.util.Arrays.copyOf(open.arr, outerLen)
    def openEnds: Array[Int] = java.util.Arrays.copyOf(ends, outer)
    def openKeyArray: Array[Long] = java.util.Arrays.copyOf(openKeys, outer)

    /** Whether [[openNames]] and [[openEnds]] would equal `names` and `until`. */
    def isOpen(names: Array[Byte], until: Array[Int]): Boolean =
      until.length == outer && names.length == outerLen &&
        sameBytes(open.arr, 0, names, names.length) &&
        java.util.Arrays.equals(until, 0, outer, ends, 0, outer)

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
      if (onRead != null) onRead(base)
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
  private def eachStart(pkg: XlsxPackage, entry: ZipArchiveEntry, cap: Long,
      attrNames: Array[Name])(onStart: XmlScanner => Unit): Unit = {
    val stream = pkg.open(entry, cap)
    try {
      val xml = new XmlScanner(stream, pkg.file, entry.getName, attrNames)
      var ev = xml.next()
      while (ev != Eof) { if (ev == Start) onStart(xml); ev = xml.next() }
    } finally stream.close()
  }

  /** Where a reader of a sheet can start without the sheet's prefix: at
    * the `<row` tag at offset `rowAt` of the part's text (offset `rowAt +
    * skew` of the part), with the scanner's open elements there, and the
    * `rows` row starts and `dataRows` counted data rows before it, decoded
    * from `block`, the last deflate block that starts at or before it. The
    * file, the entry's name, CRC-32 and sizes say which part it belongs to. */
  private[sources] final case class AccessPoint(file: String, part: String, crc: Long,
      size: Long, packed: Long, rowAt: Long, skew: Int, rows: Long, dataRows: Int,
      open: Array[Byte], ends: Array[Int], keys: Array[Long], block: BlockStart) {
    def fits(entry: ZipArchiveEntry): Boolean = entry.getName == part && entry.getCrc == crc &&
      entry.getSize == size && entry.getCompressedSize == packed
  }

  private final val Relationship = new Name("Relationship")
  private final val Sheet = new Name("sheet")

  /** Workbook sheet list in declared order. Targets resolve through
    * xl/_rels/workbook.xml.rels (sheet N is NOT guaranteed to live in
    * sheetN.xml — the rels indirection is part of the OPC format). */
  def listSheets(zip: ZipFile, cap: Long): Seq[SheetInfo] = using(zip)(listSheets(_, cap))

  /** The sheet list of the workbook `file`, read through one package. */
  def listSheets(file: String, cap: Long): Seq[SheetInfo] = {
    val pkg = new XlsxPackage(file)
    try listSheets(pkg, cap) finally pkg.close()
  }

  private[sources] def listSheets(pkg: XlsxPackage, cap: Long): Seq[SheetInfo] = {
    val rels = scala.collection.mutable.Map.empty[String, String]
    val relsEntry = pkg.entry("xl/_rels/workbook.xml.rels")
    if (relsEntry != null)
      eachStart(pkg, relsEntry, cap, Array(new Name("Id"), new Name("Target"))) { xml =>
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
    eachStart(pkg, requireEntry(pkg, "xl/workbook.xml"), cap,
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
  def sharedStrings(zip: ZipFile, cap: Long): Array[String] = using(zip)(sharedStrings(_, cap))

  private[sources] def sharedStrings(pkg: XlsxPackage, cap: Long): Array[String] = {
    val entry = pkg.entry("xl/sharedStrings.xml")
    if (entry == null) return Array.empty
    val out = ArrayBuffer.empty[String]
    val text = new Bytes(256)
    var inItem = false
    val stream = pkg.open(entry, cap)
    try {
      val xml = new XmlScanner(stream, pkg.file, entry.getName, Array.empty[Name])
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
    * @param part the sheet's entry name in `pkg`
    * @param sharedCount size of the shared-string table the renderers get
    * @param from an access point to start at, used only if it [[AccessPoint.fits]]
    *   the entry; else (and when null) the reader starts at the part's start
    * @param marks part offsets to take [[accessPoints]] at while reading
    * @param ownsPackage whether [[close]] closes `pkg` too */
  final class SheetRows(pkg: XlsxPackage, part: String, sharedCount: Int, cap: Long,
      from: AccessPoint, marks: Array[Long], ownsPackage: Boolean) extends AutoCloseable {

    /** Reads the part from its start, recording nothing. */
    def this(zip: ZipFile, entry: ZipEntry, sharedCount: Int, cap: Long) =
      this(new XlsxPackage(zip.getName), entry.getName, sharedCount, cap, null,
        Array.emptyLongArray, true)

    private val entry = pkg.entry(part)
    require(entry != null, s"Sheet target $part missing from ${pkg.file}")

    private val start = if (from != null && from.fits(entry)) from else null
    private val stream = pkg.open(entry, cap, if (start != null) start.block else BlockStart.Origin)
    stream.track = marks.nonEmpty
    if (start != null) stream.skipNBytes(start.rowAt + start.skew - start.block.out)
    private val xml = new XmlScanner(stream, pkg.file, part,
      Array(new Name("r"), T), start)
    private val text = new Bytes(1 << 12) // the row's raw and inline values
    private var n = 0 // cells in the current row
    private var cols = new Array[Int](32)
    private var kinds = new Array[Byte](32)
    private var offs = new Array[Int](32) // value start in `text`, shared index or 0/1
    private var ends = new Array[Int](32)
    private var maxCol = -1
    private var rowStarts = if (start != null) start.rows else 0L // `<row>` tags read or skipped
    private var stopAt = Long.MaxValue // no row starting here or later is read
    private var done = false

    /** Data rows the caller has counted (the `headerRow` skip's count); an
      * access point keeps it for the rows before it. */
    var dataRows: Int = if (start != null) start.dataRows else 0

    // access points: the next mark to take one at, and the last row start
    // at or before it, with the state there; a transcoded part gets none
    private var mark = if (xml.textSkew < 0) marks.length else 0
    private val points = ArrayBuffer.empty[AccessPoint]
    private var candAt = -1L
    private var candRows = 0L
    private var candData = 0
    private var candBlock: BlockStart = null
    private var candOpen: Array[Byte] = null
    private var candEnds: Array[Int] = null
    private var candKeys: Array[Long] = null
    if (mark < marks.length) xml.onRead = at => stream.prune(at + xml.textSkew)
    else stream.track = false

    /** A `<row` starts at `at`: the candidate for the current mark, or, past
      * it, the previous candidate is that mark's access point. */
    private def note(at: Long): Unit = {
      while (mark < marks.length && at > marks(mark)) { keep(); mark += 1 }
      if (mark < marks.length) {
        candAt = at
        candRows = rowStarts
        candData = dataRows
        candBlock = stream.blockAt(at + xml.textSkew)
        if (candOpen == null || !xml.isOpen(candOpen, candEnds)) {
          candOpen = xml.openNames
          candEnds = xml.openEnds
          candKeys = xml.openKeyArray
        }
      } else {
        stream.track = false
        xml.onRead = null
      }
    }

    private def keep(): Unit =
      if (candAt >= 0 && (points.isEmpty || points.last.rowAt != candAt))
        points += AccessPoint(pkg.file, part, entry.getCrc, entry.getSize,
          entry.getCompressedSize, candAt, xml.textSkew, candRows, candData, candOpen,
          candEnds, candKeys, candBlock)

    /** After the part has been read to its end: one access point for each
      * mark that has a row start at or before it, the last such row start
      * (marks that share one share it). */
    def accessPoints: Seq[AccessPoint] = {
      while (mark < marks.length) { keep(); mark += 1 }
      points.toSeq
    }

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
            if (mark < marks.length) note(xml.tagAt)
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

    override def close(): Unit = try stream.close() finally if (ownsPackage) pkg.close()
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
  * Partitioning. Each sheet is read as K row ranges by inflated byte
  * offset. K follows Spark's own file-split rule over the
  * `spark.sql.files.*` confs, with each sheet's uncompressed size `S`
  * from the zip central directory as its file length: ranges of
  * `min(maxPartitionBytes, max(openCostInBytes, total / minPartitionNum))`
  * bytes, so a sheet under 4 MB is one partition at Spark's defaults.
  * Range `[lo, hi)` reads every row whose `<row` tag starts in it, the
  * last one to its end. The last range is unbounded, so the ranges tile
  * the part whatever its real byte count, and every row is read by exactly
  * one range. A workbook directory is planned the same way over all its
  * files; `unionSheets=true` reads every sheet of each file (header row
  * consumed per sheet; narrower sheets pad with ""), all under the inferred
  * schema.
  *
  * Access points. Schema inference parses the whole sheet anyway; on the
  * way it takes an access point at each range boundary `lo` the scan will
  * plan with the session's confs: the last `<row` start `R ≤ lo` with the
  * scanner's state there, and the last deflate block start at or before
  * `R` with its history ([[XlsxParsing.AccessPoint]]). The provider hands
  * them to its table and scan, and each range starts at the one with the
  * largest `R ≤ lo`: it decodes from that block, discards the bytes up to
  * `R`, and passes `[R, lo)` with the scanner's exact structural skip. A
  * range starts at byte 0 instead, inflating and skipping `[0, lo)`, when
  * it has no access point that fits: with a schema given (no inference),
  * in the workbooks after the first, in the sheets other than the inferred
  * one under `unionSheets`, in a UTF-16 part (its text offsets are not the
  * part's), or when the entry's CRC-32 or sizes changed since inference.
  * Either way every byte is parsed in full by exactly one range.
  *
  * A row's place in its sheet, not its range, decides how it is treated:
  * the sheet's first row is the header under `header=true`, and
  * `headerRow=N` drops the first N non-blank data rows of each sheet (the
  * converter's preamble skip, T3); a range parses the sheet in full, from
  * its start or from an access point that counted the rows before it,
  * until it has seen those N rows, then skips structurally.
  *
  * Order guarantee ([[graft.etl.Convert]] relies on it in place of a
  * sort): partitions follow file-name order, then sheet order under
  * `unionSheets`, then range order, and each reader emits its rows in
  * sheet order. */
class XlsxSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  // the access points the last inferSchema recorded, for getTable
  private var indexed: (String, Seq[XlsxParsing.AccessPoint]) = ("", Nil)

  private def pathOf(options: java.util.Map[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "xlsx source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = XlsxOptions(options)
    val path = pathOf(options)
    val first = XlsxParsing.listFiles(path).head
    val pkg = new XlsxParsing.XlsxPackage(first)
    try {
      pkg.checkEntries(opts.maxEntrySizeBytes, opts.minInflateRatio)
      val all = XlsxParsing.listSheets(pkg, opts.maxEntrySizeBytes)
      val sheet = XlsxParsing.resolveSheet(all, opts.sheetName, opts.sheetIndex)
      val shared = XlsxParsing.sharedStrings(pkg, opts.maxEntrySizeBytes)
      // the range boundaries the scan will plan for this sheet, to take an
      // access point at each while the sheet is parsed here anyway; this
      // workbook is planned from the package already open
      val sheets = XlsxScan.sheets(path, opts, Map(first -> XlsxScan.planned(pkg, all, opts)))
      val marks = sheets.zip(XlsxScan.ranges(SparkSession.active, sheets.map(_.size)))
        .collectFirst { case (s, r) if s.file == first && s.target == sheet.target =>
          r.map(_._1).filter(_ > 0).toArray }
        .getOrElse(Array.emptyLongArray)
      val rows = new XlsxParsing.SheetRows(pkg, sheet.target, shared.length,
        opts.maxEntrySizeBytes, null, marks, ownsPackage = false)
      try {
        // width = max over header AND data rows: the reference names
        // positions beyond the header by their index
        // (core/writers/JsonDataWriter.java:151-154). Only the header and
        // the first `headerRow` non-blank data rows are rendered (counted
        // as the readers count them, for the access points); the other
        // data rows are parsed and checked for their width.
        val header: Array[String] =
          if (opts.header && rows.next()) rows.strings(shared) else Array.empty
        var width = header.length
        while (rows.next()) {
          width = math.max(width, rows.width)
          if (rows.dataRows < opts.headerRow && rows.strings(shared).exists(_.nonEmpty))
            rows.dataRows += 1
        }
        indexed = (path, rows.accessPoints)
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
    } finally pkg.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = pathOf(properties)
    new XlsxTable(path, schema, XlsxOptions(properties),
      if (indexed._1 == path) indexed._2 else Nil)
  }
}

private[sources] class XlsxTable(path: String, tableSchema: StructType,
    opts: XlsxOptions, index: Seq[XlsxParsing.AccessPoint]) extends Table with SupportsRead {
  override def name(): String = s"xlsx:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(path, tableSchema, opts, index)
}

/** Column pruning: a projection of k columns builds k-wide rows — Catalyst
  * hands the required schema down and the reader materializes only those
  * ordinals (the XML still streams past every cell; what pruning saves is
  * row width, string allocation, and everything downstream of the scan). */
private[sources] class XlsxScanBuilder(path: String, tableSchema: StructType,
    opts: XlsxOptions, index: Seq[XlsxParsing.AccessPoint]) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // intersect in table order; Catalyst only asks for existing columns
    required = StructType(tableSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new XlsxScan(path, tableSchema, required, opts, index)
}

private[sources] class XlsxScan(path: String, tableSchema: StructType,
    required: StructType, opts: XlsxOptions, index: Seq[XlsxParsing.AccessPoint])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val sheets = XlsxScan.sheets(path, opts)
    sheets.zip(XlsxScan.ranges(SparkSession.active, sheets.map(_.size))).flatMap {
      case (s, ranges) =>
        ranges.map { case (lo, hi) =>
          // the nearest access point at or before the range, if any
          val start = if (lo == 0) None else index
            .filter(ap => ap.file == s.file && ap.part == s.target && ap.rowAt <= lo)
            .lastOption
          XlsxRangePartition(s.file, s.pinned, lo, hi, start): InputPartition
        }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val ordinals = required.fieldNames.map(tableSchema.fieldIndex)
    new XlsxReaderFactory(ordinals, opts)
  }
}

private[sources] object XlsxScan {
  /** A sheet to read: its workbook, the sheet name a `unionSheets` scan
    * pins, its part and its inflated size. */
  final case class PlannedSheet(file: String, pinned: Option[String], target: String, size: Long)

  /** The sheets a scan of `path` reads, in order; only each workbook's
    * central directory and workbook.xml are read, and only for the
    * workbooks `known` does not already plan. */
  def sheets(path: String, opts: XlsxOptions,
      known: Map[String, Seq[PlannedSheet]] = Map.empty): Seq[PlannedSheet] =
    XlsxParsing.listFiles(path).flatMap { f =>
      known.getOrElse(f, {
        val pkg = new XlsxParsing.XlsxPackage(f)
        try {
          pkg.checkEntries(opts.maxEntrySizeBytes, opts.minInflateRatio)
          planned(pkg, XlsxParsing.listSheets(pkg, opts.maxEntrySizeBytes), opts)
        } finally pkg.close()
      })
    }

  /** The sheets a scan reads of the open workbook `pkg`, whose sheet list
    * is `all`. */
  def planned(pkg: XlsxParsing.XlsxPackage, all: Seq[XlsxParsing.SheetInfo],
      opts: XlsxOptions): Seq[PlannedSheet] = {
    val read =
      if (opts.unionSheets) all.map(s => (Some(s.name), s))
      else Seq((None, XlsxParsing.resolveSheet(all, opts.sheetName, opts.sheetIndex)))
    read.map { case (pinned, s) =>
      PlannedSheet(pkg.file, pinned, s.target,
        Option(pkg.entry(s.target)).fold(0L)(e => math.max(e.getSize, 0L)))
    }
  }

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
  * the sheet under `unionSheets`, else the options resolve it; `start` is
  * the access point to begin at, if schema inference took one for it. */
private[sources] final case class XlsxRangePartition(file: String,
    sheet: Option[String], lo: Long, hi: Long,
    start: Option[XlsxParsing.AccessPoint]) extends InputPartition

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

  private val pkg = new XlsxParsing.XlsxPackage(part.file)
  pkg.checkEntries(opts.maxEntrySizeBytes, opts.minInflateRatio)
  // a pinned sheet is the one this unionSheets partition owns; otherwise
  // the usual name/index resolution
  private val sheet = XlsxParsing.resolveSheet(
    XlsxParsing.listSheets(pkg, opts.maxEntrySizeBytes),
    part.sheet.orElse(opts.sheetName), if (part.sheet.isDefined) 0 else opts.sheetIndex)
  // encoded once per reader: cells are handed to Spark as these instances
  private val shared = XlsxParsing.sharedStrings(pkg, opts.maxEntrySizeBytes)
    .map(UTF8String.fromString)
  private val rows = new XlsxParsing.SheetRows(pkg, sheet.target, shared.length,
    opts.maxEntrySizeBytes, part.start.orNull, Array.emptyLongArray, ownsPackage = false)

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

  // which rows the preamble skip drops is known only in sheet order, so a
  // range reads the sheet in full, from its start or its access point,
  // until the first `headerRow` non-blank data rows are passed
  while (rows.dataRows < opts.headerRow && nextDataRow()) rows.dataRows += 1
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

  override def close(): Unit =
    try rows.close() finally pkg.close()
}
