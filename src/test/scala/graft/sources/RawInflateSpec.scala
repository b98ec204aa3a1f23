package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.zip.{Deflater, Inflater, ZipException}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.XlsxParsing.{BlockStart, RawInflate}

/** The raw-deflate decoder against the JDK's zlib: identical output on a
  * seeded corpus at every level and strategy with flush points, resumption
  * from every block start, and a typed error, in bounded time, for each kind
  * of malformed stream. */
class RawInflateSpec extends AnyFunSuite {

  private val cap = 1L << 40

  /** Deflates `data` raw, flushing with `flush` at each of `cuts`. */
  private def deflate(data: Array[Byte], level: Int, strategy: Int, cuts: Seq[Int],
      flush: Int): Array[Byte] = {
    val d = new Deflater(level, true)
    d.setStrategy(strategy)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 14)
    // a strategy change takes effect in a deflate call that may consume no
    // input, so drain until all input is taken and nothing more comes out
    def drain(mode: Int): Unit = {
      var n = 0
      do { n = d.deflate(buf, 0, buf.length, mode); out.write(buf, 0, n) }
      while (n > 0 || !d.needsInput())
    }
    var from = 0
    for (c <- cuts.sorted :+ data.length) {
      d.setInput(data, from, c - from)
      from = c
      if (c < data.length) drain(flush)
    }
    d.finish()
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    out.toByteArray
  }

  private def zlib(comp: Array[Byte]): Array[Byte] = {
    val inf = new Inflater(true)
    inf.setInput(comp)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 14)
    var stalled = false
    while (!inf.finished() && !stalled) {
      val n = inf.inflate(buf)
      stalled = n == 0 && (inf.needsInput() || inf.needsDictionary())
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  private def decoder(comp: Array[Byte], from: BlockStart = BlockStart.Origin): RawInflate = {
    val at = (from.bit >>> 3).toInt
    new RawInflate(new ByteArrayInputStream(comp, at, comp.length - at), from, false, cap, "t")
  }

  private def inflate(comp: Array[Byte], from: BlockStart = BlockStart.Origin): Array[Byte] =
    decoder(comp, from).readAllBytes()

  private def sheetLike(rnd: Random, size: Int): Array[Byte] = {
    val sb = new StringBuilder("""<?xml version="1.0"?><worksheet><sheetData>""")
    var r = 1
    while (sb.length < size) {
      sb.append(s"""<row r="$r">""")
      for (c <- 0 until 1 + rnd.nextInt(12)) {
        val ref = s"${XlsxSink.colName(c)}$r"
        rnd.nextInt(3) match {
          case 0 => sb.append(s"""<c r="$ref" t="s"><v>${rnd.nextInt(500)}</v></c>""")
          case 1 => sb.append(s"""<c r="$ref"><v>${rnd.nextDouble() * 1000}</v></c>""")
          case _ => sb.append(s"""<c r="$ref" t="inlineStr"><is><t>${
            rnd.alphanumeric.take(rnd.nextInt(30)).mkString}</t></is></c>""")
        }
      }
      sb.append("</row>")
      r += 1
    }
    sb.append("</sheetData></worksheet>").toString.getBytes("UTF-8")
  }

  private def corpus(seed: Int): Seq[Array[Byte]] = {
    val rnd = new Random(seed)
    def random(n: Int) = { val a = new Array[Byte](n); rnd.nextBytes(a); a }
    def lowEntropy(n: Int) = Array.fill(n)("abcd".charAt(rnd.nextInt(4)).toByte)
    Seq(Array.emptyByteArray, Array[Byte](42), random(1000), random(70000), lowEntropy(100000),
      Array.fill(300000)(7.toByte), sheetLike(rnd, 50000), sheetLike(rnd, 400000))
  }

  private val strategies = Seq(Deflater.DEFAULT_STRATEGY, Deflater.FILTERED, Deflater.HUFFMAN_ONLY)

  test("inflates exactly as zlib at every level and strategy, with flush points") {
    val rnd = new Random(11)
    var streams = 0
    for ((data, i) <- corpus(5).zipWithIndex; level <- 0 to 9; strategy <- strategies) {
      val flush = if (rnd.nextBoolean()) Deflater.SYNC_FLUSH else Deflater.FULL_FLUSH
      val cuts = if (data.isEmpty) Nil else Seq.fill(rnd.nextInt(4))(rnd.nextInt(data.length))
      val comp = deflate(data, level, strategy, cuts, flush)
      val clue = s"input $i, level $level, strategy $strategy, flush $flush at $cuts"
      val ref = zlib(comp)
      assert(java.util.Arrays.equals(ref, data), clue)
      assert(java.util.Arrays.equals(inflate(comp), ref), clue)
      streams += 1
    }
    assert(streams == 8 * 10 * 3)
  }

  test("resuming at any recorded block start yields the rest of the output") {
    val rnd = new Random(12)
    var resumed = 0
    for ((data, i) <- corpus(6).zipWithIndex if data.length > 1000;
         (level, strategy) <- Seq((1, Deflater.DEFAULT_STRATEGY), (6, Deflater.FILTERED),
           (9, Deflater.HUFFMAN_ONLY), (0, Deflater.DEFAULT_STRATEGY))) {
      val cuts = Seq.fill(3)(rnd.nextInt(data.length))
      val comp = deflate(data, level, strategy, cuts, Deflater.SYNC_FLUSH)
      val full = decoder(comp)
      full.track = true
      assert(java.util.Arrays.equals(full.readAllBytes(), data))
      val starts = full.blockStarts
      assert(starts.head.out == 0 && starts.head.bit == 0 && starts.size > 1, s"input $i level $level")
      for (s <- starts) {
        assert(s.history.length == math.min(s.out, 32768L))
        val rest = inflate(comp, s)
        assert(java.util.Arrays.equals(rest, data.drop(s.out.toInt)),
          s"input $i level $level from bit ${s.bit}")
        resumed += 1
      }
    }
    assert(resumed > 50)
  }

  test("blockAt returns the last block start at or before an offset and drops earlier ones") {
    val data = sheetLike(new Random(3), 300000)
    val comp = deflate(data, 6, Deflater.DEFAULT_STRATEGY, Seq(100000, 200000), Deflater.FULL_FLUSH)
    val all = { val d = decoder(comp); d.track = true; d.readAllBytes(); d.blockStarts }
    val d = decoder(comp)
    d.track = true
    d.readAllBytes()
    for (x <- Seq(0L, 99999L, 100000L, 150000L, 250000L)) {
      val b = d.blockAt(x)
      assert(b.out == all.filter(_.out <= x).last.out && b.out <= x)
    }
    assert(d.blockStarts.head.out == all.filter(_.out <= 250000L).last.out)
  }

  /** LSB-first bit writer for hand-made streams; `code` writes a Huffman
    * code most significant bit first. */
  private final class Bits {
    private val out = new ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def put(v: Int, count: Int): Bits = {
      for (i <- 0 until count) {
        acc |= ((v >>> i) & 1) << n
        n += 1
        if (n == 8) { out.write(acc); acc = 0; n = 0 }
      }
      this
    }
    def code(c: Int, len: Int): Bits = { for (i <- len - 1 to 0 by -1) put((c >>> i) & 1, 1); this }
    def bytes: Array[Byte] = { if (n > 0) { out.write(acc); acc = 0; n = 0 }; out.toByteArray }
  }

  /** The ZipException decoding `comp` ends in, within a time bound. */
  private def corrupt(comp: Array[Byte]): ZipException = {
    val e = intercept[ZipException](
      Await.result(Future(inflate(comp))(ExecutionContext.global), 10.seconds))
    assert(e.getMessage.contains("invalid deflate data"), e.getMessage)
    e
  }

  test("malformed streams end in a ZipException") {
    val valid = deflate(sheetLike(new Random(4), 20000), 6, Deflater.DEFAULT_STRATEGY, Nil, 0)
    for (n <- (0 until 40) ++ Seq(valid.length / 2, valid.length - 1))
      withClue(s"truncated to $n")(corrupt(valid.take(n)))
    assert(corrupt(new Bits().put(1, 1).put(3, 2).bytes).getMessage.contains("block type"))
    // dynamic header: HLIT, HDIST, HCLEN, then the code length code lengths
    def dynamic(hclen: Int, clens: Seq[Int]): Bits = {
      val b = new Bits().put(1, 1).put(2, 2).put(0, 5).put(0, 5).put(hclen - 4, 4)
      clens.foreach(b.put(_, 3))
      b
    }
    assert(corrupt(dynamic(19, Seq.fill(19)(1)).bytes).getMessage.contains("over-subscribed"))
    // lengths for 16, 17, 18 (order 16 17 18 0 …): three 2-bit codes
    assert(corrupt(dynamic(4, Seq(2, 2, 2, 0)).bytes).getMessage.contains("incomplete"))
    // a complete code of 16, 17, 18, 0 (2 bits each; 0 → 00, 16 → 01): 16 first
    assert(corrupt(dynamic(4, Seq(2, 2, 2, 2)).code(1, 2).put(0, 2).bytes)
      .getMessage.contains("repeat"))
    def fixed = new Bits().put(1, 1).put(1, 2)
    for (sym <- Seq(286, 287))
      assert(corrupt(fixed.code(0xC0 + sym - 280, 8).bytes).getMessage.contains("literal/length"))
    // literal 'a', then length 3 at distance code 30 or 31
    for (d <- Seq(30, 31))
      assert(corrupt(fixed.code(0x30 + 'a', 8).code(1, 7).code(d, 5).bytes)
        .getMessage.contains("distance code"))
    // literal 'a', then length 3 at distance 2: before the output start
    assert(corrupt(fixed.code(0x30 + 'a', 8).code(1, 7).code(1, 5).code(0, 7).bytes)
      .getMessage.contains("too far back"))
    assert(corrupt(new Bits().put(1, 1).put(0, 2).put(0, 5).put(5, 16).put(0, 16).bytes)
      .getMessage.contains("stored block lengths"))
    // a sync-flushed stream that never finishes: no final block
    val open = {
      val d = new Deflater(6, true)
      d.setInput("hello".getBytes("UTF-8"))
      val buf = new Array[Byte](100)
      val n = d.deflate(buf, 0, buf.length, Deflater.SYNC_FLUSH)
      d.end()
      buf.take(n)
    }
    assert(corrupt(open).getMessage.contains("end of input"))
  }

  test("blocks with little or no output keep only a bounded number of block starts") {
    // 200 000 empty fixed blocks (10 bits each), 600 000 fixed blocks of one
    // literal (18 bits each), then an empty final block
    val b = new Bits()
    for (_ <- 0 until 200000) b.put(0, 1).put(1, 2).code(0, 7)
    for (_ <- 0 until 600000) b.put(0, 1).put(1, 2).code(0x30 + 'a', 8).code(0, 7)
    val comp = b.put(1, 1).put(1, 2).code(0, 7).bytes
    val d = decoder(comp)
    d.track = true
    val out = d.readAllBytes()
    assert(java.util.Arrays.equals(out, zlib(comp)) && out.length == 600000)
    val starts = d.blockStarts
    assert(starts.size <= 16 && starts.map(_.history.length.toLong).sum <= 16L * 32768,
      s"${starts.size} block starts")
    assert(starts.map(_.out).distinct.size == starts.size)
    for (s <- starts)
      assert(java.util.Arrays.equals(inflate(comp, s), out.drop(s.out.toInt)), s"from ${s.out}")
  }

  test("inflated bytes are counted against the entry-size cap") {
    val comp = deflate(Array.fill(100000)(1.toByte), 9, Deflater.DEFAULT_STRATEGY, Nil, 0)
    val e = intercept[graft.etl.InputTooLargeException](
      new RawInflate(new ByteArrayInputStream(comp), BlockStart.Origin, false, 4096, "xl/x.xml")
        .readAllBytes())
    assert(e.getMessage == "Zip entry xl/x.xml inflated beyond maxEntrySizeBytes=4096")
  }

  test("XlsxSource reads every part through its own decoder, none through the JDK's") {
    val src = new File("src/main/scala/graft/sources/XlsxSource.scala")
    assert(src.isFile, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    val text = new String(Files.readAllBytes(src.toPath), "UTF-8")
    // spelled in pieces so that this file does not match itself
    val found = Seq("getInput" + "Stream", "Infl" + "ater", "Infl" + "aterInputStream")
      .filter(text.contains)
    assert(found.isEmpty, found.mkString(", "))
  }
}
