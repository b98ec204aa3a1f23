package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class MultimodalSpec extends AnyFunSuite {

  private def media = Multimodal.asMedia(graft.etl.IngestOps.table(spark, sf0001, "documents"))

  test("asMedia: payload is binary, metadata struct is typed") {
    val schema = media.schema
    assert(schema("payload").dataType == org.apache.spark.sql.types.BinaryType)
    val meta = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("origin", "mime", "declared_len"))
  }

  test("features: byte length matches declared length (ascii fixture)") {
    val rows = Multimodal.features(media).join(media.select("doc_id", "meta"), "doc_id").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bytes") ==
        r.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("declared_len"))
      assert(r.getAs[String]("content_sha").length == 64)
    }
  }

  test("decode: partition-parallel stub is deterministic and complete") {
    val d1 = Multimodal.decode(media).collect().map(d => d.doc_id -> d).toMap
    val d2 = Multimodal.decode(media.repartition(7)).collect().map(d => d.doc_id -> d).toMap
    assert(d1.size == 500 && d1.keySet == d2.keySet)
    d1.foreach { case (id, d) =>
      assert(d == d2(id)) // partitioning must not change decoded values
      assert(d.width >= 1 && d.width <= 640 && d.height >= 1 && d.height <= 480)
    }
  }

  private def mediaOf(rows: (Long, String)*) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
  }

  test("resize: nearest-neighbor index map on a known payload") {
    // bytes "abcd" (0x61..0x64) resized to 2x1: out[0]=in[0], out[1]=in[2]
    val out = Multimodal.resize(mediaOf((1L, "abcd")), outW = 2, outH = 1)
      .collect().head
    assert(out.n_bytes == 2L)
    assert(out.head_hex == "6163") // 'a','c'
    assert(out.byte_sum == 0x61L + 0x63L)
    // empty payload resizes to empty, not an index error
    val e = Multimodal.resize(mediaOf((2L, "")), outW = 2, outH = 1).collect().head
    assert(e.n_bytes == 0L && e.head_hex == "" && e.byte_sum == 0L)
  }

  test("resize: upsample repeats bytes deterministically") {
    // 2 bytes → 8 "pixels": indexes floor(i*2/8) = 0,0,0,0,1,1,1,1
    val out = Multimodal.resize(mediaOf((1L, "xy")), outW = 4, outH = 2)
      .collect().head
    assert(out.n_bytes == 8L)
    assert(out.byte_sum == 4L * 'x'.toLong + 4L * 'y'.toLong)
  }

  test("frameSample: slices tile the payload; stride keeps every k-th frame") {
    val text = "a" * 35 // 35 bytes → nf = 35 % 30 + 1 = 6 frames
    val all = Multimodal.frameSample(mediaOf((1L, text)), every = 1).collect()
    assert(all.length == 6)
    // frames tile [0, 35) exactly: starts/lengths reconstruct the payload
    assert(all.map(_.f_len).sum == 35L)
    assert(all.sortBy(_.frame_idx).sliding(2).forall {
      case Array(a, b) => a.f_start + a.f_len == b.f_start
      case _ => true
    })
    assert(all.map(_.byte_sum).sum == 35L * 'a'.toLong)
    val sampled = Multimodal.frameSample(mediaOf((1L, text)), every = 2).collect()
    assert(sampled.map(_.frame_idx).sorted.toSeq == Seq(0, 2, 4))
  }

  test("frameSample: empty payload yields the single empty frame") {
    val f = Multimodal.frameSample(mediaOf((1L, "")), every = 2).collect()
    assert(f.length == 1 && f.head.f_len == 0L && f.head.byte_sum == 0L)
  }

  test("patches: hand-checked grid tiling when payload length equals the grid") {
    // 128 ascii bytes → the resample is the identity (i·128/128 = i), so
    // each 4×4 patch sums exactly its grid cells
    val s = (0 until 128).map(i => ('a' + i % 26).toChar).mkString
    val got = Multimodal.patches(mediaOf((1L, s))).collect()
      .map(p => (p.patch_row, p.patch_col) -> p).toMap
    assert(got.size == (16 / 4) * (8 / 4))
    val bytes = s.getBytes("UTF-8")
    got.foreach { case ((pr, pc), p) =>
      var sum = 0L
      for (y <- 0 until 4; x <- 0 until 4)
        sum += bytes((pr * 4 + y) * 16 + pc * 4 + x) & 0xff
      assert(p.byte_sum == sum && p.n_px == 16 && p.mean_milli == 1000 * sum / 16)
    }
    // empty payload: no patches; short payload: indices clamp via the map
    assert(Multimodal.patches(mediaOf((2L, ""))).count() == 0L)
    val short = Multimodal.patches(mediaOf((3L, "ab"))).collect()
    assert(short.length == 8 && short.forall(_.n_px == 16))
  }

  test("perceptualHash: known bits; phashPairs equals brute-force Hamming") {
    // payload "ab" → 32 pixels: 16× 0x61 then 16× 0x62; mean strictly
    // between → high 16 bits set, low 16 clear: 0xFFFF0000
    val h = Multimodal.perceptualHash(mediaOf((1L, "ab"))).collect().head
    assert(h.phash == 0xFFFF0000L)
    // constant payload → no pixel strictly above the mean → hash 0
    assert(Multimodal.perceptualHash(mediaOf((2L, "aaaa"))).collect()
      .head.phash == 0L)
    // empty payload has no pixels → excluded
    assert(Multimodal.perceptualHash(mediaOf((3L, ""))).count() == 0L)
    // identical payloads pair at Hamming 0
    val twin = Multimodal.phashPairs(mediaOf((1L, "abc xyz"), (2L, "abc xyz")))
      .collect()
    assert(twin.length == 1 && twin.head.getLong(2) == 0L)
    // banding is COMPLETE: pairs equal the brute-force ≤3-Hamming filter
    // over the per-doc hashes on the fixture (which contains exact dups)
    val sig = Multimodal.perceptualHash(media).collect()
      .map(p => p.doc_id -> p.phash).toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      hm = java.lang.Long.bitCount(sig(a) ^ sig(b)) if hm <= 3
    } yield (a, b, hm.toLong)).toSet
    val got = Multimodal.phashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute && got.nonEmpty)
  }

  test("parseWav: canonical 44-byte golden fixture decodes exactly") {
    // hand-laid bytes straight from the RIFF/WAVE spec: 8 kHz mono PCM16,
    // 4 samples [0, 1000, -1000, 32767] — pins absolute byte layout
    // (endianness, offsets) independent of the synthesizer
    val samples = Seq[Short](0, 1000, -1000, 32767)
    val b = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + 8).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(8)
    samples.foreach(b.putShort)
    val out = Multimodal.parseWav(7L, b.array())
    assert(out.contains(Multimodal.WavFeatures(
      7L, 8000L, 1L, 16L, 4L, 500L, 32767L, 34767L)))
  }

  test("parseWav: chunk walk skips LIST chunks; rejects wrong magic and non-PCM") {
    // a LIST chunk (odd length, so the word-align padding is exercised)
    // between fmt and data must be skipped, not misparsed
    val b = java.nio.ByteBuffer.allocate(44 + 5 + 8 + 1 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + 5 + 8 + 1 + 4).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
    b.put("LIST".getBytes).putInt(5).put(Array[Byte](1, 2, 3, 4, 5)).put(0.toByte)
    b.put("data".getBytes).putInt(4).putShort(100).putShort(-100)
    val out = Multimodal.parseWav(1L, b.array())
    assert(out.contains(Multimodal.WavFeatures(
      1L, 16000L, 1L, 16L, 2L, 125L, 100L, 200L)))
    // rejects: wrong magic, truncated, non-PCM format code
    assert(Multimodal.parseWav(1L, "notawavfileatall".getBytes ++ new Array[Byte](40)).isEmpty)
    assert(Multimodal.parseWav(1L, Array[Byte](1, 2, 3)).isEmpty)
    val nonPcm = b.array().clone()
    nonPcm(20) = 3 // IEEE float format code
    assert(Multimodal.parseWav(1L, nonPcm).isEmpty)
  }

  test("parseWav: stereo frames extract channel 0 (the mono feature contract)") {
    // 3 stereo frames; channel-1 values are decoys that must not leak into
    // the features — n_samples counts FRAMES, not interleaved values
    val frames = Seq[(Short, Short)]((10, 9999), (-20, -9999), (30, 1234))
    val dataLen = frames.length * 4
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(8000).putInt(32000).putShort(4).putShort(16)
    b.put("data".getBytes).putInt(dataLen)
    frames.foreach { case (l, r) => b.putShort(l).putShort(r) }
    val out = Multimodal.parseWav(3L, b.array())
    assert(out.contains(Multimodal.WavFeatures(
      3L, 8000L, 2L, 16L, 3L, 375L, 30L, 60L)), out.toString)
  }

  test("loudnessFrames: windows tile the samples, partial last window, exact energy") {
    import graft.SparkTestSession.spark.implicits._
    // 7 samples, frameLen 3 -> windows of 3, 3, 1 with hand-computed energy
    val samples = Seq[Short](1, -2, 3, 100, -100, 50, -7)
    val b = java.nio.ByteBuffer.allocate(44 + 14)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + 14).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    b.put("data".getBytes).putInt(14)
    samples.foreach(b.putShort)
    val ds = graft.SparkTestSession.spark
      .createDataset(Seq(Multimodal.WavDoc(9L, b.array())))
    val out = Multimodal.loudnessFrames(ds, frameLen = 3)
      .collect().sortBy(_.frame_idx).toSeq
    assert(out == Seq(
      Multimodal.WavFrame(9L, 0L, 3L, 1L + 4L + 9L, 3L),
      Multimodal.WavFrame(9L, 1L, 3L, 10000L + 10000L + 2500L, 100L),
      Multimodal.WavFrame(9L, 2L, 1L, 49L, 7L)), out.toString)
  }

  test("synthWavPcm16 -> decodeWav round trip matches the closed form on the fixture") {
    val docs = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val feats = Multimodal.decodeWav(Multimodal.synthWavPcm16(docs))
      .collect().map(f => f.doc_id -> f).toMap
    val params = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(feats.size == params.length)
    params.foreach { case (id, nChars) =>
      val sr = 8000 + (id % 3) * 4000
      val n = 64 + (nChars % 191)
      val vals = (0L until n).map(i => ((id * 31 + i * 17) % 65536) - 32768)
      val f = feats(id)
      assert(f.sample_rate == sr && f.n_samples == n &&
        f.duration_us == n * 1000000L / sr &&
        f.peak_abs == vals.map(math.abs).max &&
        f.sum_abs == vals.map(math.abs).sum, s"doc $id: $f")
    }
  }

  test("float WAV: PCM16 path rejects format-3 payloads, float path rejects PCM16, and the walk skips fact") {
    import graft.SparkTestSession.spark.implicits._
    val docs = Seq((7L, "x" * 40, "en", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val floatPayload = Multimodal.synthWavFloat32(docs).collect().head.payload
    val pcmPayload = Multimodal.synthWavPcm16(docs).collect().head.payload
    // cross-rejection: each parser takes ONLY its own format
    assert(Multimodal.parseWavPcm(floatPayload).isEmpty)
    assert(Multimodal.parseWavFloat32(pcmPayload).isEmpty)
    // the float payload parses on the float path: the walk crossed the
    // 18-byte fmt AND the fact chunk to reach data
    val w = Multimodal.parseWavFloat32(floatPayload).get
    val n = (64 + (40L % 191)).toInt
    assert(w.sampleRate == 8000 + (7L % 3) * 4000 && w.channels == 1 &&
      w.samples.length == n)
    val expected = (0 until n).map(i => ((7L * 31 + i * 17) % 65536) - 32768)
    assert(w.samples.toSeq == expected, "float quantization must be exact")
  }

  test("decodeWavFloatZcr matches the hand-computed sign-change count") {
    import graft.SparkTestSession.spark.implicits._
    val docs = Seq((7L, "y" * 13, "en", "s", 13L), (8L, "z" * 99, "en", "s", 99L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeWavFloatZcr(Multimodal.synthWavFloat32(docs))
      .collect().map(f => f.doc_id -> f).toMap
    Seq((7L, 13L), (8L, 99L)).foreach { case (id, nc) =>
      val n = 64 + (nc % 191)
      val vals = (0L until n).map(i => ((id * 31 + i * 17) % 65536) - 32768)
      val zc = vals.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
      val f = out(id)
      assert(f.n_samples == n && f.zero_crossings == zc, s"doc $id: $f")
    }
  }

  test("crafted chunk length near Int.MaxValue is rejected, not crashed on (Int overflow guard)") {
    // RIFF/WAVE + a chunk whose declared length overflows pos + 8 + clen in
    // Int arithmetic: both parsers must take the reject path (ADVICE r16)
    val b = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(56).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(Int.MaxValue - 4)
    assert(Multimodal.parseWavPcm(b.array()).isEmpty)
    assert(Multimodal.parseWavFloat32(b.array()).isEmpty)
    // same for a huge data chunk after a valid fmt
    val c = java.nio.ByteBuffer.allocate(80)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    c.put("RIFF".getBytes).putInt(72).put("WAVE".getBytes)
    c.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    c.put("data".getBytes).putInt(Int.MaxValue - 8)
    assert(Multimodal.parseWavPcm(c.array()).isEmpty)
  }
}
