package graft.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One multimodal asset: an opaque payload plus typed metadata. At 100 TB
  * the payload column dominates storage — every operator here is designed
  * so that metadata-only queries never deserialize payload bytes (column
  * pruning reaches the parquet scan) and payload passes through at most one
  * map stage, never a shuffle.
  */
final case class MediaRecord(
    doc_id: Long,
    media_type: String,
    width: Int,
    height: Int,
    n_frames: Int,
    payload: Array[Byte]
)

/** Decoded per-asset features (the output shape of the stubbed decoder). */
final case class MediaFeatures(
    doc_id: Long,
    media_type: String,
    n_bytes: Long,
    mean_byte: Double,
    first_byte: Int,
    frame_count: Int
)

/** Features decoded from a real BMP payload (see [[Bmp]]). */
final case class BmpFeatures(
    doc_id: Long,
    width: Int,
    height: Int,
    n_pixels: Long,
    pixels_md5: String
)

/** Features decoded from a real WAV payload (see [[Wav]]): all-integer
  * consequences of the decoded sample array, so the DuckDB oracle lands on
  * identical values from the generating formulas (no float RMS — sum of
  * squares instead).
  */
final case class WavFeatures(
    doc_id: Long,
    sample_rate: Int,
    n_samples: Long,
    duration_ms: Long,
    sum_sq: Long,
    peak_abs: Long
)

/** Pitch-detection features from a real WAV payload (see [[Media.wavPitch]]):
  * the autocorrelation argmax and its supporting integer sums, all computed
  * from the decoded samples.
  */
final case class WavPitch(
    doc_id: Long,
    n_samples: Long,
    best_lag: Int,
    r_best: Long,
    r0: Long
)

/** Features decoded + temporally sampled from a real Y4M payload (see
  * [[Y4m]]): all-integer consequences of the decoded sampled planes, so the
  * DuckDB oracle lands on identical values from the generating formulas.
  */
final case class Y4mFeatures(
    doc_id: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    n_sampled: Int,
    y_sum_sampled: Long,
    sampled_md5: String
)

/** Dequantized-coefficient features decoded from a real baseline JPEG (see
  * [[Jpeg.decodeCoeffs]]): the entropy layer's output graded directly —
  * marker walk, DHT rebuild, Huffman decode, byte unstuffing, zigzag runs,
  * DC prediction, dequantization — before any pixel math.
  */
final case class JpegCoeffFeatures(
    doc_id: Long,
    width: Int,
    height: Int,
    n_blocks: Int,
    n_nonzero: Long,
    coeff_checksum: Long,
    coeffs_md5: String
)

/** Pixel features decoded from a real baseline JPEG through the exact
  * fixed-point IDCT (see [[Jpeg]] object doc): all-integer, so the DuckDB
  * oracle restates every pixel in closed form from the generating
  * coefficient formulas and the shared [[Jpeg.FTable]] constants.
  */
final case class JpegPixelFeatures(
    doc_id: Long,
    width: Int,
    height: Int,
    pixel_sum: Long,
    pixels_md5: String
)

/** A real, pure-JVM image codec: 24-bit uncompressed BMP (BITMAPFILEHEADER
  * + BITMAPINFOHEADER, BI_RGB). This is the one genuinely decodable format
  * in a container with no image libraries — the decoder must get the
  * little-endian header fields, the bottom-up row order, the BGR→RGB
  * channel swizzle, and the 4-byte row-stride padding right, or the pixel
  * hash the oracle recomputes from first principles will not match.
  */
object Bmp {

  private val HeaderBytes = 54 // 14 (file header) + 40 (info header)

  /** Encode a top-down row-major RGB byte array as a 24-bit BI_RGB BMP. */
  def encode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be width*height*3 bytes")
    val stride = (width * 3 + 3) & ~3
    val dataSize = stride * height
    val buf = java.nio.ByteBuffer.allocate(HeaderBytes + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(HeaderBytes + dataSize) // file size
      .putShort(0).putShort(0)        // reserved
      .putInt(HeaderBytes)            // pixel-data offset
    buf.putInt(40)                    // info-header size
      .putInt(width).putInt(height)   // height > 0 => bottom-up rows
      .putShort(1)                    // planes
      .putShort(24)                   // bits per pixel
      .putInt(0)                      // compression = BI_RGB
      .putInt(dataSize)
      .putInt(2835).putInt(2835)      // 72 DPI
      .putInt(0).putInt(0)            // palette sizes
    var y = height - 1
    while (y >= 0) { // bottom-up
      var x = 0
      while (x < width) {
        val p = (y * width + x) * 3
        buf.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p)) // BGR on disk
        x += 1
      }
      var pad = width * 3
      while (pad < stride) { buf.put(0.toByte); pad += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Decode a 24-bit BI_RGB BMP to (width, height, top-down row-major RGB).
    * Validates magic, header sizes, bit depth, and compression — a real
    * parser, not a stub.
    */
  def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= HeaderBytes, "truncated BMP header")
    require(buf.get(0) == 'B'.toByte && buf.get(1) == 'M'.toByte, "bad BMP magic")
    val dataOffset = buf.getInt(10)
    require(buf.getInt(14) >= 40, "unsupported info-header size")
    val width = buf.getInt(18)
    val rawHeight = buf.getInt(22)
    val bottomUp = rawHeight > 0
    val height = math.abs(rawHeight)
    // dimension sanity BEFORE any size arithmetic: a corrupt header with
    // huge or negative dims would otherwise overflow `stride * height` in
    // Int, letting the truncation check pass and the decode blow up with
    // NegativeArraySize/ArrayIndexOutOfBounds instead of a clean reject.
    // 2^20 per axis caps stride*height under 2^42 — safely inside Long.
    require(width > 0 && height > 0 && width <= (1 << 20) && height <= (1 << 20),
      s"unreasonable BMP dimensions ${width}x$rawHeight")
    require(buf.getShort(28) == 24, "only 24-bit BMP supported")
    require(buf.getInt(30) == 0, "only uncompressed (BI_RGB) supported")
    require(dataOffset >= HeaderBytes && dataOffset <= bytes.length, "bad pixel-data offset")
    val stride = (width * 3 + 3) & ~3
    require(bytes.length.toLong >= dataOffset.toLong + stride.toLong * height,
      "truncated pixel data")
    val rgb = new Array[Byte](width * height * 3)
    var row = 0
    while (row < height) {
      val y = if (bottomUp) height - 1 - row else row
      val src = dataOffset + row * stride
      var x = 0
      while (x < width) {
        val p = (y * width + x) * 3
        rgb(p) = bytes(src + x * 3 + 2)     // R
        rgb(p + 1) = bytes(src + x * 3 + 1) // G
        rgb(p + 2) = bytes(src + x * 3)     // B
        x += 1
      }
      row += 1
    }
    (width, height, rgb)
  }
}

/** Multimodal plumbing: image/audio/video as opaque `binary` columns with
  * typed metadata, frame slicing/sampling as Column expressions, and typed
  * `mapPartitions` decode/resize stages.
  *
  * Since round 8 every decode/resize QUERY runs the real pure-JVM BMP codec
  * ([[Bmp]]): `media_bmp_decode` parses real BMP bytes,
  * [[Media.bmpDecodedFeatures]] computes features from the parser's output
  * only, and [[Media.bmpResizedFeatures]] box-downscales REAL pixels and
  * round-trips them through a re-encode. The deterministic stub
  * ([[Media.decodeStub]]/[[Media.resizeStub]], spec-covered) remains only
  * as the documented swap-in point for formats with no pure-JVM codec in
  * this container (JPEG, PCM, …) — swapping it for a JNI/codec call changes
  * no plan shape.
  */
object Media {

  /** Frame stride in bytes for the fake fixed-size frame layout. */
  val FrameBytes: Int = 32

  /** Derive the media table from `documents`: payload = utf-8 bytes of the
    * text (an opaque stand-in for real image/audio bytes), media_type and
    * dimensions deterministic functions of doc_id. This is the *plumbing*
    * fixture — in production this DataFrame comes straight off parquet with
    * the same schema.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      (lit(64) + pmod(col("doc_id") * 7, lit(64)) * 4).cast("int").as("width"),
      (lit(64) + pmod(col("doc_id") * 13, lit(64)) * 4).cast("int").as("height"),
      (lit(1) + pmod(col("doc_id"), lit(8))).cast("int").as("n_frames"),
      encode(col("text"), "utf-8").as("payload")
    )

  /** DuckDB twin of [[mediaTable]] as a FROM-able subquery. The oracle keeps
    * payload as VARCHAR: the corpus is pure ASCII (verified), so char slices
    * == byte slices and md5(text) == md5(utf8 bytes).
    */
  val mediaTableSql: String =
    """(SELECT doc_id,
      |        (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS media_type,
      |        CAST(64 + (doc_id * 7 % 64) * 4 AS INT) AS width,
      |        CAST(64 + (doc_id * 13 % 64) * 4 AS INT) AS height,
      |        CAST(1 + doc_id % 8 AS INT) AS n_frames,
      |        text AS payload
      | FROM documents)""".stripMargin

  /** md5 of each fixed-stride frame slice of the payload (frames past the
    * end of payload hash the empty slice — both engines agree).
    */
  def frameHashes(payload: org.apache.spark.sql.Column, nFrames: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), nFrames - 1),
              f => md5(substr(payload, f * FrameBytes + 1, lit(FrameBytes))))

  def frameHashesSql(payload: String, nFrames: String): String =
    s"list_transform(generate_series(0, $nFrames - 1), " +
      s"f -> md5(substring($payload, f * $FrameBytes + 1, $FrameBytes)))"

  /** Every 2nd frame hash (positions 1, 3, 5, … 1-based) — frame sampling. */
  def sampleFrames(hashes: org.apache.spark.sql.Column) =
    transform(sequence(lit(1), size(hashes), lit(2)), i => element_at(hashes, i))

  def sampleFramesSql(hashes: String): String =
    s"list_transform(generate_series(1, len($hashes), 2), i -> $hashes[i])"

  /** The stubbed decoder: deterministic features from raw bytes. Replace the
    * body with a real codec (JPEG decode, PCM resample, …) — the signature
    * and batch shape are what production code keeps. Runs per-partition so a
    * real decoder amortizes its init cost across the partition's records.
    */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val bytes = r.payload
    val n = bytes.length
    var sum = 0L
    var i = 0
    while (i < n) { sum += (bytes(i) & 0xff); i += 1 }
    MediaFeatures(
      doc_id = r.doc_id,
      media_type = r.media_type,
      n_bytes = n.toLong,
      mean_byte = if (n == 0) 0.0 else sum.toDouble / n.toDouble,
      first_byte = if (n == 0) -1 else bytes(0) & 0xff,
      frame_count = r.n_frames
    )
  }

  /** Stubbed resize: halves each dimension until both fit `maxDim`, and
    * subsamples the payload by the same factor (every `factor`-th byte) —
    * the deterministic stand-in for a real scaler. Metadata stays exact:
    * downstream partition planning reads width/height without touching
    * payload bytes.
    */
  def resizeStub(r: MediaRecord, maxDim: Int): MediaRecord = {
    var factor = 1
    while ((r.width / factor) > maxDim || (r.height / factor) > maxDim) factor *= 2
    if (factor == 1) r
    else {
      val sampled = Array.tabulate(r.payload.length / factor)(i => r.payload(i * factor))
      r.copy(width = r.width / factor, height = r.height / factor, payload = sampled)
    }
  }

  /** Typed resize pipeline (same partition-iterator shape as [[decodeAll]]). */
  def resizeAll(media: Dataset[MediaRecord], maxDim: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(resizeStub(_, maxDim)))
  }

  /** Typed decode pipeline: Dataset[MediaRecord] → mapPartitions(decoder).
    * Partition-iterator shape (not per-row `map`) so heavyweight decoder
    * state is created once per partition — the real-codec access pattern.
    */
  def decodeAll(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (real codecs are stateful)
      it.map(decodeStub)
    }
  }

  /** End-to-end typed path from the documents table. */
  def decodedFeatures(spark: SparkSession, docs: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    decodeAll(mediaTable(docs).as[MediaRecord])
  }

  // ------------------------------------------------------------ real BMP

  /** Deterministic per-document image spec for the BMP fixture: small odd
    * widths so the 4-byte row stride actually pads (w ∈ 4..8 covers pad
    * 0..3), pixel byte k = (doc_id*31 + k*7 + 13) mod 256. The ORACLE
    * recomputes width/height/pixel-hash from these formulas directly —
    * never through BMP — so encode→decode must round-trip exactly.
    */
  def bmpDims(docId: Long): (Int, Int) =
    ((4 + (docId % 5)).toInt, (3 + (docId % 4)).toInt)

  def bmpPixelByte(docId: Long, k: Int): Byte =
    ((docId * 31 + k.toLong * 7 + 13) % 256).toByte

  private def hexLower(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Per-id: synthesize pixels → encode as a real BMP → decode with the
    * real parser → features from the DECODED bytes only. Partition-iterator
    * shape: one MessageDigest per partition, like a real codec's state.
    */
  def bmpRoundTrip(ids: Dataset[java.lang.Long]): Dataset[BmpFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { boxed =>
        val id = boxed.longValue()
        val (w, h) = bmpDims(id)
        val rgb = Array.tabulate(w * h * 3)(k => bmpPixelByte(id, k))
        val (dw, dh, decoded) = Bmp.decode(Bmp.encode(w, h, rgb))
        md.reset()
        val digest = md.digest(hexLower(decoded).getBytes("UTF-8"))
        BmpFeatures(id, dw, dh, dw.toLong * dh, hexLower(digest))
      }
    }
  }

  /** [[bmpRoundTrip]] through the PPM codec instead — same deterministic
    * pixel fixture, same feature shape, a completely different container
    * format ([[Ppm]]). The oracle for both is the SAME closed-form SQL
    * (it recomputes from the generating formulas, never through a codec),
    * so the two queries agreeing is a cross-codec consistency proof: any
    * format-specific parse defect breaks exactly one of them.
    */
  def ppmRoundTrip(ids: Dataset[java.lang.Long]): Dataset[BmpFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { boxed =>
        val id = boxed.longValue()
        val (w, h) = bmpDims(id)
        val rgb = Array.tabulate(w * h * 3)(k => bmpPixelByte(id, k))
        val (dw, dh, decoded) = Ppm.decode(Ppm.encode(w, h, rgb))
        md.reset()
        val digest = md.digest(hexLower(decoded).getBytes("UTF-8"))
        BmpFeatures(id, dw, dh, dw.toLong * dh, hexLower(digest))
      }
    }
  }

  /** [[bmpRoundTrip]] through the PNG codec — the COMPRESSED container
    * ([[Png]]: zlib DEFLATE + five-filter scanline prediction + CRC-verified
    * chunks). Same deterministic pixel fixture, same feature shape, same
    * closed-form SQL oracle as BMP/PPM, so the three queries agreeing is a
    * three-way cross-codec consistency proof whose third leg exercises real
    * decompression — the part of multimodal ingestion where parse defects
    * actually live.
    */
  def pngRoundTrip(ids: Dataset[java.lang.Long]): Dataset[BmpFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { boxed =>
        val id = boxed.longValue()
        val (w, h) = bmpDims(id)
        val rgb = Array.tabulate(w * h * 3)(k => bmpPixelByte(id, k))
        val (dw, dh, decoded) = Png.decode(Png.encode(w, h, rgb))
        md.reset()
        val digest = md.digest(hexLower(decoded).getBytes("UTF-8"))
        BmpFeatures(id, dw, dh, dw.toLong * dh, hexLower(digest))
      }
    }
  }

  /** [[bmpRoundTrip]] through the GIF codec — the SECOND compressed
    * container, from a different compression family ([[Gif]]: dynamic-
    * dictionary LZW with variable-width codes vs PNG's DEFLATE). Same
    * deterministic pixel fixture (≤48 pixels, so the exact palette always
    * fits 256 entries and the round-trip is lossless), same feature shape,
    * same closed-form SQL oracle — the four image queries agreeing is a
    * four-way cross-codec proof with two independent compression families.
    */
  def gifRoundTrip(ids: Dataset[java.lang.Long]): Dataset[BmpFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { boxed =>
        val id = boxed.longValue()
        val (w, h) = bmpDims(id)
        val rgb = Array.tabulate(w * h * 3)(k => bmpPixelByte(id, k))
        val (dw, dh, decoded) = Gif.decode(Gif.encode(w, h, rgb))
        md.reset()
        val digest = md.digest(hexLower(decoded).getBytes("UTF-8"))
        BmpFeatures(id, dw, dh, dw.toLong * dh, hexLower(digest))
      }
    }
  }

  // ------------------------------------------------------------ real Y4M

  /** Deterministic per-document VIDEO spec for the Y4M fixture: C444 at the
    * [[bmpDims]] frame size, n = 1 + doc_id%8 frames (the same frame-count
    * formula as [[mediaTable]]), plane bytes affine in (doc_id, frame, k)
    * with coprime strides so a frame-boundary or plane-order defect changes
    * bytes. The ORACLE recomputes every output from these formulas directly
    * — never through Y4M — so encode→decode→sample must round-trip exactly.
    */
  def y4mFrameCount(docId: Long): Int = (1 + docId % 8).toInt

  def y4mY(docId: Long, t: Int, k: Int): Byte = ((docId * 31 + t * 17 + k.toLong * 7 + 13) % 256).toByte
  def y4mU(docId: Long, t: Int, k: Int): Byte = ((docId * 5 + t * 11 + k.toLong * 3 + 1) % 256).toByte
  def y4mV(docId: Long, t: Int, k: Int): Byte = ((docId * 3 + t * 13 + k.toLong * 5 + 2) % 256).toByte

  /** Per-id: synthesize frames → encode as a real Y4M stream → decode with
    * the real parser → TEMPORAL SAMPLE (every 2nd frame, the same 1-based-
    * odd-positions rule as [[sampleFrames]]) → features from the DECODED
    * sampled planes only. This is the video-ingest shape — parse the
    * container once, then subsample frames BEFORE any expensive per-frame
    * work — and it is map-only: payloads never cross a shuffle.
    */
  def y4mRoundTrip(ids: Dataset[java.lang.Long]): Dataset[Y4mFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { boxed =>
        val id = boxed.longValue()
        val (w, h) = bmpDims(id)
        val planeLen = w * h
        val frames = (0 until y4mFrameCount(id)).map { t =>
          Y4m.Frame(
            Array.tabulate(planeLen)(k => y4mY(id, t, k)),
            Array.tabulate(planeLen)(k => y4mU(id, t, k)),
            Array.tabulate(planeLen)(k => y4mV(id, t, k)))
        }
        val (dw, dh, decoded) = Y4m.decode(Y4m.encode(w, h, frames))
        val sampled = decoded.zipWithIndex.collect { case (f, t) if t % 2 == 0 => f }
        var ySum = 0L
        val hex = new java.lang.StringBuilder(sampled.size * 3 * planeLen * 2)
        sampled.foreach { f =>
          f.y.foreach(b => ySum += (b & 0xff))
          hex.append(hexLower(f.y)).append(hexLower(f.u)).append(hexLower(f.v))
        }
        md.reset()
        val digest = md.digest(hex.toString.getBytes("UTF-8"))
        Y4mFeatures(id, dw, dh, decoded.size, sampled.size, ySum, hexLower(digest))
      }
    }
  }

  // ------------------------------------------------------------ real WAV

  /** Deterministic per-document audio spec for the WAV fixture: mono
    * 16-bit PCM at [[WavRate]] Hz, n = 200 + doc_id%200 samples, sample
    * i = ((i·(doc_id%7+3)) mod 2048) − 1024 — a pure-integer sawtooth
    * whose period varies per doc. The ORACLE recomputes n, duration, the
    * sum of squares, and the peak from these formulas directly (never
    * through WAV), so encode→decode must round-trip every sample exactly.
    */
  val WavRate = 8000

  def wavSampleCount(docId: Long): Int = (200 + docId % 200).toInt

  def wavSample(docId: Long, i: Int): Short =
    (((i.toLong * (docId % 7 + 3)) % 2048) - 1024).toShort

  /** Per-id: synthesize samples → encode as a real WAV → decode with the
    * real parser → features from the DECODED samples only.
    */
  def wavRoundTrip(ids: Dataset[java.lang.Long]): Dataset[WavFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(_.map { boxed =>
      val id = boxed.longValue()
      val n = wavSampleCount(id)
      val samples = Array.tabulate(n)(i => wavSample(id, i))
      val (rate, decoded) = Wav.decode(Wav.encode(WavRate, samples))
      var sumSq = 0L
      var peak = 0L
      var i = 0
      while (i < decoded.length) {
        val s = decoded(i).toLong
        sumSq += s * s
        val a = math.abs(s)
        if (a > peak) peak = a
        i += 1
      }
      WavFeatures(id, rate, decoded.length.toLong,
        decoded.length.toLong * 1000L / rate, sumSq, peak)
    })
  }

  /** Decode → decimate-by-2 (pair mean, TRUNCATING division — DuckDB's
    * `//` truncates toward zero like JVM int division, so the oracle can
    * state the output sample in closed form; an odd trailing sample drops,
    * mirroring [[boxHalve]]'s odd-edge rule) → re-encode at half rate →
    * decode AGAIN, features from the second decode — so the output checks
    * the resampler and the re-encode round-trip, not just the first parse.
    * The audio parallel of the image decode→resize→re-encode pipeline.
    */
  def wavDownsample(ids: Dataset[java.lang.Long]): Dataset[WavFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(_.map { boxed =>
      val id = boxed.longValue()
      val n = wavSampleCount(id)
      val samples = Array.tabulate(n)(i => wavSample(id, i))
      val (rate, decoded) = Wav.decode(Wav.encode(WavRate, samples))
      val out = Array.tabulate(decoded.length / 2) { j =>
        ((decoded(2 * j) + decoded(2 * j + 1)) / 2).toShort
      }
      val (rate2, decoded2) = Wav.decode(Wav.encode(rate / 2, out))
      var sumSq = 0L
      var peak = 0L
      var i = 0
      while (i < decoded2.length) {
        val s = decoded2(i).toLong
        sumSq += s * s
        val a = math.abs(s)
        if (a > peak) peak = a
        i += 1
      }
      WavFeatures(id, rate2, decoded2.length.toLong,
        decoded2.length.toLong * 1000L / rate2, sumSq, peak)
    })
  }

  /** Deterministic per-document PERIODIC audio spec for the pitch fixture:
    * a pure sawtooth with period p = 16 + doc_id%17 samples (sample
    * i = (i mod p)·64 − 1024), n = 200 + doc_id%200 samples — so the
    * autocorrelation argmax over the lag search window recovers p exactly
    * (validated exhaustively over the id space: for an exactly periodic
    * signal R(p) is a sum of n−p squares, strictly above every other lag
    * in the window).
    */
  def wavPitchPeriod(docId: Long): Int = (16 + docId % 17).toInt

  def wavPitchSample(docId: Long, i: Int): Short =
    ((i % wavPitchPeriod(docId)) * 64 - 1024).toShort

  /** Lag search window for [[wavPitch]]: covers every fixture period
    * (16..32) plus headroom to 40 so the first harmonic's 2p candidate is
    * IN the window for small p — the detector must beat it on R, not be
    * protected from it. Lower lags are excluded the way every
    * autocorrelation pitch detector excludes them (R(small lag) tracks
    * R(0) for any slowly-varying signal).
    */
  val PitchMinLag = 16
  val PitchMaxLag = 40

  /** Audio FEATURE EXTRACTION through the real codec: decode the WAV,
    * then detect the fundamental period by integer autocorrelation —
    * R(lag) = Σ s[i]·s[i+lag], argmax over the lag window, first-occurrence
    * tie-break (matches the oracle's list_position). All-integer math so
    * the result is bit-equal cross-engine; every output derives from the
    * DECODED samples only. O(n·window) per doc, map-only.
    */
  def wavPitch(ids: Dataset[java.lang.Long]): Dataset[WavPitch] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(_.map { boxed =>
      val id = boxed.longValue()
      val n = wavSampleCount(id)
      val samples = Array.tabulate(n)(i => wavPitchSample(id, i))
      val (_, s) = Wav.decode(Wav.encode(WavRate, samples))
      var r0 = 0L
      var i = 0
      while (i < s.length) { r0 += s(i).toLong * s(i); i += 1 }
      var bestLag = -1
      var bestR = Long.MinValue
      var lag = PitchMinLag
      while (lag <= PitchMaxLag) {
        var r = 0L
        var j = 0
        while (j + lag < s.length) { r += s(j).toLong * s(j + lag); j += 1 }
        if (r > bestR) { bestR = r; bestLag = lag } // strict: first max wins
        lag += 1
      }
      WavPitch(id, s.length.toLong, bestLag, bestR, r0)
    })
  }

  // ------------------------------------- real decode / resize pipelines

  /** Dims for the decode/resize fixtures: 9..16 per axis. Strictly above
    * [[BmpHalfMaxDim]] and at most 2×[[BmpHalfMaxDim]], so the halving
    * resize loop performs EXACTLY one real box-downscale step for every
    * document — which is what lets the DuckDB oracle state the output pixel
    * formula in closed form (a multi-step box average does not compose into
    * one flat SQL expression).
    */
  def bmpDims2(docId: Long): (Int, Int) =
    ((9 + (docId % 8)).toInt, (9 + ((docId * 3) % 8)).toInt)

  /** Resize target for the BMP pipeline (see [[bmpDims2]]). */
  val BmpHalfMaxDim: Int = 8

  /** `documents.doc_id` → [[MediaRecord]] whose payload is a REAL 24-bit
    * BMP of the deterministic pixels. In production this DataFrame comes
    * straight off parquet; every downstream stage treats payload as opaque
    * bytes until a codec touches it.
    */
  def bmpMediaTable(ids: Dataset[java.lang.Long]): Dataset[MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(_.map { boxed =>
      val id = boxed.longValue()
      val (w, h) = bmpDims2(id)
      val rgb = Array.tabulate(w * h * 3)(k => bmpPixelByte(id, k))
      MediaRecord(id, "image", w, h, 1, Bmp.encode(w, h, rgb))
    })
  }

  /** Exact 2×2 box downscale: out(x,y,c) = floor(mean of the four covered
    * input samples); a trailing odd row/column is dropped (out dims are the
    * integer halves). Integer arithmetic only, so the result is bit-equal
    * across engines — a float resampler would make the rounding mode
    * observable in the oracle hash.
    */
  def boxHalve(w: Int, h: Int, rgb: Array[Byte]): (Int, Int, Array[Byte]) = {
    val ow = w / 2
    val oh = h / 2
    val out = new Array[Byte](ow * oh * 3)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        var c = 0
        while (c < 3) {
          val s = (rgb(((2 * y) * w + 2 * x) * 3 + c) & 0xff) +
            (rgb(((2 * y) * w + 2 * x + 1) * 3 + c) & 0xff) +
            (rgb(((2 * y + 1) * w + 2 * x) * 3 + c) & 0xff) +
            (rgb(((2 * y + 1) * w + 2 * x + 1) * 3 + c) & 0xff)
          out((y * ow + x) * 3 + c) = (s / 4).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    (ow, oh, out)
  }

  /** REAL resize of one record: decode the BMP payload, box-halve until
    * both dims fit `maxDim`, re-encode as BMP. The loop is general; on the
    * [[bmpDims2]] fixture it runs exactly once (see that doc).
    */
  def bmpResize(r: MediaRecord, maxDim: Int): MediaRecord = {
    var (w, h, rgb) = Bmp.decode(r.payload)
    while (w > maxDim || h > maxDim) {
      val t = boxHalve(w, h, rgb)
      w = t._1; h = t._2; rgb = t._3
    }
    r.copy(width = w, height = h, payload = Bmp.encode(w, h, rgb))
  }

  /** Typed resize pipeline over REAL pixels: decode → box-halve → re-encode
    * per record, then a SECOND decode of the re-encoded payload feeds the
    * feature hash — so the output checks the scaler AND that the re-encode
    * round-trips, not just the first parse.
    */
  def bmpResizedFeatures(ids: Dataset[java.lang.Long], maxDim: Int): Dataset[BmpFeatures] = {
    import ids.sparkSession.implicits._
    bmpMediaTable(ids).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val resized = bmpResize(r, maxDim)
        val (w, h, rgb) = Bmp.decode(resized.payload)
        md.reset()
        val digest = md.digest(hexLower(rgb).getBytes("UTF-8"))
        BmpFeatures(r.doc_id, w, h, w.toLong * h, hexLower(digest))
      }
    }
  }

  /** Typed decode pipeline over REAL payloads: every feature is computed
    * from the parser's output bytes, none from the synthesis inputs — the
    * oracle recomputes them from the generating formulas, so any parse
    * defect mismatches. Same partition-iterator shape as [[decodeAll]].
    */
  def bmpDecodedFeatures(ids: Dataset[java.lang.Long]): Dataset[MediaFeatures] = {
    import ids.sparkSession.implicits._
    bmpMediaTable(ids).mapPartitions(_.map { r =>
      val (w, h, rgb) = Bmp.decode(r.payload)
      val n = w * h * 3
      var sum = 0L
      var i = 0
      while (i < n) { sum += (rgb(i) & 0xff); i += 1 }
      MediaFeatures(
        doc_id = r.doc_id,
        media_type = r.media_type,
        n_bytes = n.toLong,
        mean_byte = sum.toDouble / n.toDouble,
        first_byte = rgb(0) & 0xff,
        frame_count = r.n_frames)
    })
  }

  // ----------------------------------------------------- real JPEG

  /** Shared quantization step for both JPEG fixtures, ZIGZAG index z:
    * q(z) = 1 + (3z mod 17) ∈ [1, 17]. SQL-restatable, and ≥1 everywhere so
    * a coefficient is nonzero iff its dequantized value is — which keeps
    * the two engines' nonzero counts trivially aligned.
    */
  def jpegQuant(z: Int): Int = 1 + ((z * 3) % 17)

  /** Coeff-gate image size in BLOCKS: 1..3 across, 1..2 down (≤6 blocks,
    * so multi-block DC prediction and 2-D block rastering are both live).
    */
  def jpegCoeffDims(docId: Long): (Int, Int) =
    ((1 + (docId % 3)).toInt, (1 + ((docId * 3) % 2)).toInt)

  /** Coeff-gate quantized coefficient at block b (raster), zigzag z:
    * DC ∈ [−256, 255] per block (diffs stay inside Annex K category 9);
    * AC nonzero on a mod-11 lattice with values ∈ [−32, 31] (size ≤ 6),
    * zero elsewhere — sparse like real quantized spectra, so the encoder
    * emits genuine run/EOB/ZRL structure.
    */
  def jpegCoeff(docId: Long, b: Int, z: Int): Int =
    if (z == 0) ((docId * 7 + b * 13) % 512 - 256).toInt
    else if ((docId + b * 3 + z * 7) % 11 == 0) ((docId * 5 + b + z * 3) % 64 - 32).toInt
    else 0

  /** Pixel-gate quantized coefficient (fixed 16×8 image = 2 blocks, so DC
    * prediction crosses a block boundary while the oracle's per-pixel
    * 64-term closed form stays 128 pixels per document).
    */
  def jpegPixCoeff(docId: Long, b: Int, z: Int): Int =
    if (z == 0) ((docId * 11 + b * 29) % 512 - 256).toInt
    else if ((docId + b * 5 + z * 3) % 13 == 0) ((docId * 7 + b * 11 + z) % 32 - 16).toInt
    else 0

  private def jpegQuantTable: Array[Int] = Array.tabulate(64)(jpegQuant)

  /** Per-id: synthesize quantized coefficients → encode as a real baseline
    * JPEG → [[Jpeg.decodeCoeffs]] with the real parser → features from the
    * DECODED dequantized values only (count, position-weighted checksum,
    * digest of the comma-joined sequence in block-raster × zigzag order).
    * The oracle recomputes all three from the generating formulas × the
    * quant formula — any marker, DHT, Huffman, run-length, DC-prediction,
    * or dequantization defect mismatches. Map-only; payloads never shuffle.
    */
  def jpegCoeffRoundTrip(ids: Dataset[java.lang.Long]): Dataset[JpegCoeffFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { boxed =>
        val id = boxed.longValue()
        val (wb, hb) = jpegCoeffDims(id)
        val nb = wb * hb
        val blocks = Array.tabulate(nb)(b => Array.tabulate(64)(z => jpegCoeff(id, b, z)))
        val bytes = Jpeg.encode(wb * 8, hb * 8, jpegQuantTable, blocks)
        val (w, h, _, dq) = Jpeg.decodeCoeffs(bytes)
        var nonzero = 0L
        var checksum = 0L
        val joined = new java.lang.StringBuilder(nb * 64 * 3)
        var i = 0
        while (i < dq.length * 64) {
          val v = dq(i / 64)(i % 64)
          if (v != 0) nonzero += 1
          checksum += (i + 1).toLong * v
          if (i > 0) joined.append(',')
          joined.append(v)
          i += 1
        }
        md.reset()
        val digest = md.digest(joined.toString.getBytes("UTF-8"))
        JpegCoeffFeatures(id, w, h, dq.length, nonzero, checksum, hexLower(digest))
      }
    }
  }

  /** Per-id: synthesize quantized coefficients → real JPEG →
    * [[Jpeg.decodePixels]] (full parse + exact fixed-point IDCT + level
    * shift + clamp) → features from the DECODED pixels only. Because the
    * IDCT rounds exactly once per sample (see [[Jpeg]]), the oracle states
    * every output pixel as one integer expression over the coefficient
    * formulas and the shared FTable/zigzag literals — general AC content,
    * not just DC-flat blocks, graded bit-for-bit.
    */
  def jpegRoundTrip(ids: Dataset[java.lang.Long]): Dataset[JpegPixelFeatures] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { boxed =>
        val id = boxed.longValue()
        val blocks = Array.tabulate(2)(b => Array.tabulate(64)(z => jpegPixCoeff(id, b, z)))
        val bytes = Jpeg.encode(16, 8, jpegQuantTable, blocks)
        val (w, h, px) = Jpeg.decodePixels(bytes)
        var sum = 0L
        val out = new Array[Byte](px.length)
        var i = 0
        while (i < px.length) { sum += px(i); out(i) = px(i).toByte; i += 1 }
        md.reset()
        val digest = md.digest(hexLower(out).getBytes("UTF-8"))
        JpegPixelFeatures(id, w, h, sum, hexLower(digest))
      }
    }
  }
}
