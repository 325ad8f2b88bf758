package graft.operators

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata next to the interleaved span table
  * (input_hint). Image decode, luminance features and resize are REAL
  * (javax.imageio — PNG/JPEG/GIF/BMP ship in the JDK, no external
  * library); audio/video decode remains a documented stub behind the
  * same signature (no codec library in the JDK).
  */
object Multimodal {

  /** REAL image decode via javax.imageio: returns (width, height,
    * 16-bin luminance histogram), or None when the payload is not a
    * decodable image. Deterministic: integer luminance (r+g+b)/3 over
    * getRGB (fast raster path for 8-bit gray), bin = lum >> 4.
    */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Long])] = {
    if (bytes == null) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      // NonFatal, not just IOException: ImageIO plugin readers throw
      // RuntimeExceptions (ArrayIndexOutOfBounds, CMMException, ...) on
      // malformed payloads; one bad crawled image must not fail the task.
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return None
    val hist = new Array[Long](16)
    val w = img.getWidth
    val h = img.getHeight
    if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { hist(raster.getSample(x, y, 0) >> 4) += 1; x += 1 }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
          hist(lum >> 4) += 1
          x += 1
        }
        y += 1
      }
    }
    Some((w, h, hist))
  }

  /** Deterministic 8-bit gray PNG encoder (fixture/test side of the
    * decode contract — PNG is lossless, so decode(encode(px)) == px).
    */
  def encodeGrayPng(width: Int, height: Int,
                    pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL resize: decode, nearest-neighbor scale to fit maxDim (nearest
    * is exactly reproducible — no interpolation rounding ambiguity),
    * re-encode PNG. Returns null for non-image payloads (caller keeps
    * the original).
    */
  def resizeImage(bytes: Array[Byte], maxDim: Int): Array[Byte] = {
    if (bytes == null) return null
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      // NonFatal, not just IOException: ImageIO plugin readers throw
      // RuntimeExceptions (ArrayIndexOutOfBounds, CMMException, ...) on
      // malformed payloads; one bad crawled image must not fail the task.
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    val scale = maxDim.toDouble / math.max(w, h)
    val ow = math.max(1, math.round(w * scale).toInt)
    val oh = math.max(1, math.round(h * scale).toInt)
    val out = new java.awt.image.BufferedImage(ow, oh, img.getType match {
      case 0 => java.awt.image.BufferedImage.TYPE_INT_RGB
      case t => t
    })
    // nearest-neighbor sampling by hand: no AWT rendering-hint variance.
    // When the output carries the source's raster layout, copy samples
    // band-by-band — getRGB/setRGB would round-trip gray pixels through
    // sRGB gamma and corrupt them by ±1.
    val sameLayout = out.getType == img.getType &&
      out.getRaster.getNumBands == img.getRaster.getNumBands
    val sr = img.getRaster
    val or = out.getRaster
    val nb = sr.getNumBands
    var y = 0
    while (y < oh) {
      val sy = math.min(h - 1, (y.toLong * h / oh).toInt)
      var x = 0
      while (x < ow) {
        val sx = math.min(w - 1, (x.toLong * w / ow).toInt)
        if (sameLayout) {
          var b = 0
          while (b < nb) { or.setSample(x, y, b, sr.getSample(sx, sy, b)); b += 1 }
        } else out.setRGB(x, y, img.getRGB(sx, sy))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  val decodeImageUdf = udf((b: Array[Byte]) =>
    decodeImage(b).map { case (w, h, hist) => (w, h, hist) })

  /** 64-bit average perceptual hash (aHash) of an image, in EXACT
    * integer arithmetic so an oracle can replay it from a pixel
    * formula: pixel (x,y) maps to 8×8 grid cell (x·8 div w, y·8 div h);
    * cell bit = 1 iff cellSum·(w·h) > totalSum·cellN (cell mean above
    * global mean, compared cross-multiplied — no float mean anywhere).
    * Bit index = (by·8+bx); returned as two non-negative 32-bit halves
    * (lo = bits 0–31, hi = bits 32–63) so downstream SQL needs no
    * signed-64 shift games. Luminance matches [[decodeImage]]:
    * gray raster sample, or (r+g+b)/3 truncated.
    */
  def aHash(bytes: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    if (bytes == null) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0) return None
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    val gray = img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val raster = if (gray) img.getRaster else null
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val lum =
          if (gray) raster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
          }
        val c = by * 8 + x * 8 / w
        sums(c) += lum
        cnts(c) += 1
        total += lum
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    var hi = 0L
    var lo = 0L
    var c = 0
    while (c < 64) {
      if (sums(c) * n > total * cnts(c)) {
        if (c < 32) lo |= 1L << c else hi |= 1L << (c - 32)
      }
      c += 1
    }
    Some((w, h, hi, lo))
  }

  val aHashUdf = udf((b: Array[Byte]) => aHash(b))

  /** Per-image aHash table: (refCol, width, height, hash_hi, hash_lo);
    * undecodable payloads drop (they carry no visual identity).
    */
  def imageAHashes(media: DataFrame, refCol: String = "media_ref",
                   bytesCol: String = "bytes"): DataFrame =
    media
      .withColumn("__ah", aHashUdf(col(bytesCol)))
      .filter(col("__ah").isNotNull)
      .select(col(refCol),
        col("__ah._1").cast(org.apache.spark.sql.types.LongType)
          .as("width"),
        col("__ah._2").cast(org.apache.spark.sql.types.LongType)
          .as("height"),
        col("__ah._3").as("hash_hi"), col("__ah._4").as("hash_lo"))

  /** Perceptual near-duplicate image pairs: aHash + the simhash
    * playbook — 4×16-bit band blocking (exact for maxDist ≤ 3 by
    * pigeonhole), then codegen'd bit_count(xor) Hamming verification.
    * The resize/crop/re-encode copies that byte-digest dedup misses
    * land within a few aHash bits; the decode UDF runs once per image
    * (the hash table is checkpoint-pinned so the band self-join's two
    * sides read it instead of re-decoding), everything after is
    * integer columns.
    */
  def imageNearDupPairs(media: DataFrame, maxDist: Int = 3,
                        refCol: String = "media_ref",
                        bytesCol: String = "bytes"): DataFrame =
    nearDupPairsFromHashes(
      Pin(imageAHashes(media, refCol, bytesCol)),
      maxDist, refCol)

  /** The blocking + verification half of [[imageNearDupPairs]], over an
    * already-materialized hash table (refCol, hash_hi, hash_lo) —
    * callers that need the hashes for other purposes too (evaluation
    * against exhaustive truth, dedup statistics) hash/decode once and
    * feed both consumers. `hashed` is referenced from both sides of the
    * band self-join; pass it checkpoint-pinned or cheap to recompute.
    *
    * Each qualifying pair is emitted EXACTLY once — from its lowest
    * matching band (a pair matching band k must differ in every band
    * below k, a codegen'd filter) — instead of once per matching band
    * followed by a distinct(): identical-hash clusters match all 4
    * bands, so the old form shuffled 4× the pairs into a dedup
    * exchange that this plan does not have at all.
    */
  def nearDupPairsFromHashes(hashed: DataFrame, maxDist: Int = 3,
                             refCol: String = "media_ref"): DataFrame = {
    require(maxDist <= 3, "4-band blocking is only exact for maxDist <= 3")
    def bandOf(side: String, j: Int) = j match {
      case 0 => col(s"$side.hash_lo").bitwiseAND(lit(0xffffL))
      case 1 => shiftright(col(s"$side.hash_lo"), 16)
      case 2 => col(s"$side.hash_hi").bitwiseAND(lit(0xffffL))
      case 3 => shiftright(col(s"$side.hash_hi"), 16)
    }
    val banded = hashed.select(
      col(refCol), col("hash_hi"), col("hash_lo"),
      explode(array(
        struct(lit(0).as("band"),
          col("hash_lo").bitwiseAND(lit(0xffffL)).as("bh")),
        struct(lit(1).as("band"),
          shiftright(col("hash_lo"), 16).as("bh")),
        struct(lit(2).as("band"),
          col("hash_hi").bitwiseAND(lit(0xffffL)).as("bh")),
        struct(lit(3).as("band"),
          shiftright(col("hash_hi"), 16).as("bh")))).as("bb"))
      .select(col(refCol), col("hash_hi"), col("hash_lo"),
        col("bb.band"), col("bb.bh"))
    // no band below the matched one may also match, so each pair
    // surfaces exactly once (replaces a distinct() over 4× the rows)
    val firstBand = (0 until 3).map { j =>
      (lit(j) >= col("a.band")) || (bandOf("a", j) =!= bandOf("b", j))
    }.reduce(_ && _)
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$refCol") < col(s"b.$refCol") && firstBand)
      .select(col(s"a.$refCol").as("a_ref"), col(s"b.$refCol").as("b_ref"),
        (bit_count(col("a.hash_hi").bitwiseXOR(col("b.hash_hi"))) +
          bit_count(col("a.hash_lo").bitwiseXOR(col("b.hash_lo"))))
          .cast(org.apache.spark.sql.types.LongType).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Real image feature extraction: (decoded_w, decoded_h, 16-bin
    * luminance histogram) per row for decodable payloads; undecodable
    * rows get nulls (callers filter or fall back to byteFeatures).
    */
  def imageFeatures(media: DataFrame, partitions: Int = 0): DataFrame = {
    val repart = if (partitions > 0)
      media.repartition(partitions, col("media_ref")) else media
    repart
      .withColumn("dec", decodeImageUdf(col("bytes")))
      .withColumn("dec_width", col("dec._1"))
      .withColumn("dec_height", col("dec._2"))
      .withColumn("lum_hist", col("dec._3"))
      .drop("dec")
  }

  // ---- REAL audio decode: PCM WAV (RIFF) ----
  // The JDK ships no compressed-audio codecs, but PCM WAV is a plain
  // container — a RIFF chunk walk and integer samples. This upgrades the
  // audio path from stub to real for uncompressed audio; compressed
  // formats drop into the same (bytes -> features) contract.

  /** Parsed WAV: format fields + features computed in EXACT integer
    * arithmetic (sum of squared raw sample deviations, strict sign-change
    * count on channel 0) so an oracle replaying the sample formula gets
    * bit-identical values.
    */
  case class WavFeatures(sample_rate: Int, channels: Int, bits: Int,
                         n_frames: Long, duration_ms: Long,
                         sum_sq: Long, zero_crossings: Long)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  // IMA-ADPCM tables (public spec: IMA "Recommended Practices for
  // Enhancing Digital Audio Compatibility", also RFC 3551 DVI4): the
  // 89-entry step-size table and the per-magnitude index adjustment.
  // visible to the query layer: the oracle SQL embeds this same table
  val ImaSteps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private def imaIndexAdj(magnitude: Int): Int =
    if (magnitude < 4) -1 else (magnitude - 3) * 2 // 4→2, 5→4, 6→6, 7→8

  /** One IMA step shared by encoder and decoder: given state and the
    * 3-bit magnitude+sign, returns (newPredictor, newIndex). The
    * reconstruction diff is computed FROM the nibble bits (step/8 +
    * bit-gated step, step/2, step/4), exactly as the decoder does — the
    * encoder tracking this same state is what makes ADPCM self-correcting.
    */
  private def imaAdvance(pred: Int, idx: Int, nibble: Int): (Int, Int) = {
    val step = ImaSteps(idx)
    val delta = nibble & 7
    var diffq = step >> 3
    if ((delta & 4) != 0) diffq += step
    if ((delta & 2) != 0) diffq += step >> 1
    if ((delta & 1) != 0) diffq += step >> 2
    val p0 = if ((nibble & 8) != 0) pred - diffq else pred + diffq
    val p = math.max(-32768, math.min(32767, p0))
    val i = math.max(0, math.min(88, idx + imaIndexAdj(delta)))
    (p, i)
  }

  /** Decode WAV bytes: PCM (8-bit unsigned / 16-bit signed LE) or mono
    * IMA-ADPCM (format tag 0x11 — the one compressed codec with a fully
    * public pure-integer spec; bits=4 in the result marks it). Returns
    * None for anything else — crawled media must never fail the task.
    */
  def decodeWav(bytes: Array[Byte]): Option[WavFeatures] = {
    try {
      if (bytes == null || bytes.length < 44) return None
      if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
            bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
            bytes(10) == 'V' && bytes(11) == 'E')) return None
      var pos = 12
      var channels = 0; var rate = 0; var bits = 0; var fmtTag = -1
      var blockAlign = 0; var samplesPerBlock = 0
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= bytes.length) {
        val id = new String(bytes, pos, 4, "US-ASCII")
        val size = le32(bytes, pos + 4)
        if (size < 0 || pos + 8 + size > bytes.length) return None
        id match {
          case "fmt " if size >= 16 =>
            fmtTag = le16(bytes, pos + 8)
            channels = le16(bytes, pos + 10)
            rate = le32(bytes, pos + 12)
            blockAlign = le16(bytes, pos + 20)
            bits = le16(bytes, pos + 22)
            if (fmtTag == 0x11 && size >= 20)
              samplesPerBlock = le16(bytes, pos + 26)
          case "data" => dataOff = pos + 8; dataLen = size
          case _ => ()
        }
        pos += 8 + size + (size & 1) // chunks are word-aligned
      }
      if (dataOff < 0 || channels <= 0 || rate <= 0) return None
      if (fmtTag == 0x11)
        return decodeImaAdpcm(bytes, dataOff, dataLen, channels, rate,
                              bits, blockAlign, samplesPerBlock)
      if ((fmtTag == 6 || fmtTag == 7) && bits == 8)
        return decodeG711(bytes, dataOff, dataLen, channels, rate,
                          mulaw = fmtTag == 7)
      if (fmtTag != 1 || (bits != 8 && bits != 16)) return None
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * channels
      val nFrames = dataLen / frameBytes
      var sumSq = 0L
      var zc = 0L
      var prevSign = 0
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          val off = dataOff + f * frameBytes + c * bytesPerSample
          // centered sample value (deviation from silence)
          val v = if (bits == 8) (bytes(off) & 0xff) - 128
                  else le16(bytes, off).toShort.toInt
          sumSq += v.toLong * v
          if (c == 0) { // zero crossings on channel 0, strict sign change
            val s = java.lang.Integer.signum(v)
            if (s != 0 && prevSign != 0 && s != prevSign) zc += 1
            if (s != 0) prevSign = s
          }
          c += 1
        }
        f += 1
      }
      Some(WavFeatures(rate, channels, bits, nFrames,
        nFrames * 1000L / rate, sumSq, zc))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- G.711 (ITU-T) — REAL compressed telephony audio: 8-bit
  //      companded bytes expand to 13/14-bit linear PCM by a pure
  //      integer formula, so the oracle can replay the decode in SQL.

  /** μ-law byte → linear sample (G.711 expansion, BIAS 0x84). */
  def ulawToLinear(b: Int): Int = {
    val u = ~b & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** A-law byte → linear sample (G.711 expansion, 0x55 toggle; note
    * the sign bit SET means positive in A-law).
    */
  def alawToLinear(b: Int): Int = {
    val a = b ^ 0x55
    val q = a & 0x0f
    val seg = (a & 0x70) >> 4
    val t = seg match {
      case 0 => (q << 4) + 8
      case 1 => (q << 4) + 0x108
      case s => ((q << 4) + 0x108) << (s - 1)
    }
    if ((a & 0x80) != 0) t else -t
  }

  private def decodeG711(bytes: Array[Byte], dataOff: Int, dataLen: Int,
                         channels: Int, rate: Int,
                         mulaw: Boolean): Option[WavFeatures] = {
    val nFrames = dataLen / channels
    var sumSq = 0L; var zc = 0L; var prevSign = 0
    var f = 0
    while (f < nFrames) {
      var c = 0
      while (c < channels) {
        val raw = bytes(dataOff + f * channels + c) & 0xff
        val v = if (mulaw) ulawToLinear(raw) else alawToLinear(raw)
        sumSq += v.toLong * v
        if (c == 0) {
          val s = java.lang.Integer.signum(v)
          if (s != 0 && prevSign != 0 && s != prevSign) zc += 1
          if (s != 0) prevSign = s
        }
        c += 1
      }
      f += 1
    }
    Some(WavFeatures(rate, channels, 8, nFrames,
      nFrames * 1000L / rate, sumSq, zc))
  }

  /** Canonical G.711 WAV builder (tests/fixtures): RIFF + fmt (tag 7
    * μ-law / 6 A-law, mono, 8-bit) + raw companded bytes.
    */
  def encodeG711Wav(rate: Int, mulaw: Boolean,
                    data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("RIFF".getBytes("US-ASCII")); w32(36 + data.length)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); w32(16)
    w16(if (mulaw) 7 else 6); w16(1); w32(rate); w32(rate); w16(1); w16(8)
    out.write("data".getBytes("US-ASCII")); w32(data.length)
    out.write(data)
    if (data.length % 2 == 1) out.write(0) // word-align the chunk
    out.toByteArray
  }

  /** Mono IMA-ADPCM block walk: each block = 4-byte header (predictor
    * int16 LE = the block's FIRST output sample, step index, reserved)
    * + 4-bit samples, LOW nibble first. `samplesPerBlock` (fmt
    * extension) caps decoded samples per block; the same exact-integer
    * features as the PCM path are computed over the DECODED samples.
    */
  private def decodeImaAdpcm(bytes: Array[Byte], dataOff: Int,
                             dataLen: Int, channels: Int, rate: Int,
                             bits: Int, blockAlign: Int,
                             samplesPerBlock: Int): Option[WavFeatures] = {
    if (channels != 1 || bits != 4 || blockAlign < 5 ||
        samplesPerBlock < 1) return None
    var sumSq = 0L; var zc = 0L; var prevSign = 0; var nFrames = 0L
    var off = dataOff
    val end = dataOff + math.min(dataLen, bytes.length - dataOff)
    def take(v: Int): Unit = {
      sumSq += v.toLong * v
      val s = java.lang.Integer.signum(v)
      if (s != 0 && prevSign != 0 && s != prevSign) zc += 1
      if (s != 0) prevSign = s
      nFrames += 1
    }
    while (off + 4 <= end) {
      var pred = le16(bytes, off).toShort.toInt
      var idx = math.max(0, math.min(88, bytes(off + 2) & 0xff))
      take(pred) // header predictor IS sample 0 of the block
      var produced = 1
      val blockEnd = math.min(end, off + blockAlign)
      var p = off + 4
      while (p < blockEnd && produced < samplesPerBlock) {
        val b = bytes(p) & 0xff
        var n = 0
        while (n < 2 && produced < samplesPerBlock) {
          val nib = if (n == 0) b & 0xf else b >>> 4
          val (np, ni) = imaAdvance(pred, idx, nib)
          pred = np; idx = ni
          take(pred)
          produced += 1
          n += 1
        }
        p += 1
      }
      off += blockAlign
    }
    if (nFrames == 0) return None
    Some(WavFeatures(rate, 1, 4, nFrames, nFrames * 1000L / rate,
      sumSq, zc))
  }

  /** Canonical mono IMA-ADPCM WAV encoder (tests/fixtures): one block,
    * initial predictor = samples(0) and index 0 (so sample 0 round-trips
    * exactly), remaining samples as nibbles via the shared imaAdvance
    * state. fmt carries the samplesPerBlock extension + a fact chunk.
    */
  def encodeImaAdpcmWav(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    require(samples.nonEmpty, "need at least one sample")
    val n = samples.length
    val nNib = n - 1
    val dataLen = 4 + (nNib + 1) / 2
    val out = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + 4 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(4 + 28 + 12 + 8 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(0x11).putShort(1).putInt(sampleRate)
      .putInt(sampleRate) // nominal byte rate; decoder does not use it
      .putShort(dataLen.toShort).putShort(4)
      .putShort(2).putShort(n.toShort) // cbSize, samplesPerBlock
    out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(n)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var pred = samples(0); var idx = 0
    out.putShort(pred.toShort).put(0.toByte).put(0.toByte)
    var i = 1
    var byteAcc = 0; var half = false
    while (i < n) {
      val diff = samples(i) - pred
      val sign = if (diff < 0) 8 else 0
      var adiff = math.abs(diff)
      val step = ImaSteps(idx)
      var delta = 0
      if (adiff >= step) { delta |= 4; adiff -= step }
      if (adiff >= (step >> 1)) { delta |= 2; adiff -= step >> 1 }
      if (adiff >= (step >> 2)) delta |= 1
      val nib = sign | delta
      val (np, ni) = imaAdvance(pred, idx, nib)
      pred = np; idx = ni
      if (!half) { byteAcc = nib; half = true }
      else { out.put((byteAcc | (nib << 4)).toByte); half = false }
      i += 1
    }
    if (half) out.put(byteAcc.toByte)
    out.array()
  }

  /** Canonical PCM WAV encoder (tests/fixtures): 8-bit unsigned or
    * 16-bit signed LE, interleaved frames.
    */
  def encodePcmWav(sampleRate: Int, channels: Int, bits: Int,
                   samples: Array[Int]): Array[Byte] = {
    require(bits == 8 || bits == 16, "PCM 8/16 only")
    val bps = bits / 8
    val dataLen = samples.length * bps
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * bps)
      .putShort((channels * bps).toShort).putShort(bits.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      if (bits == 8) out.put(((s + 128) & 0xff).toByte)
      else out.putShort(s.toShort)
    }
    out.array()
  }

  val decodeWavUdf = udf((b: Array[Byte]) => decodeWav(b))

  /** Real audio features over a media table — same batching contract as
    * the image path (repartition bounds task memory, pruning keeps bytes
    * out of non-decode stages).
    */
  def audioFeatures(media: DataFrame, partitions: Int = 0): DataFrame = {
    val repart = if (partitions > 0)
      media.repartition(partitions, col("media_ref")) else media
    repart.withColumn("wav", decodeWavUdf(col("bytes")))
  }

  // ---- REAL video decode: YUV4MPEG2 (y4m) ----
  // Like WAV, y4m is uncompressed: an ASCII stream header
  // (`YUV4MPEG2 W.. H.. F<num>:<den> ...`), then per frame an ASCII
  // `FRAME...` line + raw planar YUV bytes. A chunk walk + integer
  // arithmetic gives real frame decode without any codec.

  /** Parsed y4m: geometry + per-sampled-frame luma sums (exact integer
    * arithmetic so a formula oracle matches bit-for-bit). `frame_ms`
    * and `luma_sum` align index-wise: one entry per sampled frame.
    */
  case class Y4mFeatures(width: Int, height: Int, fps_num: Int,
                         fps_den: Int, n_frames: Long, duration_ms: Long,
                         frame_ms: Seq[Long], luma_sum: Seq[Long])

  /** Decode a YUV4MPEG2 payload (C420 from the header's default or
    * explicit C tag; 4:2:0 frame size = w*h*3/2, C444 = 3*w*h,
    * C422 = 2*w*h). Samples every `everyN`-th frame's luma plane sum.
    * None for malformed payloads — decode never fails a task.
    */
  def decodeY4m(bytes: Array[Byte], everyN: Int = 1): Option[Y4mFeatures] = {
    try {
      if (bytes == null || bytes.length < 10) return None
      val magic = "YUV4MPEG2"
      var i = 0
      while (i < magic.length) {
        if (bytes(i) != magic.charAt(i)) return None
        i += 1
      }
      var eol = i
      while (eol < bytes.length && bytes(eol) != '\n') eol += 1
      if (eol >= bytes.length) return None
      val header = new String(bytes, 0, eol, "US-ASCII")
      var w = 0; var h = 0; var fn = 0; var fd = 1; var colour = "420"
      header.split(" ").drop(1).foreach { tag =>
        if (tag.nonEmpty) tag.charAt(0) match {
          case 'W' => w = tag.tail.toInt
          case 'H' => h = tag.tail.toInt
          case 'F' =>
            val p = tag.tail.split(":")
            fn = p(0).toInt; fd = p(1).toInt
          case 'C' => colour = tag.tail.takeWhile(_.isDigit)
          case _ => ()
        }
      }
      if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0) return None
      // Untrusted header dims: w*h in Int can overflow to a zero/negative
      // frameBytes, and a negative frameBytes can stop `pos` advancing —
      // an infinite loop NonFatal can't catch. A genuine frame must fit
      // the payload, so bound with Long math before any Int arithmetic.
      if (w.toLong * h > bytes.length) return None
      val lumaBytes = w * h
      val frameBytes = colour match {
        case "420" => lumaBytes * 3 / 2
        case "422" => lumaBytes * 2
        case "444" => lumaBytes * 3
        case _ => return None
      }
      if (frameBytes <= 0) return None
      var pos = eol + 1
      var nFrames = 0L
      val frameMs  = scala.collection.mutable.ArrayBuffer.empty[Long]
      val lumaSums = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (pos < bytes.length) {
        // FRAME line (parameters allowed), terminated by \n
        if (pos + 5 > bytes.length ||
            new String(bytes, pos, 5, "US-ASCII") != "FRAME") return None
        var fe = pos + 5
        while (fe < bytes.length && bytes(fe) != '\n') fe += 1
        if (fe >= bytes.length) return None
        val dataOff = fe + 1
        if (dataOff + frameBytes > bytes.length) return None
        if (nFrames % everyN == 0) {
          var s = 0L
          var j = 0
          while (j < lumaBytes) { s += (bytes(dataOff + j) & 0xff); j += 1 }
          frameMs  += nFrames * 1000L * fd / fn
          lumaSums += s
        }
        nFrames += 1
        pos = dataOff + frameBytes
      }
      Some(Y4mFeatures(w, h, fn, fd, nFrames,
        nFrames * 1000L * fd / fn, frameMs.toSeq, lumaSums.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Canonical y4m encoder (tests/fixtures): C420, luma from a pixel
    * formula, chroma planes constant 128.
    */
  def encodeY4m(w: Int, h: Int, fpsNum: Int, fpsDen: Int, nFrames: Int,
                luma: (Int, Int, Int) => Int): Array[Byte] = {
    val headerStr = s"YUV4MPEG2 W$w H$h F$fpsNum:$fpsDen Ip A1:1 C420\n"
    // chroma byte count derived the same way decode sizes the frame
    // (w*h*3/2 - w*h), so odd-dimension fixtures round-trip; real C420
    // requires even dims, where this equals (w/2)*(h/2)*2.
    val chroma2 = w * h * 3 / 2 - w * h
    val buf = new java.io.ByteArrayOutputStream(
      headerStr.length + nFrames * (6 + w * h + chroma2))
    buf.write(headerStr.getBytes("US-ASCII"))
    (0 until nFrames).foreach { f =>
      buf.write("FRAME\n".getBytes("US-ASCII"))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { buf.write(luma(f, x, y) & 0xff); x += 1 }
        y += 1
      }
      var c = 0
      while (c < chroma2) { buf.write(128); c += 1 }
    }
    buf.toByteArray
  }

  val decodeY4mUdf = udf((b: Array[Byte], everyN: Int) => decodeY4m(b, everyN))

  /** Real video features over a media table — decode + frame sampling in
    * one pass; same batching contract as image/audio.
    */
  def videoFeatures(media: DataFrame, everyN: Int = 1,
                    partitions: Int = 0): DataFrame = {
    val repart = if (partitions > 0)
      media.repartition(partitions, col("media_ref")) else media
    repart.withColumn("y4m", decodeY4mUdf(col("bytes"), lit(everyN)))
  }

  // ---- REAL compressed video decode: MJPEG-in-AVI ----
  // The JDK ships a real JPEG codec (javax.imageio), and AVI is a RIFF
  // container — the same chunk-walk machinery as WAV. Motion-JPEG
  // stores each video frame as a complete JPEG inside '##dc'/'##db'
  // chunks of the 'movi' list, so AVI walk + per-frame imageio decode
  // yields a genuinely compressed video path with no external library.

  /** Parsed MJPEG AVI: geometry from the main header, per-sampled-frame
    * luma sums over the DECODED JPEG pixels (same integer luminance as
    * decodeImage). frame_ms/luma_sum align index-wise per sampled frame.
    */
  case class AviFeatures(width: Int, height: Int, us_per_frame: Long,
                         n_frames: Long, duration_ms: Long,
                         frame_ms: Seq[Long], luma_sum: Seq[Long])

  /** Decode an MJPEG AVI payload: RIFF walk ('hdrl' → 'avih' geometry +
    * 'strl'/'strh' stream table, first 'vids' stream must be MJPG by
    * handler or biCompression), then the 'movi' list (one level of
    * 'rec ' nesting) decoding every `everyN`-th video-stream frame with
    * javax.imageio. None for malformed/unsupported payloads — including
    * any undecodable frame — decode never fails a task.
    */
  def decodeAviMjpeg(bytes: Array[Byte], everyN: Int = 1): Option[AviFeatures] = {
    try {
      if (bytes == null || bytes.length < 24 || everyN < 1) return None
      def fcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
      if (fcc(0) != "RIFF" || fcc(8) != "AVI ") return None
      // untrusted size fields: bound every chunk by the payload length
      val fileEnd = math.min(bytes.length.toLong, 8L + le32(bytes, 4)).toInt
      var usPerFrame = 0L; var aviW = 0; var aviH = 0
      var videoStream = -1; var haveMjpg = false
      var moviOff = -1; var moviEnd = -1
      var pos = 12
      while (pos + 8 <= fileEnd) {
        val id = fcc(pos); val size = le32(bytes, pos + 4)
        if (size < 0 || pos + 8 + size > fileEnd) return None
        if (id == "LIST" && size >= 4) {
          val lt = fcc(pos + 8)
          if (lt == "hdrl") {
            var p = pos + 12; var strlIdx = -1
            val hEnd = pos + 8 + size
            while (p + 8 <= hEnd) {
              val cid = fcc(p); val csz = le32(bytes, p + 4)
              if (csz < 0 || p + 8 + csz > hEnd) return None
              if (cid == "avih" && csz >= 40) {
                usPerFrame = le32(bytes, p + 8).toLong & 0xffffffffL
                aviW = le32(bytes, p + 8 + 32)
                aviH = le32(bytes, p + 8 + 36)
              } else if (cid == "LIST" && csz >= 4 && fcc(p + 8) == "strl") {
                strlIdx += 1
                var q = p + 12; val sEnd = p + 8 + csz
                while (q + 8 <= sEnd) {
                  val sid = fcc(q); val ssz = le32(bytes, q + 4)
                  if (ssz < 0 || q + 8 + ssz > sEnd) return None
                  if (sid == "strh" && ssz >= 8 && fcc(q + 8) == "vids" &&
                      videoStream < 0) {
                    videoStream = strlIdx
                    if (fcc(q + 12) == "MJPG") haveMjpg = true
                  } else if (sid == "strf" && ssz >= 20 &&
                             strlIdx == videoStream &&
                             fcc(q + 8 + 16) == "MJPG") haveMjpg = true
                  q += 8 + ssz + (ssz & 1)
                }
              }
              p += 8 + csz + (csz & 1)
            }
          } else if (lt == "movi") {
            moviOff = pos + 12; moviEnd = pos + 8 + size
          }
        }
        pos += 8 + size + (size & 1)
      }
      if (videoStream < 0 || !haveMjpg || moviOff < 0 || usPerFrame <= 0)
        return None
      val vId = f"$videoStream%02d"
      var nFrames = 0L
      val frameMs  = scala.collection.mutable.ArrayBuffer.empty[Long]
      val lumaSums = scala.collection.mutable.ArrayBuffer.empty[Long]
      var ok = true
      def walk(from: Int, to: Int): Unit = {
        var p = from
        while (ok && p + 8 <= to) {
          val cid = fcc(p); val csz = le32(bytes, p + 4)
          if (csz < 0 || p + 8 + csz > to) { ok = false; return }
          if (cid == "LIST" && csz >= 4) walk(p + 12, p + 8 + csz)
          else if (cid.startsWith(vId) &&
                   (cid.endsWith("dc") || cid.endsWith("db"))) {
            if (nFrames % everyN == 0) {
              val img =
                try javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(bytes, p + 8, csz))
                catch { case scala.util.control.NonFatal(_) => null }
              if (img == null) ok = false
              else {
                var s = 0L
                val w = img.getWidth; val h = img.getHeight
                if (img.getType ==
                    java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
                  val raster = img.getRaster
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) { s += raster.getSample(x, y, 0); x += 1 }
                    y += 1
                  }
                } else {
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) {
                      val rgb = img.getRGB(x, y)
                      s += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                            (rgb & 0xff)) / 3
                      x += 1
                    }
                    y += 1
                  }
                }
                frameMs  += nFrames * usPerFrame / 1000L
                lumaSums += s
              }
            }
            nFrames += 1
          }
          p += 8 + csz + (csz & 1)
        }
      }
      walk(moviOff, moviEnd)
      if (!ok || nFrames == 0) return None
      Some(AviFeatures(aviW, aviH, usPerFrame, nFrames,
        nFrames * usPerFrame / 1000L, frameMs.toSeq, lumaSums.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def leIntBytes(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
          ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** RIFF chunk assembly (word-aligned), exposed package-private so
    * specs can compose adversarial containers (interleaved audio
    * chunks, rec-nested frames) around the canonical encoder.
    */
  private[graft] def aviChunk(id: String, data: Array[Byte]): Array[Byte] = {
    val pad = data.length & 1
    id.getBytes("US-ASCII") ++ leIntBytes(data.length) ++ data ++
      new Array[Byte](pad)
  }
  private[graft] def aviList(listType: String,
                             children: Array[Byte]): Array[Byte] =
    aviChunk("LIST", listType.getBytes("US-ASCII") ++ children)
  private[graft] def aviRiff(children: Array[Byte]): Array[Byte] = {
    val body = "AVI ".getBytes("US-ASCII") ++ children
    "RIFF".getBytes("US-ASCII") ++ leIntBytes(body.length) ++ body
  }

  /** One grayscale JPEG at compression quality 1.0. At quality 1.0 the
    * quantization tables are all ones, so a CONSTANT-luma image (DC-only
    * blocks) round-trips bit-exactly through encode+decode — that is
    * what lets a formula oracle predict decoded sums for the fixture
    * side; non-constant frames decode fine but lossily.
    */
  def encodeGrayJpeg(width: Int, height: Int,
                     pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(1.0f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  /** Canonical MJPEG AVI encoder (tests/fixtures): one video stream,
    * `nFrames` '00dc' JPEG frames from a luma formula, headers carrying
    * the exact fields the decoder reads (avih geometry/usPerFrame, strh
    * vids/MJPG, strf biCompression MJPG).
    */
  def encodeMjpegAvi(w: Int, h: Int, usPerFrame: Int, nFrames: Int,
                     luma: (Int, Int, Int) => Int): Array[Byte] = {
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(usPerFrame).putInt(0).putInt(0).putInt(0)
      .putInt(nFrames).putInt(0).putInt(1).putInt(0)
      .putInt(w).putInt(h) // + 16 reserved bytes (buffer stays zeroed)
    val strh = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strh.put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(0)
      .putInt(usPerFrame).putInt(1000000) // scale, rate: fps = rate/scale
      .putInt(0).putInt(nFrames).putInt(0).putInt(0).putInt(0)
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
    val strf = java.nio.ByteBuffer.allocate(40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .put("MJPG".getBytes("US-ASCII")).putInt(w * h * 3)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val hdrl = aviList("hdrl",
      aviChunk("avih", avih.array()) ++
        aviList("strl",
          aviChunk("strh", strh.array()) ++ aviChunk("strf", strf.array())))
    val movi = aviList("movi",
      (0 until nFrames).map { f =>
        aviChunk("00dc", encodeGrayJpeg(w, h, (x, y) => luma(f, x, y)))
      }.reduceOption(_ ++ _).getOrElse(Array.emptyByteArray))
    aviRiff(hdrl ++ movi)
  }

  val decodeAviMjpegUdf =
    udf((b: Array[Byte], everyN: Int) => decodeAviMjpeg(b, everyN))

  /** Real compressed-video features over a media table — same batching
    * contract as image/audio/y4m.
    */
  def mjpegFeatures(media: DataFrame, everyN: Int = 1,
                    partitions: Int = 0): DataFrame = {
    val repart = if (partitions > 0)
      media.repartition(partitions, col("media_ref")) else media
    repart.withColumn("avi", decodeAviMjpegUdf(col("bytes"), lit(everyN)))
  }

  // ---- REAL compressed animation decode: animated GIF (89a) ----
  // GIF is LZW-compressed but LOSSLESS, so decoded pixels equal encoded
  // pixels exactly — the formula oracle predicts luma sums with no
  // DC-only trickery. Decode is the JDK's real GIF codec driven in
  // multi-frame mode (ImageReader.getNumImages + per-frame IIOMetadata
  // for the GraphicControlExtension delays), a different imageio surface
  // than the single-shot ImageIO.read the JPEG paths use.

  /** Parsed animated GIF: geometry from the logical screen descriptor,
    * per-sampled-frame luma sums over decoded pixels, per-sampled-frame
    * start offsets (cumulative GCE delays) in ms, total duration over
    * ALL frames.
    */
  case class GifFeatures(width: Int, height: Int, n_frames: Long,
                         duration_ms: Long,
                         frame_ms: Seq[Long], luma_sum: Seq[Long])

  /** Decode an animated GIF with the JDK codec, COMPOSITING frames the
    * way a viewer does: geometry from the logical screen descriptor,
    * each frame drawn at its descriptor offsets with transparency
    * honored, disposal (none / doNotDispose / restoreToBackground /
    * restoreToPrevious) applied after display. Every frame is decoded
    * (animation state is cumulative); `everyN` selects which composited
    * states are luma-summed. Delays come from each frame's
    * GraphicControlExtension (centiseconds → ms). None for
    * malformed/unsupported payloads — decode never fails a task.
    */
  def decodeGif(bytes: Array[Byte], everyN: Int = 1): Option[GifFeatures] = {
    if (bytes == null || bytes.length < 10 || everyN < 1) return None
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    // geometry from the LOGICAL SCREEN DESCRIPTOR — real optimized GIFs
    // encode frames as partial rectangles, so frame 0's raster is not
    // authoritative for the canvas
    val width  = (bytes(6) & 0xff) | ((bytes(7) & 0xff) << 8)
    val height = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    if (width <= 0 || height <= 0) return None
    val reader = {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      if (!it.hasNext) return None
      it.next()
    }
    try {
      reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)), false, false)
      val n = reader.getNumImages(true)
      if (n <= 0) return None
      val frameMs  = scala.collection.mutable.ArrayBuffer.empty[Long]
      val lumaSums = scala.collection.mutable.ArrayBuffer.empty[Long]
      var clockMs = 0L
      var durationMs = 0L
      // COMPOSITED canvas (luma per pixel, -1 = unset/background=0 for
      // summing): every frame is decoded and drawn at its descriptor
      // offsets honoring transparency + disposal; `everyN` selects
      // which composited states are feature-summed (animation state is
      // cumulative, so decode cannot be skipped).
      val canvas = new Array[Int](width * height)
      (0 until n).foreach { i =>
        val md = reader.getImageMetadata(i)
        val tree = md.getAsTree("javax_imageio_gif_image_1.0")
          .asInstanceOf[org.w3c.dom.Element]
        def attr(tag: String, name: String): String = {
          val nodes = tree.getElementsByTagName(tag)
          if (nodes.getLength > 0)
            nodes.item(0).asInstanceOf[org.w3c.dom.Element]
              .getAttribute(name)
          else ""
        }
        val delayMs = {
          val d = attr("GraphicControlExtension", "delayTime")
          if (d.nonEmpty) d.toLong * 10L else 0L
        }
        val disposal = attr("GraphicControlExtension", "disposalMethod")
        val left = { val v = attr("ImageDescriptor", "imageLeftPosition")
          if (v.nonEmpty) v.toInt else 0 }
        val top  = { val v = attr("ImageDescriptor", "imageTopPosition")
          if (v.nonEmpty) v.toInt else 0 }
        val img = reader.read(i)
        val fw = img.getWidth; val fh = img.getHeight
        val prev =
          if (disposal == "restoreToPrevious") canvas.clone() else null
        var y = 0
        while (y < fh) {
          val cy = top + y
          if (cy >= 0 && cy < height) {
            var x = 0
            while (x < fw) {
              val cx = left + x
              if (cx >= 0 && cx < width) {
                val rgb = img.getRGB(x, y)
                if ((rgb >>> 24) != 0) // transparent pixels keep canvas
                  canvas(cy * width + cx) =
                    (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                      (rgb & 0xff)) / 3
              }
              x += 1
            }
          }
          y += 1
        }
        if (i % everyN == 0) {
          var s = 0L
          var p = 0
          while (p < canvas.length) { s += canvas(p); p += 1 }
          frameMs  += clockMs
          lumaSums += s
        }
        // disposal applies AFTER the frame is displayed
        disposal match {
          case "restoreToBackgroundColor" =>
            var yy = 0
            while (yy < fh) {
              val cy = top + yy
              if (cy >= 0 && cy < height) {
                var xx = 0
                while (xx < fw) {
                  val cx = left + xx
                  if (cx >= 0 && cx < width) canvas(cy * width + cx) = 0
                  xx += 1
                }
              }
              yy += 1
            }
          case "restoreToPrevious" if prev != null =>
            System.arraycopy(prev, 0, canvas, 0, canvas.length)
          case _ => ()
        }
        clockMs += delayMs
        durationMs += delayMs
      }
      Some(GifFeatures(width, height, n, durationMs,
        frameMs.toSeq, lumaSums.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }
    finally reader.dispose()
  }

  private def le16Bytes(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Canonical animated-GIF89a encoder (tests/fixtures): 256-entry gray
    * global palette, one full-screen constant-index frame per `colorOf`
    * value, per-frame GCE delay in centiseconds. The LZW stream uses
    * the literal trick — a CLEAR before the dictionary can outgrow the
    * initial code width — which is valid LZW any decoder accepts while
    * keeping the encoder an exact, dependency-free spec implementation.
    */
  def encodeGif(w: Int, h: Int, delayCs: Int, nFrames: Int,
                colorOf: Int => Int): Array[Byte] =
    encodeGifFrames(w, h, (0 until nFrames).map(f =>
      GifFrame(0, 0, w, h, colorOf(f), delayCs)))

  /** One frame of the canonical encoder: a constant-index rectangle at
    * (x, y), GCE delay + disposal (0 none, 1 doNotDispose, 2
    * restoreToBackground, 3 restoreToPrevious).
    */
  final case class GifFrame(x: Int, y: Int, w: Int, h: Int,
                            colorIdx: Int, delayCs: Int,
                            disposal: Int = 0)

  /** General form: PARTIAL frames at offsets with per-frame disposal —
    * the shapes real optimized GIFs use, so the compositing decoder can
    * be exercised from-spec.
    */
  def encodeGifFrames(screenW: Int, screenH: Int,
                      frames: Seq[GifFrame]): Array[Byte] = {
    require(screenW > 0 && screenH > 0 && frames.nonEmpty)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16Bytes(screenW)); out.write(le16Bytes(screenH))
    out.write(0xf7) // global table, 8-bit color res, 256 entries
    out.write(0); out.write(0) // background index, aspect
    (0 until 256).foreach { i => out.write(i); out.write(i); out.write(i) }
    val clear = 256; val eoi = 257
    frames.foreach { fr =>
      require(fr.w > 0 && fr.h > 0 && fr.delayCs >= 0 &&
        fr.disposal >= 0 && fr.disposal <= 3)
      // Graphic Control Extension (disposal in bits 2-4)
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(fr.disposal << 2)
      out.write(le16Bytes(fr.delayCs))
      out.write(0); out.write(0)
      // Image Descriptor: frame rect, no local table
      out.write(0x2c)
      out.write(le16Bytes(fr.x)); out.write(le16Bytes(fr.y))
      out.write(le16Bytes(fr.w)); out.write(le16Bytes(fr.h))
      out.write(0)
      // LZW data: min code size 8 → 9-bit codes; CLEAR every 254
      // literals so no code above 511 is ever assigned
      out.write(8)
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nBits = 0
      def put(code: Int): Unit = {
        acc |= code.toLong << nBits; nBits += 9
        while (nBits >= 8) {
          bits.write((acc & 0xff).toInt); acc >>= 8; nBits -= 8
        }
      }
      put(clear)
      val px = fr.colorIdx & 0xff
      var i = 0
      while (i < fr.w * fr.h) {
        if (i % 254 == 0 && i > 0) put(clear)
        put(px)
        i += 1
      }
      put(eoi)
      if (nBits > 0) bits.write((acc & 0xff).toInt)
      val data = bits.toByteArray
      var off = 0
      while (off < data.length) {
        val len = math.min(255, data.length - off)
        out.write(len); out.write(data, off, len)
        off += len
      }
      out.write(0) // block terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  val decodeGifUdf =
    udf((b: Array[Byte], everyN: Int) => decodeGif(b, everyN))

  /** Real animated-GIF features over a media table — same batching
    * contract as the other decode paths.
    */
  def gifFeatures(media: DataFrame, everyN: Int = 1,
                  partitions: Int = 0): DataFrame = {
    val repart = if (partitions > 0)
      media.repartition(partitions, col("media_ref")) else media
    repart.withColumn("gif", decodeGifUdf(col("bytes"), lit(everyN)))
  }

  /** STUB decode (compressed audio/video): deterministic pseudo-features from
    * the payload bytes (FNV over content, folded into `dim` floats). The
    * JDK has no audio/video codecs; the signature (binary ->
    * array<float>) and the batched execution are the contract a real
    * codec drops into.
    */
  def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (bytes != null) {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL)
        h *= 0x100000001b3L
        out((i % dim + dim) % dim) =
          (out(i % dim) + ((h >>> 40).toInt & 0xffff) / 65536.0f)
        i += 1
      }
    }
    out
  }

  val decodeFeaturesUdf = udf((b: Array[Byte], dim: Int) => decodeStub(b, dim))

  /** Feature extraction over a media table: partition by a hash of the
    * ref (decode work is embarrassingly parallel and skew-free), run the
    * decode per row. At scale the repartition bounds per-task memory for
    * large payloads; column pruning keeps `bytes` out of any stage that
    * doesn't decode.
    */
  def extractFeatures(media: DataFrame, dim: Int = 16,
                      partitions: Int = 0): DataFrame = {
    val repart = if (partitions > 0)
      media.repartition(partitions, col("media_ref")) else media
    repart.withColumn("features",
      decodeFeaturesUdf(col("bytes"), lit(dim)))
  }

  /** Byte-value histogram over the raw payload — a real (not stubbed)
    * content feature computable without any decode library: bin counts of
    * `byte % bins`. Cheap, deterministic, and SQL-mirrorable, so the
    * binary-column feature path sits under the DuckDB oracle gate.
    */
  def byteHistogram(bytes: Array[Byte], bins: Int): Array[Long] = {
    val out = new Array[Long](bins)
    if (bytes != null) {
      var i = 0
      while (i < bytes.length) {
        out((bytes(i) & 0xff) % bins) += 1
        i += 1
      }
    }
    out
  }

  val byteHistogramUdf = udf((b: Array[Byte], bins: Int) => byteHistogram(b, bins))

  /** extractFeatures with the histogram feature (real path). */
  def byteFeatures(media: DataFrame, bins: Int = 16,
                   partitions: Int = 0): DataFrame = {
    val repart = if (partitions > 0)
      media.repartition(partitions, col("media_ref")) else media
    repart.withColumn("features", byteHistogramUdf(col("bytes"), lit(bins)))
  }

  /** Integer-quantized DCT-II cosine table for an n-point dimension:
    * cosQ(j)(x) = round(cos(π·(2x+1)·j / 2n) · 10⁴), frequencies j in
    * 0..7. The quantized ints — not IEEE cos — are the contract: the
    * oracle SQL embeds this exact table (generated from this method),
    * so both engines run identical integer arithmetic end to end.
    * Bounds: |row pass| ≤ 255·10⁴·n, |col pass| ≤ 255·10⁸·n² — int64-
    * safe through n = 4096.
    */
  def dctCosQ(n: Int): Array[Array[Long]] =
    Array.tabulate(8, n)((j, x) =>
      Math.round(Math.cos(Math.PI * (2 * x + 1) * j / (2.0 * n)) * 1e4))

  private val dctTableCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()
  private def dctTable(n: Int): Array[Array[Long]] =
    dctTableCache.computeIfAbsent(n, dctCosQ(_))

  /** DCT perceptual hash (classic pHash shape, exact-integer variant):
    * luminance plane → two-pass 8×8 low-frequency DCT-II with the
    * quantized table → lower-median threshold over the 63 AC
    * coefficients → 64 bits (bit u·8+v; the DC bit is always 0).
    * Robust to the brightness/contrast/blur edits that shift aHash's
    * global mean. Returned as two non-negative 32-bit halves like
    * [[aHash]].
    */
  def dctHash(bytes: Array[Byte]): Option[(Long, Long)] = {
    if (bytes == null) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0) return None
    val gray   = img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val raster = if (gray) img.getRaster else null
    val cw = dctTable(w)
    val ch = dctTable(h)
    // row pass: R(u, y) = Σ_x p(x,y)·cosW(u)(x)
    val rp = Array.ofDim[Long](8, h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val lum =
          if (gray) raster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
          }
        var u = 0
        while (u < 8) { rp(u)(y) += lum * cw(u)(x); u += 1 }
        x += 1
      }
      y += 1
    }
    // col pass: C(u, v) = Σ_y R(u,y)·cosH(v)(y)
    val c = Array.ofDim[Long](8, 8)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var yy = 0
        while (yy < h) { c(u)(v) += rp(u)(yy) * ch(v)(yy); yy += 1 }
        v += 1
      }
      u += 1
    }
    val ac  = (for (uu <- 0 until 8; vv <- 0 until 8
                    if uu != 0 || vv != 0) yield c(uu)(vv)).sorted
    val med = ac(31) // lower median of the 63 AC coefficients
    var hi = 0L
    var lo = 0L
    var cell = 1
    while (cell < 64) {
      if (c(cell / 8)(cell % 8) > med) {
        if (cell < 32) lo |= 1L << cell else hi |= 1L << (cell - 32)
      }
      cell += 1
    }
    Some((hi, lo))
  }

  val dctHashUdf = udf((b: Array[Byte]) => dctHash(b))

  /** Per-image DCT-hash table: (refCol, hash_hi, hash_lo); undecodable
    * payloads drop. One decode UDF per image; at 100 TB the decode is
    * the cost and everything downstream is integer columns.
    */
  def imageDctHashes(media: DataFrame, refCol: String = "media_ref",
                     bytesCol: String = "bytes"): DataFrame =
    media
      .withColumn("__dh", dctHashUdf(col(bytesCol)))
      .filter(col("__dh").isNotNull)
      .select(col(refCol), col("__dh._1").as("hash_hi"),
        col("__dh._2").as("hash_lo"))

  /** Caption–media pairing over the interleaved input contract
    * (doc_id, spans<kind,text,media_ref,offset>): each media span is
    * paired with the nearest NON-EMPTY text span — the preceding one in
    * document order when it exists, else the following one — the
    * standard alt-text/figure-caption heuristic that turns an
    * interleaved corpus into (image, caption) training pairs.
    * Emits (doc_id, media_ref, kind, caption, cap_side before/after/
    * none; caption '' when no text span exists).
    *
    * One window shuffle on doc_id (spans are per-doc small by the
    * input contract); everything else is per-row.
    */
  def captionPairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"),
        col("s.offset").as("offset"))
    val w   = Window.partitionBy("doc_id").orderBy("offset", "pos")
    val txt = when(col("kind") === "text" && length(col("text")) > 0,
      col("text"))
    sp.withColumn("cap_before",
        last(txt, ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("cap_after",
        first(txt, ignoreNulls = true)
          .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("kind") =!= "text" && col("media_ref") =!= "")
      .select(col("doc_id"), col("media_ref"), col("kind"),
        coalesce(col("cap_before"), col("cap_after"), lit(""))
          .as("caption"),
        when(col("cap_before").isNotNull, "before")
          .when(col("cap_after").isNotNull, "after")
          .otherwise("none").as("cap_side"))
  }

  /** Channel-0 per-frame energies of a PCM WAV: frames of `frameLen`
    * samples (tail frame may be shorter), each as (n samples, Σ s² in
    * exact integer arithmetic). None for non-PCM payloads. The decode
    * stays in the UDF (one pass over the bytes, frame-count-sized
    * output — no per-sample explode); the segmentation analytics over
    * the frames are DataFrame work (see [[audioVad]]).
    */
  def pcmFrameEnergies(bytes: Array[Byte],
                       frameLen: Int): Option[Seq[(Int, Long)]] = {
    try {
      if (bytes == null || bytes.length < 44) return None
      if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
            bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
            bytes(10) == 'V' && bytes(11) == 'E')) return None
      var pos = 12
      var channels = 0; var bits = 0; var fmtTag = -1
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= bytes.length) {
        val id = new String(bytes, pos, 4, "US-ASCII")
        val size = le32(bytes, pos + 4)
        if (size < 0 || pos + 8 + size > bytes.length) return None
        id match {
          case "fmt " if size >= 16 =>
            fmtTag = le16(bytes, pos + 8)
            channels = le16(bytes, pos + 10)
            bits = le16(bytes, pos + 22)
          case "data" => dataOff = pos + 8; dataLen = size
          case _ => ()
        }
        pos += 8 + size + (size & 1)
      }
      if (dataOff < 0 || channels <= 0 || fmtTag != 1 ||
          (bits != 8 && bits != 16)) return None
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * channels
      val nFrames = dataLen / frameBytes
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var f = 0
      while (f < nFrames) {
        val n = math.min(frameLen, nFrames - f)
        var e = 0L
        var j = 0
        while (j < n) {
          val off = dataOff + (f + j) * frameBytes
          val v = if (bits == 8) (bytes(off) & 0xff) - 128
                  else le16(bytes, off).toShort.toInt
          e += v.toLong * v
          j += 1
        }
        out += ((n, e))
        f += n
      }
      Some(out.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Energy-threshold voice-activity detection over PCM audio payloads:
    * a frame is active when its mean square exceeds `meanSqThreshold`
    * (compared in exact integers as Σs² > thr·n), active runs become
    * speech segments via the gaps-and-islands window idiom. Per payload:
    * (n_frames, n_active, n_segments, longest run, first active frame —
    * −1 when silent). Scale shape: the byte decode is one UDF pass
    * emitting frame-count-sized arrays; everything after the posexplode
    * is shuffle-once-by-ref window/agg work.
    */
  def audioVad(media: DataFrame, frameLen: Int = 40,
               meanSqThreshold: Long = 500L): DataFrame = {
    val energiesUdf = udf((b: Array[Byte]) =>
      pcmFrameEnergies(b, frameLen).orNull)
    val frames = media
      .select(col("media_ref"),
        posexplode(energiesUdf(col("bytes"))).as(Seq("frame", "fe")))
      .select(col("media_ref"), col("frame").cast("long").as("frame"),
        col("fe._1").as("n"), col("fe._2").as("e"))
      .withColumn("active", col("e") > lit(meanSqThreshold) * col("n"))
    val w = Window.partitionBy("media_ref").orderBy(col("frame").asc)
    val segs = frames.filter(col("active"))
      .withColumn("grp", col("frame") - row_number().over(w))
      .groupBy("media_ref", "grp").agg(count(lit(1)).as("len"))
      .groupBy("media_ref")
      .agg(count(lit(1)).as("n_segments"), max("len").as("longest"))
    frames.groupBy("media_ref")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("active"), 1L).otherwise(0L)).as("n_active"),
        min(when(col("active"), col("frame"))).as("__fa"))
      .join(segs, Seq("media_ref"), "left")
      .select(col("media_ref"), col("n_frames"), col("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest"), lit(0L)).as("longest"),
        coalesce(col("__fa"), lit(-1L)).as("first_active"))
  }

  /** Scene-cut detection over decoded video luma tracks: a cut lands at
    * sampled frame f when the per-pixel mean luma jumps by more than
    * `threshold` against frame f−1 (integer mean = luma_sum / (w·h), so
    * the compare is exact). Rides on [[videoFeatures]]' y4m decode; the
    * lag/diff analytics are window work per payload. Per payload:
    * (n_sampled, n_cuts, cut frame indices, max jump).
    */
  def sceneCuts(media: DataFrame, everyN: Int = 1,
                threshold: Long = 20L): DataFrame = {
    val w = Window.partitionBy("media_ref").orderBy(col("idx").asc)
    videoFeatures(media, everyN)
      .filter(col("y4m").isNotNull)
      .select(col("media_ref"),
        (col("y4m.width").cast("long") * col("y4m.height")).as("px"),
        posexplode(col("y4m.luma_sum")).as(Seq("idx", "ls")))
      .withColumn("mean", (col("ls") / col("px")).cast("long"))
      .withColumn("jump", abs(col("mean") - lag("mean", 1).over(w)))
      .groupBy("media_ref")
      .agg(count(lit(1)).as("n_sampled"),
        sum(when(col("jump") > threshold, 1L).otherwise(0L)).as("n_cuts"),
        sort_array(collect_list(when(col("jump") > threshold,
          col("idx").cast("long")))).as("cut_idx"),
        coalesce(max("jump"), lit(0L)).as("max_jump"))
  }
}
