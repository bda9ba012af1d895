package graft.ops

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Pure-JVM media container codecs — no external codec libraries needed.
  * Three formats whose containers are fully parseable from bytes alone:
  * BMP (BITMAPINFOHEADER, 24bpp BI_RGB, bottom-up rows padded to 4
  * bytes), binary PPM (P6, whitespace/comment header grammar), and PCM
  * WAV (RIFF chunk walk, fmt + data). Encoders emit genuine files of
  * these formats (the q35 fixture path — driver testdata carries no
  * binary media columns); decoders validate magic bytes, read
  * dimensions/geometry from the real headers, and compute an 8-stat
  * feature vector from the decoded pixel/sample data. Unknown mime
  * types fall back to honest byte-level statistics (never a fake).
  */
object MediaCodec {

  val BmpMime = "image/bmp"
  val PpmMime = "image/x-portable-pixmap"
  val WavMime = "audio/wav"

  /** Decoded media: container-reported geometry (images: pixels; audio:
    * frames × channels; unknown payloads: 0×0) + 8 statistics computed
    * from the decoded content.
    */
  case class Decoded(width: Int, height: Int, feature: Array[Float])

  def decode(mime: String, payload: Array[Byte]): Decoded = mime match {
    case BmpMime => decodeBmp(payload)
    case PpmMime => decodePpm(payload)
    case WavMime => decodeWav(payload)
    case _ => byteStats(payload)
  }

  private def byteAt(content: Array[Byte], i: Int): Byte =
    if (i < content.length) content(i) else 0

  /** Smallest near-square geometry fitting n content bytes at 3 B/px. */
  private def geometry(n: Int): (Int, Int) = {
    val w = math.max(1, math.ceil(math.sqrt(n / 3.0)).toInt)
    val h = math.max(1, math.ceil(n / (3.0 * w)).toInt)
    (w, h)
  }

  // ---------------------------------------------------------------- BMP

  def encodeBmp(content: Array[Byte]): Array[Byte] = {
    val (w, h) = geometry(content.length)
    val stride = (w * 3 + 3) & ~3
    val imageSize = stride * h
    val out = new Array[Byte](54 + imageSize)
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + imageSize).putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(imageSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // content is treated as RGB-ordered; BMP stores BGR, bottom-up
    var row = 0
    while (row < h) {
      val dst = 54 + (h - 1 - row) * stride
      var col = 0
      while (col < w) {
        val src = (row * w + col) * 3
        out(dst + col * 3) = byteAt(content, src + 2)
        out(dst + col * 3 + 1) = byteAt(content, src + 1)
        out(dst + col * 3 + 2) = byteAt(content, src)
        col += 1
      }
      row += 1
    }
    out
  }

  /** Parsed raster access: dimensions + an (imageRow, col) → (r,g,b)
    * accessor over the container's pixel bytes (no pixel copy).
    */
  private case class Raster(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int))

  private def parseBmp(p: Array[Byte]): Raster = {
    require(p.length >= 54 && p(0) == 'B' && p(1) == 'M', "not a BMP payload")
    val buf = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    val pixelOffset = buf.getInt(10)
    val w = buf.getInt(18)
    val hRaw = buf.getInt(22)
    val bpp = buf.getShort(28)
    val compression = buf.getInt(30)
    require(bpp == 24 && compression == 0,
      s"unsupported BMP variant: bpp=$bpp compression=$compression")
    val h = math.abs(hRaw)
    // stride arithmetic in Long: a hostile header width near 2^30 would
    // overflow `w * 3` in Int, yielding a negative stride that slips
    // past the bounds check and crashes the pixel reads
    val strideL = (w.toLong * 3 + 3) & ~3L
    require(w > 0 && h > 0 && pixelOffset >= 54 &&
      pixelOffset + strideL * h <= p.length, "truncated BMP pixel data")
    val stride = strideL.toInt // bounded by p.length per the check above
    // positive height = bottom-up storage: image row r lives at stored
    // row h-1-r (negative heights are top-down, stored in image order)
    val topDown = hRaw < 0
    Raster(w, h, (row, col) => {
      val stored = if (topDown) row else h - 1 - row
      val i = pixelOffset + stored * stride + col * 3
      ((p(i + 2) & 0xFF), (p(i + 1) & 0xFF), (p(i) & 0xFF))
    })
  }

  def decodeBmp(p: Array[Byte]): Decoded = {
    val r = parseBmp(p)
    Decoded(r.w, r.h, imageFeatures(r.w, r.h, r.rgb))
  }

  // ---------------------------------------------------------------- PPM

  def encodePpm(content: Array[Byte]): Array[Byte] = {
    val (w, h) = geometry(content.length)
    val header = s"P6\n$w $h\n255\n".getBytes(StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < w * h * 3) { out(header.length + i) = byteAt(content, i); i += 1 }
    out
  }

  private def parsePpm(p: Array[Byte]): Raster = {
    require(p.length >= 2 && p(0) == 'P' && p(1) == '6', "not a P6 PPM payload")
    var pos = 2
    def isWs(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r'
    def nextInt(): Int = {
      while (pos < p.length && (isWs(p(pos)) || p(pos) == '#'))
        if (p(pos) == '#') { while (pos < p.length && p(pos) != '\n') pos += 1 }
        else pos += 1
      require(pos < p.length && p(pos) >= '0' && p(pos) <= '9',
        "malformed PPM header")
      var v = 0
      while (pos < p.length && p(pos) >= '0' && p(pos) <= '9') {
        v = v * 10 + (p(pos) - '0'); pos += 1
        // without a cap a long hostile digit string wraps Int (e.g.
        // "8589934593" → 1) and the header is silently misparsed; fail
        // inside the loop so wrapping can never happen
        require(v <= (1 << 24), "PPM header value out of range")
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    require(w > 0 && h > 0 && maxval > 0 && maxval <= 255,
      s"unsupported PPM geometry: ${w}x$h maxval=$maxval")
    // exactly one whitespace byte separates the header from pixels; a
    // non-whitespace byte here means the header is malformed and advancing
    // would shift every pixel read by one byte
    require(pos < p.length && isWs(p(pos)), "malformed PPM header")
    pos += 1
    require(pos + 3L * w * h <= p.length, "truncated PPM pixel data")
    val base = pos
    // samples are stored in 0..maxval; rescale to the 0..255 range the
    // shared feature/thumbnail code normalizes by (exact when maxval=255,
    // proportional otherwise — e.g. maxval=15 sample 15 → 255)
    def scaled(i: Int): Int = ((p(i) & 0xFF) * 255) / maxval
    Raster(w, h, (row, col) => {
      val i = base + (row * w + col) * 3
      (scaled(i), scaled(i + 1), scaled(i + 2))
    })
  }

  def decodePpm(p: Array[Byte]): Decoded = {
    val r = parsePpm(p)
    Decoded(r.w, r.h, imageFeatures(r.w, r.h, r.rgb))
  }

  /** Shared image statistics: per-channel means, luma mean/std, aspect,
    * non-black fraction, mean horizontal luma gradient — all from the
    * decoded pixels.
    *
    * INTEGER-CORED (r18): every accumulator is an exact Long over raw
    * byte sums — Σr, Σg, Σb, Σ(r+g+b), Σ(r+g+b)², Σ|Δrow(r+g+b)|,
    * non-black count — and the 8 doubles derive from them in one fixed
    * expression each (luma = (r+g+b)/3 enters as s1/3.0, its square as
    * s2/9.0, the gradient as g3/3.0). That makes every feature
    * accumulation-ORDER-FREE and hence SQL-replayable bit-for-bit: the
    * oracle computes the same integer SUMs over exploded pixels and
    * the identical double formulas (the earlier float accumulation of
    * per-pixel (r+g+b)/3.0 depended on loop order, which no SQL SUM
    * reproduces). Overflow: s2 ≤ n·765² — safe under int64 past 10^13
    * pixels. All 8 stay within a float ulp of the old values (exact
    * rational identities; only the fp evaluation point moved), and the
    * narrowing to Float happens ONCE per feature, from the double.
    */
  private def imageFeatures(w: Int, h: Int,
                            rgb: (Int, Int) => (Int, Int, Int)): Array[Float] = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var s1 = 0L; var s2 = 0L; var g3 = 0L
    var nonZero = 0L
    var row = 0
    while (row < h) {
      var col = 0
      var prev = 0L
      while (col < w) {
        val (r, g, b) = rgb(row, col)
        sr += r; sg += g; sb += b
        val l3 = (r + g + b).toLong
        s1 += l3; s2 += l3 * l3
        if (l3 != 0) nonZero += 1
        if (col > 0) g3 += math.abs(l3 - prev)
        prev = l3
        col += 1
      }
      row += 1
    }
    val n = w.toLong * h
    val mean = s1 / 3.0 / n
    val variance = math.max(0.0, s2 / 9.0 / n - mean * mean)
    Array(
      (sr.toDouble / n / 255.0).toFloat,
      (sg.toDouble / n / 255.0).toFloat,
      (sb.toDouble / n / 255.0).toFloat,
      (mean / 255.0).toFloat, (math.sqrt(variance) / 255.0).toFloat,
      (w.toDouble / (w + h)).toFloat, (nonZero.toDouble / n).toFloat,
      (if (w > 1) g3 / 3.0 / ((n - h) * 255.0) else 0.0).toFloat)
  }

  // ---------------------------------------------------------------- WAV

  /** Mono 8 kHz 16-bit PCM; one sample per content byte (centered). */
  def encodeWav(content: Array[Byte]): Array[Byte] = {
    val dataSize = content.length * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(StandardCharsets.US_ASCII)).putInt(36 + dataSize)
      .put("WAVE".getBytes(StandardCharsets.US_ASCII))
      .put("fmt ".getBytes(StandardCharsets.US_ASCII)).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes(StandardCharsets.US_ASCII)).putInt(dataSize)
    var i = 0
    while (i < content.length) {
      buf.putShort((((content(i) & 0xFF) - 128) << 8).toShort); i += 1
    }
    buf.array()
  }

  private def ascii(p: Array[Byte], off: Int, len: Int): String =
    new String(p, off, len, StandardCharsets.US_ASCII)

  /** Parsed PCM access: stream geometry + an index → normalized-sample
    * accessor over the data chunk (no sample copy).
    */
  private case class Pcm(channels: Int, sampleRate: Int, nSamples: Int,
                         sample: Int => Double)

  private def parseWav(p: Array[Byte]): Pcm = {
    require(p.length >= 12 && ascii(p, 0, 4) == "RIFF" && ascii(p, 8, 4) == "WAVE",
      "not a RIFF/WAVE payload")
    val buf = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var fmt = 0; var channels = 0; var sampleRate = 0; var bits = 0
    var dataStart = -1; var dataLen = 0
    while (pos + 8 <= p.length) {
      val id = ascii(p, pos, 4)
      val size = buf.getInt(pos + 4)
      require(size >= 0 && pos + 8 + size.toLong <= p.length,
        s"truncated WAV chunk $id")
      if (id == "fmt ") {
        // a fmt chunk declaring size < 16 would pass the per-chunk bound
        // yet send the field reads below past the end of the payload
        require(size >= 16, s"malformed fmt chunk (size $size)")
        fmt = buf.getShort(pos + 8); channels = buf.getShort(pos + 10)
        sampleRate = buf.getInt(pos + 12); bits = buf.getShort(pos + 22)
      } else if (id == "data") { dataStart = pos + 8; dataLen = size }
      pos += 8 + size + (size & 1) // RIFF chunks are word-aligned
    }
    require(fmt == 1 && bits == 16 && channels >= 1,
      s"unsupported WAV variant: fmt=$fmt bits=$bits channels=$channels")
    require(dataStart >= 0, "WAV data chunk missing")
    val start = dataStart
    Pcm(channels, sampleRate, dataLen / 2, i => buf.getShort(start + 2 * i) / 32768.0)
  }

  /** Raw 16-bit PCM samples of a parsed WAV payload — exact integers
    * (the normalized accessor divides by 32768; multiplying back is
    * exact since short/32768.0 is dyadic, but q213 wants the integers
    * directly). One sample per encoded content byte: ((b & 0xFF) − 128)
    * << 8 by the [[encodeWav]] contract, which is what makes the q213
    * oracle a TRUE cross-engine derivation from the text bytes.
    */
  def pcmRawSamples(p: Array[Byte]): Array[Int] = {
    val pcm = parseWav(p)
    // sample(i)·32768 recovers the stored short bit-for-bit (short/32768.0
    // is dyadic, the multiply-back is exact) — no second chunk walk needed
    Array.tabulate(pcm.nSamples)(i => math.round(pcm.sample(i) * 32768.0).toInt)
  }

  /** The [[windowMeans]] partition bounds, exposed for the fixed-window
    * feature extractors (q213) and their oracles: window c of n items
    * covers [i0, i1) with i0 = ⌊c·n/cells⌋ and i1 = max(i0+1,
    * ⌊(c+1)·n/cells⌋) — never empty; windows RESAMPLE when n < cells.
    */
  def windowBounds(n: Int, cells: Int): Array[(Int, Int)] =
    Array.tabulate(cells) { c =>
      val i0 = (c.toLong * n / cells).toInt
      val i1 = math.max(i0 + 1, ((c + 1).toLong * n / cells).toInt)
      (i0, i1)
    }

  /** WAV statistics, INTEGER-CORED like [[imageFeatures]] (r18): Long
    * sums over the raw 16-bit samples k (s = k/32768 enters as
    * sk/32768.0, s² as sk2/32768²), so every accumulation is exact and
    * order-free and the 8 doubles are single fixed expressions the SQL
    * oracle replays bit-for-bit. Overflow: sk2 ≤ n·2³⁰ — safe past
    * 10⁹ samples per payload.
    */
  def decodeWav(p: Array[Byte]): Decoded = {
    val pcm = parseWav(p)
    val channels = pcm.channels
    val sampleRate = pcm.sampleRate
    val nSamples = pcm.nSamples
    var sk = 0L; var sk2 = 0L; var peakK = 0L; var diffK = 0L
    var zc = 0L
    var prev = 0L
    var i = 0
    while (i < nSamples) {
      val k = math.round(pcm.sample(i) * 32768.0) // exact: dyadic round-trip
      sk += k; sk2 += k * k
      if (math.abs(k) > peakK) peakK = math.abs(k)
      if (i > 0) {
        if ((k >= 0) != (prev >= 0)) zc += 1
        diffK += math.abs(k - prev)
      }
      prev = k
      i += 1
    }
    val n = math.max(nSamples, 1).toDouble
    val frames = nSamples / channels
    Decoded(frames, channels, Array(
      (sk / 32768.0 / n).toFloat,
      (math.sqrt(sk2 / 1073741824.0 / n)).toFloat,
      (zc / n).toFloat, (peakK / 32768.0).toFloat,
      math.min(1.0, frames / math.max(sampleRate, 1).toDouble).toFloat,
      (sampleRate / 48000.0).toFloat, channels.toFloat,
      (if (nSamples > 1) diffK / 32768.0 / (nSamples - 1) else 0.0).toFloat))
  }

  /** Exact integer gray grid over an image raster: per (gridRows ×
    * gridCols) cell, the SUM of (R+G+B) over its pixel block and the
    * block's pixel COUNT — block bounds from [[windowBounds]] on each
    * axis (orientation-corrected like [[thumbnailRaster]], so cell row
    * 0 is the TOP of the image for both BMP bottom-up storage and
    * PPM). Integer sums so consumers (q212's dHash) can compare cell
    * means EXACTLY via cross-multiplication — no float rounding can
    * flip a near-tie bit.
    */
  def grayGridSums(mime: String, payload: Array[Byte],
                   gridRows: Int, gridCols: Int): (Array[Long], Array[Long]) = {
    val r = mime match {
      case BmpMime => parseBmp(payload)
      case PpmMime => parsePpm(payload)
      case other => throw new IllegalArgumentException(s"not an image mime: $other")
    }
    val rows = windowBounds(r.h, gridRows)
    val cols = windowBounds(r.w, gridCols)
    val sums = new Array[Long](gridRows * gridCols)
    val counts = new Array[Long](gridRows * gridCols)
    var gy = 0
    while (gy < gridRows) {
      val (r0, r1) = rows(gy)
      var gx = 0
      while (gx < gridCols) {
        val (c0, c1) = cols(gx)
        var sum = 0L
        var row = r0
        while (row < r1) {
          var col = c0
          while (col < c1) {
            val (red, green, blue) = r.rgb(row, col)
            sum += red + green + blue
            col += 1
          }
          row += 1
        }
        sums(gy * gridCols + gx) = sum
        counts(gy * gridCols + gx) = (r1 - r0).toLong * (c1 - c0)
        gx += 1
      }
      gy += 1
    }
    (sums, counts)
  }

  // --------------------------------------- resize / frame-sample paths

  /** Fixed-size content summary — the resize/downsample stage of a media
    * pipeline, grid²-length regardless of input size:
    *   - images: grid×grid box filter — each cell is the mean luma of
    *     its pixel block (row-orientation-corrected, so cell (0,0) is
    *     the top-left of the IMAGE for both BMP bottom-up storage and
    *     PPM), normalized to [0,1];
    *   - audio: frame-sampling — grid² equal time windows, mean |s| per
    *     window;
    *   - unknown containers: grid² equal byte windows, mean byte / 255.
    */
  def thumbnail(mime: String, payload: Array[Byte], grid: Int): Array[Float] =
    mime match {
      case BmpMime => thumbnailRaster(parseBmp(payload), grid)
      case PpmMime => thumbnailRaster(parsePpm(payload), grid)
      case WavMime =>
        val pcm = parseWav(payload)
        windowMeans(pcm.nSamples, grid * grid, i => math.abs(pcm.sample(i)))
      case _ =>
        windowMeans(payload.length, grid * grid, i => (payload(i) & 0xFF) / 255.0)
    }

  private def thumbnailRaster(r: Raster, grid: Int): Array[Float] = {
    val out = new Array[Float](grid * grid)
    var gy = 0
    while (gy < grid) {
      // block bounds: floor partition of the axis, never empty even when
      // the image is smaller than the grid (cells then resample pixels)
      val r0 = gy * r.h / grid
      val r1 = math.max(r0 + 1, (gy + 1) * r.h / grid)
      var gx = 0
      while (gx < grid) {
        val c0 = gx * r.w / grid
        val c1 = math.max(c0 + 1, (gx + 1) * r.w / grid)
        // exact integer Σ(R+G+B) per block (the imageFeatures r18 rule):
        // order-free, so the SQL oracle's SUM replays the cell exactly
        var s = 0L
        var row = r0
        while (row < r1) {
          var col = c0
          while (col < c1) {
            val (red, green, blue) = r.rgb(row, col)
            s += red + green + blue
            col += 1
          }
          row += 1
        }
        out(gy * grid + gx) =
          (s / 3.0 / ((r1 - r0).toLong * (c1 - c0) * 255.0)).toFloat
        gx += 1
      }
      gy += 1
    }
    out
  }

  private def windowMeans(n: Int, cells: Int, at: Int => Double): Array[Float] = {
    val out = new Array[Float](cells)
    if (n == 0) return out
    var c = 0
    while (c < cells) {
      val i0 = (c.toLong * n / cells).toInt
      val i1 = math.max(i0 + 1, ((c + 1).toLong * n / cells).toInt)
      var sum = 0.0
      var i = i0
      while (i < i1) { sum += at(i); i += 1 }
      out(c) = (sum / (i1 - i0)).toFloat
      c += 1
    }
    out
  }

  // ------------------------------------------------- unknown-mime path

  /** Byte-level statistics for containers we can't parse: histogram
    * mean/std, Shannon entropy, printable/zero/dominant-byte fractions,
    * distinct-byte ratio, mean absolute byte delta.
    */
  def byteStats(p: Array[Byte]): Decoded = {
    val hist = new Array[Long](256)
    var diff = 0.0
    var i = 0
    while (i < p.length) {
      hist(p(i) & 0xFF) += 1
      if (i > 0) diff += math.abs((p(i) & 0xFF) - (p(i - 1) & 0xFF))
      i += 1
    }
    val n = math.max(p.length, 1).toDouble
    var sum = 0.0; var sumSq = 0.0; var ent = 0.0
    var printable = 0L; var maxFreq = 0L
    var distinct = 0
    var b = 0
    while (b < 256) {
      val c = hist(b)
      if (c > 0) {
        distinct += 1
        if (c > maxFreq) maxFreq = c
        val f = c / n
        ent -= f * math.log(f) / math.log(2)
        sum += b.toDouble * c; sumSq += b.toDouble * b * c
        if (b >= 32 && b < 127) printable += c
      }
      b += 1
    }
    val mean = sum / n
    val variance = math.max(0.0, sumSq / n - mean * mean)
    Decoded(0, 0, Array(
      (mean / 255.0).toFloat, (math.sqrt(variance) / 255.0).toFloat,
      (ent / 8.0).toFloat, (printable / n).toFloat, (hist(0) / n).toFloat,
      (maxFreq / n).toFloat, distinct / 256f,
      (if (p.length > 1) diff / ((p.length - 1) * 255.0) else 0.0).toFloat))
  }
}
