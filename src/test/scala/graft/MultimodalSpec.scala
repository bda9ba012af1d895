package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{MediaCodec, Multimodal}

/** The multimodal decoders against HAND-WRITTEN container bytes (not
  * our own encoders) — proving the parsers read the real formats: magic
  * bytes, header grammar, BMP bottom-up BGR rows with stride padding,
  * PPM comments, RIFF chunk walking. Plus encode→decode round trips and
  * the q35 end-to-end run.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("BMP parser reads a hand-built 2x2 24bpp file (padding, BGR, bottom-up)") {
    // pixels (RGB, image order): (255,0,0) (255,255,0) / (0,0,0) (0,0,255)
    val stride = 8 // 2 px * 3 B padded to 4-byte boundary
    val buf = ByteBuffer.allocate(54 + stride * 2).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + stride * 2).putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(stride * 2).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // bottom row first (image row 1), BGR per pixel, 2 pad bytes per row
    buf.put(Array[Byte](0, 0, 0, -1, 0, 0, 0, 0))          // (0,0,0) (0,0,255)
    buf.put(Array[Byte](0, 0, -1, 0, -1, -1, 0, 0))        // (255,0,0) (255,255,0)
    val d = MediaCodec.decodeBmp(buf.array())
    assert(d.width == 2 && d.height == 2)
    assert(d.feature(0) == 0.5f)   // mean R = 127.5/255
    assert(d.feature(1) == 0.25f)  // mean G = 63.75/255
    assert(d.feature(2) == 0.25f)  // mean B
    assert(d.feature(6) == 0.75f)  // one pixel of four is pure black
  }

  test("PPM parser reads a hand-built P6 with a header comment") {
    val header = "P6\n# graft fixture\n3 1\n255\n".getBytes(StandardCharsets.US_ASCII)
    val pixels = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90)
    val d = MediaCodec.decodePpm(header ++ pixels)
    assert(d.width == 3 && d.height == 1)
    assert(math.abs(d.feature(0) - 40f / 255f) < 1e-6) // mean R
    assert(math.abs(d.feature(1) - 50f / 255f) < 1e-6) // mean G
    assert(math.abs(d.feature(2) - 60f / 255f) < 1e-6) // mean B
  }

  test("WAV parser reads a hand-built PCM file (chunk walk, LE samples)") {
    val samples = Seq[Short](16384, -16384, 16384, -16384)
    val buf = ByteBuffer.allocate(44 + 8).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(StandardCharsets.US_ASCII)).putInt(36 + 8)
      .put("WAVE".getBytes(StandardCharsets.US_ASCII))
      .put("fmt ".getBytes(StandardCharsets.US_ASCII)).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes(StandardCharsets.US_ASCII)).putInt(8)
    samples.foreach(buf.putShort)
    val d = MediaCodec.decodeWav(buf.array())
    assert(d.width == 4 && d.height == 1) // frames x channels
    assert(d.feature(0) == 0.0f)  // mean: symmetric square wave
    assert(d.feature(1) == 0.5f)  // rms of +-0.5
    assert(d.feature(2) == 0.75f) // 3 sign changes / 4 samples
    assert(d.feature(3) == 0.5f)  // peak
  }

  test("encode -> decode round trips recover header geometry") {
    val content = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val bmp = MediaCodec.decode(MediaCodec.BmpMime, MediaCodec.encodeBmp(content))
    val ppm = MediaCodec.decode(MediaCodec.PpmMime, MediaCodec.encodePpm(content))
    val wav = MediaCodec.decode(MediaCodec.WavMime, MediaCodec.encodeWav(content))
    // both image encoders pick the same near-square geometry
    assert(bmp.width == ppm.width && bmp.height == ppm.height)
    assert(bmp.width.toLong * bmp.height * 3 >= content.length)
    // identical content through identical pixel geometry = identical means
    for (i <- 0 until 3) assert(math.abs(bmp.feature(i) - ppm.feature(i)) < 1e-6)
    assert(wav.width == content.length && wav.height == 1)
    assert(wav.feature(1) > 0.0f) // real samples, nonzero rms
    Seq(bmp, ppm, wav).foreach(d =>
      assert(d.feature.length == 8 && d.feature.forall(f => !f.isNaN)))
  }

  test("thumbnail box-filters in IMAGE orientation (BMP bottom-up corrected)") {
    // 1x2 image: TOP pixel white, BOTTOM black. BMP stores bottom-up, so
    // the file's first pixel row is the black one — a thumbnail that
    // ignored orientation would come out upside down.
    val stride = 4 // 1 px * 3 B padded
    val buf = ByteBuffer.allocate(54 + stride * 2).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + stride * 2).putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(1).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(stride * 2).putInt(2835).putInt(2835).putInt(0).putInt(0)
    buf.put(Array[Byte](0, 0, 0, 0))     // stored first = image BOTTOM (black)
    buf.put(Array[Byte](-1, -1, -1, 0))  // stored second = image TOP (white)
    val t = MediaCodec.thumbnail(MediaCodec.BmpMime, buf.array(), 2)
    assert(t.toSeq == Seq(1.0f, 1.0f, 0.0f, 0.0f)) // top row white, bottom black
    // mean-based decode stats are orientation-independent: still 50% grey
    assert(MediaCodec.decodeBmp(buf.array()).feature(3) == 0.5f)
  }

  test("thumbnail frame-samples audio into equal windows") {
    val samples = Seq[Short](16384, -16384, 0, 8192)
    val buf = ByteBuffer.allocate(44 + 8).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(StandardCharsets.US_ASCII)).putInt(36 + 8)
      .put("WAVE".getBytes(StandardCharsets.US_ASCII))
      .put("fmt ".getBytes(StandardCharsets.US_ASCII)).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes(StandardCharsets.US_ASCII)).putInt(8)
    samples.foreach(buf.putShort)
    val t = MediaCodec.thumbnail(MediaCodec.WavMime, buf.array(), 2)
    assert(t.toSeq == Seq(0.5f, 0.5f, 0.0f, 0.25f)) // mean |s| per window
  }

  test("same content thumbnails identically through BMP and PPM") {
    // both encoders share the near-square geometry but store rows in
    // OPPOSITE orders (BMP bottom-up, PPM top-down) — identical cells on
    // non-uniform content prove the orientation correction, not just
    // the means
    val content = (1 to 60).map(i => s"tok$i").mkString(" ").getBytes("UTF-8")
    val tb = MediaCodec.thumbnail(MediaCodec.BmpMime, MediaCodec.encodeBmp(content), 4)
    val tp = MediaCodec.thumbnail(MediaCodec.PpmMime, MediaCodec.encodePpm(content), 4)
    assert(tb.length == 16 && tb.exists(_ != tb(0)), "content too uniform to prove orientation")
    tb.zip(tp).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) < 1e-6, s"cell $i differs: BMP $a vs PPM $b")
    }
  }

  test("q53 thumbnails every document at a fixed 16-cell size") {
    val d = "/root/testdata/sf0.001"
    val out = Multimodal.queries("q53_multimodal_thumbnail")(spark, d)
    assert(out.count() == Tables.documents(spark, d).count())
    assert(out.filter(col("thumb_mean") < 0.0 || col("thumb_mean") > 1.0 ||
      col("t00").isNull).isEmpty)
  }

  test("PPM maxval < 255 rescales samples to full range (spec: values are 0..maxval)") {
    // P6 with maxval=15: a stored sample of 15 IS full intensity; feeding
    // it to the /255 normalizers unscaled would dim everything by 17x
    val header = "P6\n2 1\n15\n".getBytes(StandardCharsets.US_ASCII)
    val pixels = Array[Byte](15, 0, 0, 15, 15, 15) // full-red, white
    val d = MediaCodec.decodePpm(header ++ pixels)
    assert(math.abs(d.feature(0) - 1.0f) < 1e-6, s"mean R ${d.feature(0)}") // both pixels full R
    assert(math.abs(d.feature(1) - 0.5f) < 1e-6, s"mean G ${d.feature(1)}") // one of two full G
    val t = MediaCodec.thumbnail(MediaCodec.PpmMime, header ++ pixels, 1)
    assert(math.abs(t(0) - 0.6666667f) < 1e-5, s"thumb ${t(0)}") // mean luma (85+255)/2/255
  }

  test("PPM header/pixel separator must be whitespace") {
    // 'X' where the single separator byte belongs: advancing anyway would
    // shift every pixel read by one byte — must be rejected, not absorbed
    val bad = "P6\n1 1\n255X".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](1, 2, 3, 4)
    intercept[IllegalArgumentException](MediaCodec.decodePpm(bad))
  }

  test("PPM header values that would wrap Int are rejected, not misparsed") {
    // 8589934593 = 2^33 + 1 wraps to 1 in Int arithmetic; an unguarded
    // parser would silently read this as a 1-pixel-wide image
    val bad = "P6\n8589934593 1\n255\n".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](1, 2, 3)
    intercept[IllegalArgumentException](MediaCodec.decodePpm(bad))
  }

  test("corrupted magic bytes are rejected, unknown mime falls back to byte stats") {
    intercept[IllegalArgumentException](MediaCodec.decodeBmp("notabmp".getBytes ++ new Array[Byte](64)))
    intercept[IllegalArgumentException](MediaCodec.decodePpm("P3 1 1 255 ".getBytes))
    intercept[IllegalArgumentException](MediaCodec.decodeWav("RIFFxxxxJUNK".getBytes ++ new Array[Byte](64)))
    val zeros = MediaCodec.decode("application/octet-stream", new Array[Byte](100))
    assert(zeros.width == 0 && zeros.height == 0)
    assert(zeros.feature(0) == 0.0f) // mean byte
    assert(zeros.feature(2) == 0.0f) // entropy of a constant stream
    assert(zeros.feature(4) == 1.0f) // zero fraction
  }

  test("parsers never crash on truncated or corrupted bytes (fuzz, fixed seed)") {
    // production payloads are untrusted: a hostile header must be
    // REJECTED (require -> IllegalArgumentException, the parser
    // contract), never escape as IndexOutOfBounds/NegativeArraySize/
    // arithmetic overflow from unchecked header arithmetic
    val content = "graft multimodal fuzz corpus content bytes".getBytes("UTF-8")
    val files = Seq(
      MediaCodec.BmpMime -> MediaCodec.encodeBmp(content),
      MediaCodec.PpmMime -> MediaCodec.encodePpm(content),
      MediaCodec.WavMime -> MediaCodec.encodeWav(content))
    def mustNotCrash(mime: String, bytes: Array[Byte]): Unit =
      try {
        MediaCodec.decode(mime, bytes)
        MediaCodec.thumbnail(mime, bytes, 4)
        ()
      } catch { case _: IllegalArgumentException => () }
    for ((mime, full) <- files) {
      for (n <- 0 until full.length) mustNotCrash(mime, full.take(n))
      val rnd = new scala.util.Random(42)
      for (_ <- 1 to 500) {
        val b = full.clone()
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        mustNotCrash(mime, b)
      }
    }
  }

  test("q35 decodes every document through a real container") {
    val d = "/root/testdata/sf0.001"
    val out = Multimodal.queries("q35_multimodal_decode")(spark, d)
    val nDocs = Tables.documents(spark, d).count()
    assert(out.count() == nDocs)
    val mimes = out.select("mime").distinct().collect().map(_.getString(0)).toSet
    assert(mimes == Set(MediaCodec.BmpMime, MediaCodec.PpmMime, MediaCodec.WavMime))
    assert(out.filter(col("width") < 1 || col("height") < 1 || col("n_bytes") <= 0).isEmpty)
  }

  test("q139 thumbnail cells re-derive bit-for-bit from content bytes via the encoder contracts") {
    // the q138 container-blind replay, for the 16-cell thumbnails: block
    // bounds by the windowBounds floor/clamp rule, exact integer block
    // sums, the same fixed double formulas — engine (real containers)
    // and contract (raw bytes) must agree on every corpus doc and cell
    val d = "/root/testdata/sf0.001"
    val texts = Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Multimodal.queries("q139_multimodal_thumb_digest")(spark, d).collect()
    assert(out.length == texts.size)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def bounds(n: Int, cells: Int): IndexedSeq[(Int, Int)] =
      (0 until cells).map { c =>
        val i0 = (c.toLong * n / cells).toInt
        (i0, math.max(i0 + 1, ((c + 1).toLong * n / cells).toInt))
      }
    out.foreach { row =>
      val id = row.getLong(0)
      val bytes = texts(id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = bytes.length
      def bAt(j: Long): Long = if (j < n) (bytes(j.toInt) & 0xFF).toLong else 0L
      val exp: Seq[Double] = (id % 3) match {
        case 2 =>
          val k = (0 until n).map(j => (bAt(j) - 128) * 256)
          bounds(n, 16).map { case (i0, i1) =>
            if (n == 0) 0.0
            else (i0 until i1).map(i => math.abs(k(i))).sum / 32768.0 / (i1 - i0)
          }
        case _ =>
          val w = math.max(1, math.ceil(math.sqrt(n / 3.0)).toInt)
          val h = math.max(1, math.ceil(n / (3.0 * w)).toInt)
          def l3(i: Long): Long = bAt(3 * i) + bAt(3 * i + 1) + bAt(3 * i + 2)
          val rows = bounds(h, 4); val cols = bounds(w, 4)
          for (gy <- 0 until 4; gx <- 0 until 4) yield {
            val (r0, r1) = rows(gy); val (c0, c1) = cols(gx)
            val s = (for (r <- r0 until r1; c <- c0 until c1)
              yield l3(r.toLong * w + c)).sum
            s / 3.0 / ((r1 - r0).toLong * (c1 - c0) * 255.0)
          }
      }
      (0 until 16).foreach { i =>
        val got = row.getDouble(2 + i)
        val want = round6(exp(i).toFloat.toDouble)
        assert(got == want, s"doc $id t${i}_r: engine $got vs contract $want")
      }
    }
  }

  test("q138/q139: empty-content docs still get rows (all-zero stats, clamped geometry)") {
    // the zero-length edge the oracle's LEFT JOIN + GREATEST clamps
    // exist for: the encoders emit a bare header, the engine emits a
    // row — never a dropped doc
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-mm-empty")
    Seq((0L, ""), (1L, ""), (2L, ""), (3L, "abc"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), lit(0L).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val feats = Multimodal.queries("q138_multimodal_decode_digest")(spark, dir)
      .collect()
    assert(feats.length == 4, "empty docs must not be dropped")
    val wav = feats.find(_.getLong(0) == 2L).get
    assert(wav.getInt(2) == 44 && wav.getInt(3) == 0 && wav.getInt(4) == 1)
    // content stats zero; f5/f6 are container constants (rate, channels)
    Seq(0, 1, 2, 3, 4, 7).foreach(i =>
      assert(wav.getDouble(5 + i) == 0.0, s"f$i"))
    assert(wav.getDouble(5 + 5) == 0.166667 && wav.getDouble(5 + 6) == 1.0)
    val bmp = feats.find(_.getLong(0) == 0L).get
    assert(bmp.getInt(3) == 1 && bmp.getInt(4) == 1, "empty image clamps to 1x1")
    val thumbs = Multimodal.queries("q139_multimodal_thumb_digest")(spark, dir)
      .collect()
    assert(thumbs.length == 4)
    val wavT = thumbs.find(_.getLong(0) == 2L).get
    (0 until 16).foreach(i => assert(wavT.getDouble(2 + i) == 0.0, s"t$i"))
  }

  test("q138 features re-derive bit-for-bit from content bytes via the encoder contracts") {
    // an in-Scala replay of the ORACLE's contract math (bytes -> near-
    // square geometry -> zero-padded RGB grid / PCM -> integer sums ->
    // fixed double formulas), independent of MediaCodec's container
    // parsers: the engine decodes real BMP/PPM/WAV files, this recompute
    // never sees a container byte, and the two must agree exactly —
    // the same claim the DuckDB oracle checks at sf0.01, pinned here on
    // the corpus at sf0.001 for every doc and every feature column.
    val d = "/root/testdata/sf0.001"
    val texts = Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Multimodal.queries("q138_multimodal_decode_digest")(spark, d)
      .collect()
    assert(out.length == texts.size)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { row =>
      val id = row.getLong(0)
      val bytes = texts(id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = bytes.length
      def bAt(j: Int): Long = if (j < n) (bytes(j) & 0xFF).toLong else 0L
      val exp: Seq[Double] = (id % 3) match {
        case 2 => // WAV contract: k = ((b & 0xFF) - 128) * 256
          val k = (0 until n).map(j => (bAt(j) - 128) * 256)
          val zc = (1 until n).count(j => (k(j) >= 0) != (k(j - 1) >= 0))
          val dk = (1 until n).map(j => math.abs(k(j) - k(j - 1))).sum
          Seq(k.sum / 32768.0 / n,
            math.sqrt(k.map(x => x * x).sum / 1073741824.0 / n),
            zc.toDouble / n, k.map(math.abs).max / 32768.0,
            math.min(1.0, n / 8000.0), 8000 / 48000.0, 1.0,
            if (n > 1) dk / 32768.0 / (n - 1) else 0.0)
        case _ => // image contract: near-square grid over RGB triples
          val w = math.max(1, math.ceil(math.sqrt(n / 3.0)).toInt)
          val h = math.max(1, math.ceil(n / (3.0 * w)).toInt)
          val np = w.toLong * h
          def l3(i: Long): Long = bAt((3 * i).toInt) + bAt((3 * i + 1).toInt) +
            bAt((3 * i + 2).toInt)
          val sums = (0L until np).map(l3)
          val sr = (0L until np).map(i => bAt((3 * i).toInt)).sum
          val sg = (0L until np).map(i => bAt((3 * i + 1).toInt)).sum
          val sb = (0L until np).map(i => bAt((3 * i + 2).toInt)).sum
          val s1 = sums.sum; val s2 = sums.map(x => x * x).sum
          val nz = sums.count(_ != 0L).toLong
          val g3 = (0L until np).filter(_ % w != 0)
            .map(i => math.abs(l3(i) - l3(i - 1))).sum
          val mean = s1 / 3.0 / np
          Seq(sr.toDouble / np / 255.0, sg.toDouble / np / 255.0,
            sb.toDouble / np / 255.0, mean / 255.0,
            math.sqrt(math.max(0.0, s2 / 9.0 / np - mean * mean)) / 255.0,
            w.toDouble / (w + h), nz.toDouble / np,
            if (w > 1) g3 / 3.0 / ((np - h) * 255.0) else 0.0)
      }
      (0 until 8).foreach { i =>
        val got = row.getDouble(5 + i)
        val want = round6(exp(i).toFloat.toDouble)
        assert(got == want, s"doc $id f${i}_r: engine $got vs contract $want")
      }
    }
  }
}
