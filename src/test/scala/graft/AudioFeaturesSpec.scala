package graft

import org.scalatest.funsuite.AnyFunSuite

/** q213 behavior pins: hand-derived windows on tiny PCM streams
  * (resampling when n < windows, the window-LOCAL zero-crossing rule),
  * and a corpus brute-force replay of the encoder contract — the same
  * derivation the DuckDB oracle runs, here against the engine's real
  * container parse.
  */
class AudioFeaturesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def write(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def run(dir: String): Seq[(Long, Int, Long, Long, Long, Long)] =
    ops.AudioFeatures.queries("q213_audio_features")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("q213: two samples resample into 8 windows; ASCII bytes are all negative samples") {
    // "ab" -> bytes 97, 98 -> samples -7936, -7680; windowBounds(2, 8)
    // puts windows 0-3 on sample 0 and 4-7 on sample 1
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-audio")
    write(dir, Seq((2L, "ab")))
    val got = run(dir)
    val expect = (0 to 3).map(w => (2L, w, 1L, 7936L, 0L, 7936L)) ++
      (4 to 7).map(w => (2L, w, 1L, 7680L, 0L, 7680L))
    assert(got == expect, got.mkString(", "))
  }

  test("q213: zero-crossings count sign flips INSIDE a window only") {
    // "a" + "é"(0xC3 0xA9) + "b"*13 -> 16 bytes -> 8 windows of 2:
    // window 0 = (97-, 195+): one flip; window 1 = (169+, 98-): one
    // flip; windows 2-7 all-'b', no flips
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-audio2")
    write(dir, Seq((2L, "aé" + "b" * 13)))
    val got = run(dir)
    assert(got.size == 8)
    assert(got.map(_._5) == Seq(1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L), got.mkString(", "))
    // and the window-0 features match the hand samples
    assert(got.head == ((2L, 0, 2L, 7936L + 17152L, 1L, 17152L)), got.head.toString)
  }

  test("q213: corpus equals the encoder-contract brute force (the oracle's derivation)") {
    val d = "/root/testdata/sf0.001"
    val texts = Tables.documents(spark, d).filter("doc_id % 3 = 2")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = texts.toSeq.flatMap { case (id, t) =>
      val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (bytes.isEmpty) Seq.empty[(Long, Int, Long, Long, Long, Long)]
      else {
        val sam = bytes.map(b => ((b & 0xFF) - 128) * 256)
        ops.MediaCodec.windowBounds(sam.length, ops.AudioFeatures.Windows)
          .zipWithIndex.toSeq.map { case ((i0, i1), w) =>
            val win = sam.slice(i0, i1)
            val zcr = (i0 + 1 until i1)
              .count(i => (sam(i) >= 0) != (sam(i - 1) >= 0)).toLong
            (id, w, (i1 - i0).toLong, win.map(x => math.abs(x).toLong).sum,
              zcr, win.map(x => math.abs(x).toLong).max)
          }
      }
    }.sortBy(r => (r._1, r._2))
    val got = run(d)
    assert(got == expected, s"engine ${got.size} rows vs contract ${expected.size}")
    assert(got.nonEmpty)
  }
}
