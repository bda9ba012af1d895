package graft

import org.scalatest.funsuite.AnyFunSuite

/** q212 behavior pins: the hand-derivable gradient hashes (all-ones /
  * all-zeros), cross-format invariance (same bytes under BMP and PPM
  * hash identically — the orientation correction), dup detection, and
  * the corpus fixture-coverage shape.
  */
class ImageHashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def write(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def run(dir: String): Seq[(Long, String, Int, Int, Long)] =
    ops.ImageHash.queries("q212_image_dhash")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSeq

  /** 81×81 image whose every row is the same strictly-increasing (or
    * decreasing) luma ramp: all 64 dHash bits equal by construction.
    */
  private def ramp(desc: Boolean): String = {
    val sb = new StringBuilder
    for (p <- 0 until 81 * 81) {
      val col = p % 81
      val b = 32 + (if (desc) 80 - col else col)
      sb.append(b.toChar.toString * 3)
    }
    sb.toString
  }

  test("q212: gradient ramps pin the exact hash; BMP and PPM of the same bytes agree") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-dhash")
    // ids 0 (BMP) and 3 (BMP) / 1 and 4 (PPM): ascending ramp under
    // both containers, descending ramp under BMP
    write(dir, Seq(
      (0L, ramp(desc = false)), (1L, ramp(desc = false)),
      (3L, ramp(desc = true)), (6L, "completely different content here")))
    val got = run(dir).map(r => (r._1, r._5)).toMap
    // ascending: every left cell mean strictly below its right neighbor
    // -> all 64 bits set -> -1 as a signed long; descending -> 0
    assert(got(0L) == -1L, f"ascending BMP hash ${got(0L)}%016x")
    assert(got(1L) == -1L, "ascending PPM must equal ascending BMP (orientation pin)")
    assert(got(3L) == 0L, f"descending BMP hash ${got(3L)}%016x")
    assert(got(6L) != -1L && got(6L) != 0L, "unrelated content collided with a ramp")
    val rows = run(dir)
    assert(rows.map(_._1) == Seq(0L, 1L, 3L, 6L))
    assert(rows.filter(r => Set(0L, 1L).contains(r._1))
      .map(r => (r._3, r._4)).distinct == Seq((81, 81)))
  }

  test("q212: identical texts are image dups across formats; corpus covers every image doc") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-dhash2")
    val t = "the same document body repeated verbatim for the dup pair"
    write(dir, Seq((0L, t), (1L, t), (3L, t), (6L, "another body entirely " * 3)))
    val got = run(dir)
    val dupHashes = got.filter(r => Set(0L, 1L, 3L).contains(r._1)).map(_._5)
    assert(dupHashes.distinct.size == 1,
      s"identical content must hash identically across containers: $dupHashes")
    assert(got.find(_._1 == 6L).get._5 != dupHashes.head)

    val d = "/root/testdata/sf0.001"
    val corpus = run(d)
    val nImages = Tables.documents(spark, d)
      .filter("doc_id % 3 < 2").count()
    assert(corpus.size == nImages, s"${corpus.size} rows vs $nImages image docs")
    assert(corpus.map(_._5).distinct.size > 1)
  }

  test("q221: pigeonhole pairs equal the brute-force hamming<=3 graph; cross-container dups pair at 0") {
    // hand fixture: ids 0/1 = same bytes under BMP vs PPM (hamming 0),
    // id 3 = descending ramp (hamming 64 from the ascending pair)
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-dhash3")
    write(dir, Seq((0L, ramp(desc = false)), (1L, ramp(desc = false)),
      (3L, ramp(desc = true))))
    val pairs = ops.ImageHash.queries("q221_image_neardup_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((0L, 1L, 0)), s"expected only the cross-container dup: $pairs")

    // corpus: the pigeonhole join must find EXACTLY the brute-force
    // hamming<=3 pairs (no bucket exceeds the cap at this SF, so the
    // 4-chunk guarantee makes the candidate set complete)
    val d = "/root/testdata/sf0.001"
    val hashes = run(d).map(r => (r._1, r._5))
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      h = java.lang.Long.bitCount(ha ^ hb) if h <= ops.ImageHash.HammingMax
    } yield (ia, ib, h)).sorted
    val got = ops.ImageHash.queries("q221_image_neardup_pairs")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(got == brute, s"pigeonhole vs brute force: ${got.size} vs ${brute.size}")
    assert(brute.nonEmpty, "degenerate: no near-dup image pairs at this SF")
  }
}
