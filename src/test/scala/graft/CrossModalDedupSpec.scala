package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q225 behavior pins: a planted same-content image pair classifies as
  * `both`, and on the real corpus the three classes are exactly the
  * set algebra of the two pair graphs (conservation — no pair lost,
  * none double-counted).
  */
class CrossModalDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def classes(d: String): Map[String, Long] =
    SparkEntry.queries("q225_crossmodal_agreement")(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("planted identical image docs land in 'both'; unrelated docs pair with nobody") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-xmodal")
    val same = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely unrelated corpus text carrying nothing shared whatsoever here"
    // doc_id % 3 == 0 -> BMP container: 0 and 3 are the SAME bytes in
    // the SAME container (hamming 0, jaccard 1); 6 shares no 3-gram
    Seq((0L, same), (3L, same), (6L, other))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(classes(dir) == Map("both" -> 1L, "text_only" -> 0L, "visual_only" -> 0L))
  }

  test("corpus classes are the exact set algebra of the two stored pair graphs") {
    val d = "/root/testdata/sf0.001"
    val v = ops.ImageHash.dhashPairs(spark, d)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t = ops.Dedup.jaccardPairs(spark, d, threshold = 0.2)
      .filter(pmod(col("doc_a"), lit(3)) < 2 && pmod(col("doc_b"), lit(3)) < 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = classes(d)
    assert(got("both") == (v & t).size.toLong)
    assert(got("visual_only") == (v -- t).size.toLong)
    assert(got("text_only") == (t -- v).size.toLong)
    // conservation: every pair classified exactly once
    assert(got.values.sum == (v ++ t).size.toLong)
  }

  test("q229: resolution counts are the exact verdict algebra over the classed pairs") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q229_crossmodal_curation")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // spine complete, resolution bounded by pair count, ppm consistent
    assert(rows.keySet == Set("both", "text_only", "visual_only"))
    rows.foreach { case (cls, (n, res, ppm)) =>
      assert(res <= n, s"$cls resolved > pairs")
      val expPpm = if (n == 0) 0L else res * 1000000L / n
      assert(ppm == expPpm, s"$cls ppm mismatch")
    }
    // exact recount: per class, resolved == pairs with >=1 non-keep
    // verdict, recomputed independently from the stored frames
    val verd = ops.TextAnalysis.exactVerdicts(spark, d)
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val v = ops.ImageHash.dhashPairs(spark, d)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t = ops.Dedup.jaccardPairs(spark, d, threshold = 0.2)
      .filter(pmod(col("doc_a"), lit(3)) < 2 && pmod(col("doc_b"), lit(3)) < 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def resolved(ps: Set[(Long, Long)]) =
      ps.count { case (a, b) => verd(a) != "keep" || verd(b) != "keep" }.toLong
    assert(rows("both")._2 == resolved(v & t))
    assert(rows("visual_only")._2 == resolved(v -- t))
    assert(rows("text_only")._2 == resolved(t -- v))
  }
}
