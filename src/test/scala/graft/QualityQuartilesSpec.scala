package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.qualityScore

/** q199 behavior pins: the lower-rank convention on a hand multiset,
  * and a driver brute-force quartile replay on the corpus.
  */
class QualityQuartilesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q199: corpus quartiles equal a sorted-multiset brute force") {
    val sf = "/root/testdata/sf0.001"
    val scored = Tables.documents(spark, sf)
      .select(col("source"),
        round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = scored.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
      val v = ds.map(_._2).sorted
      val n = v.size.toLong
      def at(k: Long): Long = v(((n - 1) * k / 4).toInt)
      (src, n, v.min, at(1), at(2), at(3), v.max, at(3) - at(1))
    }
    val got = SparkEntry.queries("q199_quality_quartiles")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expected, s"engine:\n${got.take(4).mkString("\n")}\nexpected:\n${expected.take(4).mkString("\n")}")
    // ordering invariant per source
    for ((_, _, mn, q1, q2, q3, mx, iqr) <- got) {
      assert(mn <= q1 && q1 <= q2 && q2 <= q3 && q3 <= mx && iqr == q3 - q1)
    }
  }

  test("q199: lower-rank convention on a planted 5-doc source") {
    // qualities strictly ordered by construction: 5 docs, ranks 0..4;
    // targets (n-1)k/4 = 1, 2, 3 -> q1/q2/q3 are the 2nd/3rd/4th value.
    val texts = Seq(
      "aa bb cc dd ee",                       // mid-length, distinct
      "a a a a a a a a",                      // repetitive -> low quality
      "the quick brown fox jumps over dogs",  // stopword-bearing
      "zz zz", "one two three four five six seven eight nine ten")
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-quartiles")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "S", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val qs = spark.read.parquet(s"$dir/documents.parquet")
      .select(round(qualityScore(col("text")) * 1e6, 0).cast("long"))
      .collect().map(_.getLong(0)).sorted
    val r = SparkEntry.queries("q199_quality_quartiles")(spark, dir).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      == ((5L, qs(0), qs(1), qs(2), qs(3), qs(4))), r.toString)
  }
}
