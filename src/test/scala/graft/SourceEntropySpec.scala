package graft

import org.scalatest.funsuite.AnyFunSuite

/** q190 behavior pins: uniform (max-entropy) and single-type (zero
  * entropy) planted sources by hand, and a driver brute-force corpus
  * replay with BigDecimal HALF_UP quantization (Scala math.round
  * differs on negative halves; ln terms here are nonnegative but the
  * convention is pinned anyway).
  */
class SourceEntropySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def q(x: Double): Long =
    new java.math.BigDecimal(math.log(x) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  test("q190: uniform source reads evenness 1e6; constant source reads entropy 0") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-srcentropy")
    Seq((0L, "a b c d", "en", "U", 0L), (1L, "x x x x", "en", "K", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q190_source_entropy")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // U: 4 tokens, 4 types, all c=1 -> h = q(4) = 1386294, evenness 1e6.
    // K: 4 tokens, 1 type -> h = q(4) - (4*q(4)) DIV 4 = 0, evenness 0.
    assert(got.toSeq == Seq(("K", 4L, 1L, 0L, 0L),
      ("U", 4L, 4L, q(4.0), 1000000L)), got.mkString(", "))
  }

  test("q190: corpus entropy equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
      val counts = ds.flatMap(_._2.trim.split("\\s+"))
        .groupBy(identity).map { case (_, v) => v.size.toLong }.toSeq
      val n = counts.sum
      val types = counts.size.toLong
      val hNum = counts.map(c => c * q(c.toDouble)).sum
      val h = if (n == 0) 0L else q(n.toDouble) - hNum / n
      val ev = if (types <= 1) 0L else h * 1000000L / q(types.toDouble)
      (src, n, types, h, ev)
    }
    val got = SparkEntry.queries("q190_source_entropy")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    // entropy is positive and bounded by ln(types) on every real source
    for ((_, _, types, h, ev) <- got) {
      assert(h > 0L && h <= q(types.toDouble) && ev > 0L && ev <= 1000000L)
    }
  }
}
