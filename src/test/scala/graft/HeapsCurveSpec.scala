package graft

import org.scalatest.funsuite.AnyFunSuite

/** q193 behavior pins: hand rows on a fixture with a planted
  * vocabulary-growth profile (all-new vs all-repeat documents), and a
  * driver brute-force curve replay on the corpus.
  */
class HeapsCurveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mln(x: Double): Long =
    new java.math.BigDecimal(math.log(x) * 1e3)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  test("q193: saturated growth reads beta 0; all-new growth reads beta near 1") {
    // doc 0: "a b"; doc 1: "a b" (repeat; cutoff 2 adds no types);
    // docs 2,3: four new types (cutoff 4 doubles tokens, triples types).
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-heaps")
    Seq((0L, "a b", "en", "S", 0L), (1L, "a b", "en", "S", 0L),
      (2L, "c d", "en", "S", 0L), (3L, "e f", "en", "S", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q193_heaps_curve")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val b4 = (mln(6.0) - mln(2.0)) * 1000000L / (mln(8.0) - mln(4.0))
    assert(got.toSeq == Seq(
      (1L, 1L, 2L, 2L, 0L),           // first bucket: no previous point
      (2L, 2L, 4L, 2L, 0L),           // tokens doubled, zero new types
      (4L, 4L, 8L, 6L, b4)), got.mkString(", "))
  }

  test("q193: corpus curve equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
      .sortBy(_._1)
    val maxJ = (63 - java.lang.Long.numberOfLeadingZeros(
      math.max(1, docs.size - 1).toLong)) + (if (docs.size > 1) 1 else 0)
    val expected = (0 to maxJ).map { j =>
      val cut = math.min(1L << j, docs.size.toLong).toInt
      val seen = docs.take(cut)
      val tok = seen.map(_._2.size.toLong).sum
      val ty = seen.flatMap(_._2).distinct.size.toLong
      (1L << j, cut.toLong, tok, ty)
    }
    val withBeta = expected.zipWithIndex.map { case ((c, d, tok, ty), i) =>
      val beta = if (i == 0) 0L else {
        val (_, _, pt, py) = expected(i - 1)
        val dt = mln(tok.toDouble) - mln(pt.toDouble)
        if (dt == 0) 0L else (mln(ty.toDouble) - mln(py.toDouble)) * 1000000L / dt
      }
      (c, d, tok, ty, beta)
    }
    val got = SparkEntry.queries("q193_heaps_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == withBeta, s"engine:\n${got.mkString("\n")}\nexpected:\n${withBeta.mkString("\n")}")
    // growth invariants: monotone, sublinear tail (beta < 1e6 once repeats appear)
    assert(got.last._4 > got.head._4 && got.last._5 < 1000000L)
  }
}
