package graft

import org.scalatest.funsuite.AnyFunSuite

/** q192 behavior pins: an exact-power-law fixture reads slope ≈ −1e6
  * ppm with r² ≈ 1, and a driver brute-force OLS replay on the corpus
  * with BigDecimal HALF_UP quantization.
  */
class ZipfFitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mln(x: Double): Long =
    new java.math.BigDecimal(math.log(x) * 1e3)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  test("q192: an exact 1/r corpus fits slope -1 with r2 ~ 1") {
    // counts C/r for r=1..8 with C=840 (lcm 1..8): ln f = ln C - ln r
    // exactly, so OLS slope = -1 up to milli-nat quantization.
    val words = ('a' to 'h').zipWithIndex.map { case (w, i) =>
      (w.toString + " ") * (840 / (i + 1))
    }.mkString(" ")
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-zipf")
    Seq((0L, words, "en", "Z", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q192_zipf_slope")(spark, dir).head()
    assert(r.getLong(0) == 8L, r.toString)
    assert(math.abs(r.getLong(1) + 1000000L) < 2000, s"slope ${r.getLong(1)}")
    assert(math.abs(r.getLong(2) - mln(840.0)) < 5, s"intercept ${r.getLong(2)}")
    assert(r.getLong(3) > 999990L, s"r2 ${r.getLong(3)}")
  }

  test("q192: corpus fit equals a driver brute-force OLS") {
    val sf = "/root/testdata/sf0.001"
    val counts = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .groupBy(identity).toSeq.map { case (w, vs) => (w, vs.size.toLong) }
    val top = counts.sortBy { case (w, f) => (-f, w) }.take(1000)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (mln((i + 1).toDouble), mln(f.toDouble))
    }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val syy = pts.map(p => p._2 * p._2).sum
    def rnd(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val num = (n * sxy - sx * sy).toDouble
    val den = (n * sxx - sx * sx).toDouble
    val expSlope = rnd(num * 1000000.0 / den)
    val expIcpt = rnd((sy * sxx - sx * sxy).toDouble / den)
    val expR2 = rnd(num * num * 1000000.0 / (den * (n * syy - sy * sy).toDouble))
    val r = SparkEntry.queries("q192_zipf_slope")(spark, sf).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((n, expSlope, expIcpt, expR2)), r.toString)
    // the synthetic corpus is only mildly Zipfian (~ -0.18); pin just
    // the invariants: head dominance (negative slope) and a valid r²
    assert(r.getLong(1) < 0L && r.getLong(3) > 0L && r.getLong(3) <= 1000000L)
  }
}
