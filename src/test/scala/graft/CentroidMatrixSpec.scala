package graft

import org.scalatest.funsuite.AnyFunSuite

/** q182 behavior pins: exact hand-computed matrix on orthogonal /
  * identical planted centroids, and a driver brute-force replay on
  * the real corpus (same integer quantization, HALF_UP like the
  * engine's round) with the Cauchy-Schwarz bound as a law.
  */
class CentroidMatrixSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def e(hot: Int, v: Float = 1.0f): Seq[Float] =
    Seq.tabulate(64)(i => if (i == hot) v else 0.0f)

  test("q182: identical and orthogonal planted centroids") {
    // label 0: two copies of e0 -> centroid (1000, 0, ...); label 1:
    // e1 -> (0, 1000, ...); label 2: e0 -> same centroid as label 0.
    // cos(0,1) = cos(1,2) = 0; cos(0,2) = 1.
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-centmatrix")
    Seq((0L, e(0), 0), (1L, e(0), 0), (2L, e(1), 1), (3L, e(0), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q182_centroid_redundancy")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(5))).toSeq
    assert(got == Seq(
      (0, 1, 0L, 0L),
      (0, 2, 1000000L, 1000000L),
      (1, 2, 0L, 0L)), got.mkString(", "))
  }

  test("q182: corpus matrix equals a driver brute force; cos bounded") {
    val sf = "/root/testdata/sf0.001"
    val vecs = Tables.embeddings(spark, sf)
      .collect().map(r => (r.getInt(2), r.getSeq[Float](1).toSeq)).toSeq
    def half(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val cents = vecs.groupBy(_._1).map { case (l, vs) =>
      val n = vs.size
      l -> (0 until 64).map { i =>
        val s = vs.map(v => half(v._2(i).toDouble * 1000.0) + 1024L).sum
        s / n - 1024L // positive domain: / == floor div
      }
    }
    val labels = cents.keys.toSeq.sorted
    val expected = (for (a <- labels; b <- labels if a < b) yield {
      val (ca, cb) = (cents(a), cents(b))
      val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
      val na2 = ca.map(x => x * x).sum
      val nb2 = cb.map(x => x * x).sum
      val cos = if (na2 == 0 || nb2 == 0) 0L
        else half(dot.toDouble * 1000000.0 / math.sqrt(na2.toDouble * nb2.toDouble))
      (a, b, dot, na2, nb2, cos)
    }).sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q182_centroid_redundancy")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    got.foreach(r => assert(math.abs(r._6) <= 1000000L, s"Cauchy-Schwarz violated: $r"))
    assert(got.size == labels.size * (labels.size - 1) / 2)
  }
}
