package graft

import org.scalatest.funsuite.AnyFunSuite

/** q189 behavior pins: exact hand rows on a planted tight-vs-spread
  * fixture, the pairwise-identity gate (the one-pass numerator equals
  * a literal pair enumeration), and a driver brute-force corpus
  * replay.
  */
class LabelDispersionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def half(x: Double): Long =
    new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  test("q189: a collapsed label reads dispersion 0; a spread one reads its exact pair distance") {
    def vec(f: Int => Float): Seq[Float] = Seq.tabulate(64)(f)
    // label 0: two identical vectors -> within 0, disp 0.
    // label 1: +/-0.5 on dim 0 -> d2 = 1000^2 = 1e6; ordered-pair mean
    //          = 2 * 1e6 / 4 = 500000.
    val rows = Seq(
      (0L, vec(i => if (i == 0) 0.3f else 0.0f), 0),
      (1L, vec(i => if (i == 0) 0.3f else 0.0f), 0),
      (2L, vec(i => if (i == 0) 0.5f else 0.0f), 1),
      (3L, vec(i => if (i == 0) -0.5f else 0.0f), 1))
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-labeldisp")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q189_label_dispersion")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6)))
    // global: n=4, t2 = 2*300^2 + 2*500^2 = 680000, S_0 = 600, s2 = 360000
    //   within = 4*680000 - 360000 = 2360000, disp = 2*2360000/16 = 295000
    // label 0: disp 0 -> rel 0; label 1: disp 500000 -> rel 1694915 ppm
    assert(got.toSeq == Seq(
      (-1, 4L, 2360000L, 295000L, 1000000L),
      (0, 2L, 0L, 0L, 0L),
      (1, 2L, 1000000L, 500000L, 500000L * 1000000L / 295000L)), got.mkString(", "))
  }

  test("q189: one-pass numerator equals a literal ordered-pair enumeration (corpus)") {
    val sf = "/root/testdata/sf0.001"
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1).toSeq.map(x => half(x.toDouble * 1000.0))))
      .toSeq
    val byLabel = vecs.groupBy(_._1)
    val got = SparkEntry.queries("q189_label_dispersion")(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    def pairNum(vs: Seq[Seq[Long]]): Long =
      (for (a <- vs; b <- vs)
        yield a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum).sum / 2
    for ((lab, vs) <- byLabel) {
      val n = vs.size.toLong
      val num = pairNum(vs.map(_._2))
      assert(got(lab) == ((n, num, 2 * num / (n * n),
        got(lab)._3 * 1000000L / got(-1)._3)), s"label $lab")
    }
    val all = vecs.map(_._2)
    val gn = all.size.toLong
    val gnum = pairNum(all)
    assert(got(-1) == ((gn, gnum, 2 * gnum / (gn * gn), 1000000L)))
    assert(got.size == byLabel.size + 1)
  }
}
