package graft

import org.scalatest.funsuite.AnyFunSuite

/** q214 behavior pins: the hand-derivable loading on the q210 2-dim
  * fixture (direction fixed point (1000, 171)), and a corpus replay
  * where the per-label report must equal a scalar brute force over
  * the same integer quantization and truncating mean.
  */
class CommonDirectionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val d = "/root/testdata/sf0.01"

  private def run(dir: String): Seq[(Int, Long, Long, Long, Long)] =
    ops.CommonDirection.queries("q214_common_direction")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq

  test("q214: hand fixture — loadings on the (1000, 171) fixed-point direction") {
    // q210's fixture: direction converges to (1000, 171); label 0 vecs
    // (1.0, 0) -> dot = 1000·1000; label 1 vec (0.6, 0.8) ->
    // 600·1000 + 800·171 = 736800
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-cdir")
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0), (3L, Seq(0.6f, 0.8f), 1))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(run(dir) == Seq(
      (0, 3L, 1000000L, 1000000L, 1000000L),
      (1, 1L, 736800L, 736800L, 736800L)))
  }

  test("q214: corpus report equals the scalar brute force") {
    val gram = ops.PowerIteration.gramOf(spark, d)
    val dim = gram.keysIterator.map(_._1).max + 1
    val v = ops.PowerIteration.iterate(gram, dim)
      .filter(_._1 == ops.PowerIteration.Rounds).sortBy(_._2).map(_._3)
    def q(x: Double): Long = java.math.BigDecimal.valueOf(x * 1000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val dots = Tables.embeddings(spark, d)
      .selectExpr("label", "cast(embedding as array<double>) v").collect()
      .map { r =>
        val x = r.getSeq[Double](1)
        (r.getInt(0), x.indices.map(i => q(x(i)) * v(i)).sum)
      }
    val expected = dots.groupBy(_._1).toSeq.map { case (label, ds) =>
      val s = ds.map(_._2)
      // truncating integer mean (sum and count always positive counts;
      // the SUM may be negative -> toward-zero division like DIV)
      val mean = { val t = s.sum; val n = s.length
        (math.abs(t) / n) * (if (t < 0) -1 else 1) }
      (label, s.length.toLong, mean, s.min, s.max)
    }.sortBy(_._1)
    val got = run(d)
    assert(got == expected, s"engine $got vs brute $expected")
    assert(got.nonEmpty)
  }
}
