package graft

import org.scalatest.funsuite.AnyFunSuite

/** q186 behavior pins: a fixture with planted zero / near-zero /
  * duplicate vectors and a constant dimension, and a driver
  * brute-force replay on the real corpus.
  */
class VectorCardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q186: planted degenerate vectors are each counted once") {
    // v0 = zero vector; v1 = tiny (norm2 = 4 < 10000, not zero);
    // v2 = v3 = identical healthy vectors (1 dup); v4 distinct healthy.
    // dim 5 is CONSTANT 0.5 across all vectors -> 1 const dim... but
    // the zero/tiny vectors would break that, so pin dim 5 = 0.5
    // everywhere explicitly.
    def vec(f: Int => Float): Seq[Float] = Seq.tabulate(64)(f)
    val rows = Seq(
      (0L, vec(i => if (i == 5) 0.5f else 0.0f), 0),
      (1L, vec(i => if (i == 5) 0.5f else if (i == 0) 0.002f else 0.0f), 0),
      (2L, vec(i => if (i == 5) 0.5f else 0.3f), 1),
      (3L, vec(i => if (i == 5) 0.5f else 0.3f), 1),
      (4L, vec(i => if (i == 5) 0.5f else -0.2f), 1))
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-veccard")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("q186_vector_card")(spark, dir).head()
    // v0: norm2 = 500^2 = 250000 -> NOT zero, NOT near-zero (dim 5!).
    // Re-derive: zero/near-zero are judged on the FULL vector incl. the
    // pinned dim, so n_zero = 0 and n_near = 0 here; dups = 1 (v2=v3);
    // const dims = 1 (dim 5).
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((5L, 0L, 0L, 1L, 1L)), r.toString)
  }

  test("q186: true zero and near-zero vectors are flagged") {
    def vec(f: Int => Float): Seq[Float] = Seq.tabulate(64)(f)
    val rows = Seq(
      (0L, vec(_ => 0.0f), 0),                                  // zero
      (1L, vec(i => if (i == 0) 0.05f else 0.0f), 0),           // norm2 = 2500 < 10000
      (2L, vec(i => if (i == 0) 0.2f else 0.0f), 0))            // healthy
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-veccard2")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("q186_vector_card")(spark, dir).head()
    // const dims: dims 1..63 are 0 everywhere -> 63 constant dims
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((3L, 1L, 2L, 0L, 63L)), r.toString)
  }

  test("q186: corpus card equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    def half(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(_.getSeq[Float](1).toSeq.map(x => half(x.toDouble * 1000.0))).toSeq
    val norms = vecs.map(v => v.map(x => x * x).sum)
    val expected = (vecs.size.toLong,
      norms.count(_ == 0L).toLong,
      norms.count(_ < graft.ops.VectorCard.NearT).toLong,
      (vecs.size - vecs.map(_.mkString(",")).distinct.size).toLong,
      (0 until 64).count(i => vecs.map(_(i)).distinct.size == 1).toLong)
    val r = SparkEntry.queries("q186_vector_card")(spark, sf).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == expected, s"engine: $r expected: $expected")
    assert(r.getLong(0) > 0)
  }
}
