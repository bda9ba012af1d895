package graft

import org.scalatest.funsuite.AnyFunSuite

/** q203 behavior pins: hand-computed support/confidence/lift on a
  * planted basket fixture (incl. in-basket duplicate dedup and the
  * lift>1 vs lift<1 split), and a driver brute-force corpus replay.
  */
class BasketAffinitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q203: planted baskets read exact support/confidence/lift") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-basket")
    // 4 baskets: {1,2} {1,2} {1,3} {2,3,3} (dup 3 dedups).
    // pair (1,2): n_ab=2, c1=3, c2=3, n=4 -> lift = 4*2/(3*3) = 8/9.
    // pairs (1,3) and (2,3): n_ab=1 -> dropped by min-support 2.
    val rows = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L), (13L, 2L), (13L, 3L), (13L, 3L))
    rows.map { case (o, p) => (o, p, 1, 1.0, 0.0, 0.0, "N", "O", java.sql.Date.valueOf("1995-01-01")) }
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_suppkey", org.apache.spark.sql.functions.lit(1L))
      .withColumn("l_tax", org.apache.spark.sql.functions.lit(0.0))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q203_basket_affinity")(spark, dir).collect()
    assert(got.length == 1, got.mkString(", "))
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((1L, 2L, 2L, 3L, 3L)), r.toString)
    assert(r.getLong(5) == 2L * 1000000L / 4L)     // support
    assert(r.getLong(6) == 2L * 1000000L / 3L)     // conf a->b
    assert(r.getLong(7) == 2L * 1000000L / 3L)     // conf b->a
    assert(r.getLong(8) == math.round(4.0 * 2.0 * 1000000.0 / 9.0))  // lift 8/9
  }

  test("q203: corpus top-50 equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val baskets = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    val items = baskets.groupBy(_._2).map { case (p, v) => p -> v.size.toLong }
    val n = baskets.map(_._1).distinct.size.toLong
    val byOrder = baskets.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val pairs = byOrder.values.flatMap(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j)))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      .filter(_._2 >= 2L)
    def rnd(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val expected = pairs.toSeq.map { case ((a, b), nab) =>
      val (ca, cb) = (items(a), items(b))
      (a, b, nab, ca, cb, nab * 1000000L / n, nab * 1000000L / ca,
        nab * 1000000L / cb, rnd(n.toDouble * nab.toDouble * 1000000.0 / (ca.toDouble * cb.toDouble)))
    }.sortBy(t => (-t._9, t._1, t._2)).take(50)
    val got = SparkEntry.queries("q203_basket_affinity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got == expected, s"engine:\n${got.take(5).mkString("\n")}\nexpected:\n${expected.take(5).mkString("\n")}")
  }
}
