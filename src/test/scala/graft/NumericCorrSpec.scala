package graft

import org.scalatest.funsuite.AnyFunSuite

/** q204 behavior pins: exact ±1 on perfectly (anti)correlated planted
  * measures, the zero-variance guard, and a driver brute-force
  * Pearson replay on the corpus.
  */
class NumericCorrSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q204: planted perfect correlation reads ±1e6 and constant columns read 0") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-corr")
    // y = 2x (r = +1), z constant (r = 0 by the variance guard);
    // discount x in {0.01..0.04} -> cents 1..4, quantity 2..8.
    Seq((1L, 1L, 1, 2.0, 100.0, 0.01), (1L, 2L, 2, 4.0, 100.0, 0.02),
      (2L, 3L, 1, 6.0, 100.0, 0.03), (2L, 4L, 2, 8.0, 100.0, 0.04))
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount")
      .withColumn("l_suppkey", org.apache.spark.sql.functions.lit(1L))
      .withColumn("l_tax", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("l_returnflag", org.apache.spark.sql.functions.lit("N"))
      .withColumn("l_linestatus", org.apache.spark.sql.functions.lit("O"))
      .withColumn("l_shipdate",
        org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("1995-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q204_numeric_correlations")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("discount_quantity") == 1000000L, got.toString)
    assert(got("discount_price") == 0L && got("quantity_price") == 0L, got.toString)
  }

  test("q204: corpus correlations equal a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.lineitem(spark, sf)
      .selectExpr("CAST(ROUND(l_discount * 100) AS BIGINT)",
        "CAST(l_quantity AS BIGINT)", "CAST(ROUND(l_extendedprice) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val n = rows.size.toLong
    def corr(xs: Seq[Long], ys: Seq[Long]): Long = {
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(v => v * v).sum; val syy = ys.map(v => v * v).sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val num = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val den = math.sqrt((n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
        * (n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
      if (den == 0.0) 0L
      else new java.math.BigDecimal(num * 1000000.0 / den)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }
    val expected = Map(
      "discount_quantity" -> corr(rows.map(_._1), rows.map(_._2)),
      "discount_price" -> corr(rows.map(_._1), rows.map(_._3)),
      "quantity_price" -> corr(rows.map(_._2), rows.map(_._3)))
    val got = SparkEntry.queries("q204_numeric_correlations")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((k, v) <- expected) {
      assert(got(k) == ((n, v)), s"$k: ${got(k)} vs ($n, $v)")
      assert(math.abs(v) <= 1000000L)
    }
  }
}
