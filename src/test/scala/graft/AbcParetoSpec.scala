package graft

import org.scalatest.funsuite.AnyFunSuite

/** q205 behavior pins: the exact-80% boundary stays in class A on a
  * planted fixture, and a driver brute-force classification replay on
  * the corpus (which also exercises the two-phase prefix sum against
  * a sequential scan).
  */
class AbcParetoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeLineitem(dir: String, rows: Seq[(Long, Long, Double)]): Unit =
    rows.map { case (o, p, price) => (o, p, 1, 1.0, price, 0.0) }
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount")
      .withColumn("l_suppkey", org.apache.spark.sql.functions.lit(1L))
      .withColumn("l_tax", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("l_returnflag", org.apache.spark.sql.functions.lit("N"))
      .withColumn("l_linestatus", org.apache.spark.sql.functions.lit("O"))
      .withColumn("l_shipdate",
        org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("1995-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  test("q205: a part landing exactly on 80% is still A; the tail is C") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-abc")
    // revenues 50, 30, 15, 5 (total 100): cum shares 50%, 80%, 95%, 100%
    // -> A = {50, 30} (the 80% part INCLUDED), B = {15}, C = {5}.
    writeLineitem(dir, Seq((1L, 1L, 50.0), (2L, 2L, 30.0), (3L, 3L, 15.0), (4L, 4L, 5.0)))
    val got = SparkEntry.queries("q205_abc_classification")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("A", 2L, 8000L, 800000L), ("B", 1L, 1500L, 150000L),
      ("C", 1L, 500L, 50000L)), got.mkString(", "))
  }

  test("q205: corpus classes equal a sequential brute force") {
    val sf = "/root/testdata/sf0.001"
    val rev = Tables.lineitem(spark, sf)
      .selectExpr("l_partkey", "CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.map { case (p, v) => (p, v.map(_._2).sum) }
    val total = rev.map(_._2).sum
    var cum = 0L
    val classed = rev.sortBy { case (p, c) => (-c, p) }.map { case (p, c) =>
      cum += c
      val cls = if (cum * 100 <= 80 * total) "A"
      else if (cum * 100 <= 95 * total) "B" else "C"
      (cls, c)
    }
    def rnd(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val expected = classed.groupBy(_._1).toSeq.sortBy(_._1).map { case (cls, v) =>
      val cents = v.map(_._2).sum
      (cls, v.size.toLong, cents, rnd(cents.toDouble * 1000000.0 / total.toDouble))
    }
    val got = SparkEntry.queries("q205_abc_classification")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    assert(got.map(_._2).sum == rev.size.toLong)
  }
}
