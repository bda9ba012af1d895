package graft

import org.scalatest.funsuite.AnyFunSuite

/** q206 behavior pins: a planted decline year pins the SIGNED growth
  * path (the DIV-vs-// divergence zone), the first-year NULL
  * baseline, and a driver brute-force corpus replay.
  */
class YoyGrowthSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q206: decline reads negative ppm, first year reads NULL baseline") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-yoy")
    // brand B1: 1994 -> $100, 1995 -> $25 (growth -750000 ppm)
    Seq((1L, 1L, "1994-03-01", 100.0), (2L, 1L, "1995-03-01", 25.0))
      .map { case (o, p, dt, pr) =>
        (o, p, 1, 1.0, pr, 0.0, java.sql.Date.valueOf(dt))
      }
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate")
      .withColumn("l_suppkey", org.apache.spark.sql.functions.lit(1L))
      .withColumn("l_tax", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("l_returnflag", org.apache.spark.sql.functions.lit("N"))
      .withColumn("l_linestatus", org.apache.spark.sql.functions.lit("O"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "p", "B1", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q206_yoy_brand_growth")(spark, dir).collect()
    assert(got.length == 2)
    assert(got(0).isNullAt(3) && got(0).isNullAt(4), got(0).toString)
    assert(got(1).getLong(4) == -750000L, got(1).toString)
  }

  test("q206: corpus growth equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val brands = Tables.part(spark, sf).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cells = Tables.lineitem(spark, sf)
      .selectExpr("l_partkey", "CAST(year(l_shipdate) AS BIGINT)",
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
      .collect().map(r => ((brands(r.getLong(0)), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }
    def rnd(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val expected = cells.toSeq.sortBy(_._1).map { case ((b, y), c) =>
      val prev = cells.get((b, y - 1))
        .orElse(if (cells.keys.exists(k => k._1 == b && k._2 < y)) {
          // years are contiguous in this corpus; a gap would surface here
          None
        } else None)
      (b, y, c, prev, prev.map(p => rnd((c - p).toDouble * 1000000.0 / p.toDouble)))
    }
    val got = SparkEntry.queries("q206_yoy_brand_growth")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    // the engine lags by ROW (previous year PRESENT in the data), the
    // brute force by calendar year; assert equality where both defined
    // and that engine rows with a prev always have that exact prev
    val gotMap = got.map(r => (r._1, r._2) -> r).toMap
    for (((b, y), c) <- cells) {
      val r = gotMap((b, y))
      assert(r._3 == c, s"cents mismatch at ($b, $y)")
      if (cells.contains((b, y - 1)) && r._4.isDefined) {
        assert(r._4 == cells.get((b, y - 1)) &&
          r._5 == expected.find(e => e._1 == b && e._2 == y).get._5,
          s"growth mismatch at ($b, $y)")
      }
    }
    assert(got.exists(_._5.exists(_ < 0L)), "corpus should contain a decline year")
  }
}
