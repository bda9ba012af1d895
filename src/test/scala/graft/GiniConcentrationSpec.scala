package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q207 behavior pins: Gini extremes on planted distributions
  * (perfect equality → 0-ish with the finite-n correction; one
  * customer holding everything → (n−1)/n), the Lorenz terminal law,
  * and a driver brute-force replay on the corpus.
  */
class GiniConcentrationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeOrders(dir: String, rows: Seq[(Long, Long, Double)]): Unit =
    rows.map { case (o, c, price) =>
      (o, c, "O", price, java.sql.Date.valueOf("1995-01-01"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

  test("q207: planted equality reads Gini 0; a monopolist reads (n-1)/n") {
    val eq = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-gini-eq")
    writeOrders(eq, (1L to 10L).map(i => (i, i, 100.0)))
    val rEq = SparkEntry.queries("q207_revenue_gini")(spark, eq).collect()
    // equal spend: G = (2*Σi*x - (n+1)*n*x) / (n*n*x) = 0 exactly
    assert(rEq.forall(_.getLong(5) == 0L), rEq.mkString(", "))
    assert(rEq.map(_.getLong(1)).sum == 10L)

    val mono = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-gini-mono")
    writeOrders(mono, (1L to 9L).map(i => (i, i, 0.01)) :+ (10L, 10L, 1000000.0))
    val rMono = SparkEntry.queries("q207_revenue_gini")(spark, mono).collect()
    // near-total concentration: G -> (n-1)/n = 0.9 (up to the tiny tail)
    assert(math.abs(rMono.head.getLong(5) - 900000L) < 100L, rMono.head.toString)
    // Lorenz terminal law: the last decile's cumulative share is 1e6
    assert(rMono.last.getLong(4) == 1000000L && rEq.last.getLong(4) == 1000000L)
  }

  test("q207: corpus report equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val spend = Tables.orders(spark, sf)
      .selectExpr("o_custkey", "CAST(ROUND(o_totalprice * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.map { case (c, v) => (c, v.map(_._2).sum) }
    val ranked = spend.sortBy { case (c, x) => (x, c) }.zipWithIndex
    val n = ranked.size.toLong
    val total = spend.map(_._2).sum
    val rankMass = ranked.map { case ((_, x), i) => (i + 1L) * x }.sum
    def rnd(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val gini = rnd((2.0 * rankMass.toDouble - (n.toDouble + 1.0) * total.toDouble)
      * 1000000.0 / (n.toDouble * total.toDouble))
    val byDecile = ranked.groupBy { case (_, i) => (i.toLong * 10 / n + 1).toInt }
    var cum = 0L
    val expected = byDecile.toSeq.sortBy(_._1).map { case (d, vs) =>
      val cents = vs.map(_._1._2).sum
      cum += cents
      (d, vs.size.toLong, cents, rnd(cents.toDouble * 1000000.0 / total.toDouble),
        rnd(cum.toDouble * 1000000.0 / total.toDouble), gini)
    }
    val got = SparkEntry.queries("q207_revenue_gini")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    assert(gini > 0L && gini < 1000000L)
  }
}
