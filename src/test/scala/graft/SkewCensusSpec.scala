package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** q200 behavior pins: a driver brute-force census replay for every
  * audited key, the planted-skew fixture check (a hot key reads
  * its exact ppm share), and its one-plan shape (no construction job,
  * one count exchange per key).
  */
class SkewCensusSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  test("q200: census equals a driver brute force on every audited key") {
    val sf = "/root/testdata/sf0.001"
    def brute(df: org.apache.spark.sql.DataFrame, key: String): (Long, Long, Long, Long) = {
      val counts = df.select(key).collect().map(_.get(0).toString.toLong)
        .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }.toSeq
      val n = counts.map(_._2).sum
      val top = counts.sortBy { case (k, c) => (-c, k) }.take(10).map(_._2)
      (n, counts.size.toLong, top.head, top.sum)
    }
    val expected = Map(
      "orders.o_custkey" -> brute(Tables.orders(spark, sf), "o_custkey"),
      "lineitem.l_orderkey" -> brute(Tables.lineitem(spark, sf), "l_orderkey"),
      "lineitem.l_partkey" -> brute(Tables.lineitem(spark, sf), "l_partkey"),
      "lineitem.l_suppkey" -> brute(Tables.lineitem(spark, sf), "l_suppkey"),
      "events.user_id" -> brute(Tables.events(spark, sf), "user_id"))
    val got = SparkEntry.queries("q200_join_key_skew")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.keySet == expected.keySet)
    for ((k, (n, ndv, top1, top10)) <- expected) {
      assert(got(k) == ((n, ndv, top1, top10,
        top1 * 1000000L / n, top10 * 1000000L / n)), s"key $k: ${got(k)}")
    }
  }

  test("q200: top-1 mass never exceeds top-10, shares are valid ppms") {
    val rows = SparkEntry.queries("q200_join_key_skew")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 5)
    for (r <- rows) {
      assert(r.getLong(3) <= r.getLong(4) && r.getLong(4) <= r.getLong(1))
      assert(r.getLong(5) <= r.getLong(6) && r.getLong(6) <= 1000000L)
      assert(r.getLong(2) > 0L)
    }
  }

  test("q200: construction starts no job, and each key's count exchange runs once") {
    val sf = "/root/testdata/sf0.001"
    val q200 = SparkEntry.queries("q200_join_key_skew")
    q200(spark, sf) // resolves the table schemas
    val (df, jobs) = SparkTestSession.jobsDuring(q200(spark, sf))
    assert(jobs == 0, s"$jobs jobs at construction")
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the only hash-partitioned exchanges are the 5 per-key counts; the
    // top-10 reader of each reuses the one the totals reader ran
    def byKey(e: ShuffleExchangeExec) = e.outputPartitioning.isInstanceOf[HashPartitioning]
    val counts = collect(plan) { case e: ShuffleExchangeExec if byKey(e) => e }
    val reused = collect(plan) {
      case r @ ReusedExchangeExec(_, e: ShuffleExchangeExec) if byKey(e) => r
    }
    assert(counts.size == 5 && reused.size == 5,
      s"${counts.size} count exchanges, ${reused.size} reused:\n$plan")
  }
}
