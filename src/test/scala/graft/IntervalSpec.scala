package graft

import org.scalatest.funsuite.AnyFunSuite

/** q81/q82 interval joins: the binned-vs-naive differential and the
  * plan shapes that make them survive scale.
  */
class IntervalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q82 binned proximity join matches the naive theta join exactly") {
    val binned = SparkEntry.queries("q82_error_proximity")(spark, sf)
    val naive = ops.IntervalOps.errorProximityNaive(spark, sf)
    assert(binned.count() > 0, "fixture should produce at least one proximity hit")
    assert(binned.except(naive).count() == 0)
    assert(naive.except(binned).count() == 0)
  }

  test("q82 plans an equi join on the bin, not a cartesian product") {
    val p = SparkEntry.queries("q82_error_proximity")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in binned join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in binned join:\n$p")
  }

  test("q81 joins on the user key with the range as a join filter") {
    val p = SparkEntry.queries("q81_click_attribution")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"attribution join must be key-partitioned:\n$p")
    // the type filters reach the scans
    assert(p.contains("PushedFilters"), s"no pushed filters:\n$p")
  }

  test("q81 attribution windows are exact on a constructed stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: clicks at t-31min (outside), t-30min (inclusive edge),
    // t-1µs (inside), t (excluded: strictly before); user 2: no clicks
    val t = 1_700_000_000_000_000L
    val m30 = 30L * 60 * 1000 * 1000
    val ev = Seq(
      (10L, 1L, "purchase", 0.0, t),
      (11L, 2L, "purchase", 0.0, t),
      (1L, 1L, "click", 1.0, t - m30 - 1),
      (2L, 1L, "click", 2.0, t - m30),
      (3L, 1L, "click", 4.0, t - 1),
      (4L, 1L, "click", 8.0, t)
    ).toDF("event_id", "user_id", "event_type", "value", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("props", lit("{}"))
      .drop("us")
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-interval")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q81_click_attribution")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toList
    assert(out == List((10L, 2L, 6.0), (11L, 0L, 0.0)))
  }
}
