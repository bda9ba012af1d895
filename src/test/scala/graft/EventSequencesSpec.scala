package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q216/q217 behavior pins: a hand fixture where stage ORDER matters
  * (a purchase BEFORE the first view must not convert), plus corpus
  * brute-force replays of both reports.
  */
class EventSequencesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  private def write(dir: String, rows: Seq[(Long, Long, String, String)]): Unit =
    rows.toDF("event_id", "user_id", "event_type", "tss")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
        col("user_id"), col("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("q216: order gates conversion — a purchase before the first view never counts") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-funnel")
    write(dir, Seq(
      // user 1: full ordered funnel
      (1L, 1L, "view", "2024-01-01T00:00:00Z"),
      (2L, 1L, "click", "2024-01-01T00:10:00Z"),
      (3L, 1L, "purchase", "2024-01-01T00:20:00Z"),
      // user 2: purchase BEFORE view+click -> reaches click, not purchase
      (4L, 2L, "purchase", "2024-01-01T00:00:00Z"),
      (5L, 2L, "view", "2024-01-01T00:05:00Z"),
      (6L, 2L, "click", "2024-01-01T00:15:00Z"),
      // user 3: click before view -> never reaches click
      (7L, 3L, "click", "2024-01-01T00:00:00Z"),
      (8L, 3L, "view", "2024-01-01T00:05:00Z"),
      // user 4: no view at all -> not in the base
      (9L, 4L, "click", "2024-01-01T00:00:00Z")))
    val got = SparkEntry.queries("q216_event_funnel")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1, "view", 3L, 1000000L),
      (2, "click", 2L, 666666L),
      (3, "purchase", 1L, 333333L)), got.mkString(", "))
  }

  test("q222: hand-checkable deltas; corpus quantiles equal a scala brute force") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-ttc")
    write(dir, Seq(
      (1L, 1L, "view", "2024-01-01T00:00:00Z"),
      (2L, 1L, "click", "2024-01-01T00:10:00Z"),
      (3L, 1L, "purchase", "2024-01-01T00:30:00Z"),
      (4L, 2L, "view", "2024-01-01T00:00:00Z"),
      (5L, 2L, "click", "2024-01-01T00:20:00Z")))
    val got = SparkEntry.queries("q222_funnel_time_to_convert")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val m10 = 600e6 // 10 minutes in µs
    assert(got == Seq(
      // view->click deltas: {10, 20} min -> p25=12.5 p50=15 p75=17.5
      ("1_view_to_click", 2L, 1.25 * m10, 1.5 * m10, 1.75 * m10),
      ("2_click_to_purchase", 1L, 2 * m10, 2 * m10, 2 * m10),
      ("3_view_to_purchase", 1L, 3 * m10, 3 * m10, 3 * m10)), got.mkString(", "))

    // corpus: per-transition quantiles equal an in-scala exact
    // interpolating percentile over the independently staged deltas
    val rows = SparkEntry.queries("q222_funnel_time_to_convert")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    def interp(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; val pos = p * (s.length - 1)
      val lo = pos.toInt
      if (lo == s.length - 1) s(lo)
      else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val t1 = ev.filter(_._2 == "view").groupBy(_._1).map { case (u, e) => u -> e.map(_._3).min }
    val t2 = ev.filter(e => e._2 == "click" && t1.contains(e._1) && e._3 >= t1(e._1))
      .groupBy(_._1).map { case (u, e) => u -> e.map(_._3).min }
    val t3 = ev.filter(e => e._2 == "purchase" && t2.contains(e._1) && e._3 >= t2(e._1))
      .groupBy(_._1).map { case (u, e) => u -> e.map(_._3).min }
    val legs = Map(
      "1_view_to_click" -> t2.map { case (u, t) => (t - t1(u)).toDouble }.toSeq,
      "2_click_to_purchase" -> t3.map { case (u, t) => (t - t2(u)).toDouble }.toSeq,
      "3_view_to_purchase" -> t3.map { case (u, t) => (t - t1(u)).toDouble }.toSeq)
    legs.foreach { case (name, ds) =>
      assert(ds.nonEmpty, s"degenerate corpus: no $name conversions")
      val (n, p25, p50, p75) = rows(name)
      assert(n == ds.size.toLong, s"$name count")
      assert(p25 == interp(ds, 0.25) && p50 == interp(ds, 0.5) &&
        p75 == interp(ds, 0.75), s"$name quantiles drifted")
    }
  }

  test("q216/q217: corpus reports equal scalar brute forces") {
    val ev = Tables.events(spark, d)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toInstant.toEpochMilli * 1000 +
          r.getTimestamp(2).getNanos / 1000 % 1000, r.getString(3)))
    // funnel
    val byUser = ev.groupBy(_._1)
    def stageT(u: Long, ty: String, after: Long): Option[Long] =
      byUser(u).filter(e => e._4 == ty && e._3 >= after)
        .map(_._3).sorted.headOption
    val t1 = byUser.keys.flatMap(u => stageT(u, "view", Long.MinValue).map(u -> _)).toMap
    val t2 = t1.flatMap { case (u, t) => stageT(u, "click", t).map(u -> _) }
    val t3 = t2.flatMap { case (u, t) => stageT(u, "purchase", t).map(u -> _) }
    val gotF = SparkEntry.queries("q216_event_funnel")(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val nb = t1.size.toLong
    assert(gotF == Seq(
      (1, "view", nb, 1000000L),
      (2, "click", t2.size.toLong, t2.size * 1000000L / nb),
      (3, "purchase", t3.size.toLong, t3.size * 1000000L / nb)), gotF.mkString(", "))
    assert(t3.nonEmpty, "corpus funnel must have full conversions to gate on")
    // transitions
    val pairs = byUser.values.toSeq.flatMap { es =>
      val seq = es.sortBy(e => (e._3, e._2)).map(_._4).toSeq
      seq.zip(seq.drop(1))
    }
    val n = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nFrom = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val expT = n.toSeq.map { case ((f, t), c) =>
      (f, t, c, nFrom(f), c * 1000000L / nFrom(f)) }
      .sortBy(r => (r._1, r._2))
    val gotT = SparkEntry.queries("q217_event_transitions")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(gotT == expT, s"engine ${gotT.size} rows vs brute ${expT.size}")
  }
}
