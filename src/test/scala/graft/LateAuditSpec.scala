package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q209 behavior pins: a hand fixture where every batch's watermark,
  * input count, and drop count are derivable by hand — including the
  * exact ≤-boundary (a window whose END equals the watermark is
  * dropped) — plus a corpus replay where the engine's OWN drop
  * counters must equal the documented recurrence computed brute-force.
  */
class LateAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def us(s: String): Long =
    java.time.Instant.parse(s).toEpochMilli * 1000L

  private def run(dir: String): Seq[(Int, Long, Long, Long)] =
    SparkEntry.queries("q209_stream_late_audit")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("q209: hand fixture — per-batch watermarks, drops, and the window-end == wm boundary") {
    // batch = event_id % 4; REPORTED wm for batch i = max ts over
    // batches < i minus 2h, but late-row FILTERING uses the previous
    // batch's wm (SPARK-40925 watermarkForLateEvents). batch 0 tops out
    // at 06:00 -> reported wm(1) = 04:00, but batch 1 FILTERS at wm 0,
    // so id 1 (window end 04:00) survives; batch 2 filters at 04:00,
    // where id 2's window [03:00,04:00) END == filter wm -> dropped
    // (the <=-not-< boundary, pinned); batch 3 filters at 04:30
    // (id 9 raised the max to 06:30) -> id 3 (end 04:00) dropped.
    val rows = Seq(
      (0L, "2024-01-01T01:30:00Z"), (4L, "2024-01-01T06:00:00Z"),
      (1L, "2024-01-01T03:59:59.999999Z"), (5L, "2024-01-01T04:00:00Z"),
      (9L, "2024-01-01T06:30:00Z"),
      (2L, "2024-01-01T03:30:00Z"), (6L, "2024-01-01T05:00:00Z"),
      (3L, "2024-01-01T03:00:00Z"), (7L, "2024-01-01T05:30:00Z"))
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-late")
    rows.toDF("event_id", "tss")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"))
      .withColumn("user_id", col("event_id") % 3)
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = run(dir)
    val wm1 = us("2024-01-01T04:00:00Z") / 1000
    val wm23 = us("2024-01-01T04:30:00Z") / 1000
    assert(got == Seq(
      (0, 2L, 0L, 0L),
      (1, 3L, 0L, wm1),
      (2, 2L, 1L, wm23),
      (3, 2L, 1L, wm23)), got.mkString(", "))
  }

  test("q209: engine drop counters equal the documented recurrence on the corpus") {
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d).select("event_id", "ts", "event_type").collect()
      .map { r =>
        val inst = r.getTimestamp(1).toInstant
        (r.getLong(0), inst.getEpochSecond * 1000000L + inst.getNano / 1000L,
          r.getString(2))
      }
    val k = streaming.StreamingQueries.LateBatches
    val byBatch = ev.groupBy(t => (t._1 % k).toInt)
    val maxTs = (0 until k).map(i => byBatch(i).map(_._2).max)
    def wmUs(i: Int): Long =
      if (i <= 0) 0L else math.max(wmUs(i - 1), maxTs(i - 1) - 7200000000L)
    val hourUs = 3600000000L
    val expected = (0 until k).map { i =>
      // filtering lags one batch behind the reported/eviction wm; the
      // counter's unit is the map-side-combined PARTIAL rows, so count
      // DISTINCT late (window, event_type) cells, not raw events
      val wmFilter = wmUs(i - 1)
      val dropped = byBatch(i).iterator
        .filter { case (_, t, _) => (t / hourUs) * hourUs + hourUs <= wmFilter }
        .map { case (_, t, ty) => ((t / hourUs) * hourUs, ty) }
        .toSet.size
      (i, byBatch(i).length.toLong, dropped.toLong, wmUs(i) / 1000)
    }
    val got = run(d)
    assert(got == expected, s"engine $got vs recurrence $expected")
    assert(got.map(_._3).sum > 0,
      "the interleaved replay must actually produce late drops on the corpus")
  }
}
