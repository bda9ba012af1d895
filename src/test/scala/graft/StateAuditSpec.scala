package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q215 behavior pins: the full state lifecycle hand-derived on the
  * q209 fixture (insert / update / same-batch insert-and-evict /
  * survival), and a corpus replay where the engine's state counters
  * must equal the documented lifecycle rules computed brute-force.
  */
class StateAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def run(dir: String): Seq[(Int, Long, Long, Long)] =
    SparkEntry.queries("q215_stream_state_audit")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("q215: hand fixture — insert, update, same-batch insert-and-evict, survival") {
    // the q209 fixture: batch 0 inserts cells {02:00, 07:00}; batch 1
    // writes {04:00, 05:00, 07:00} (3 updated) and its eviction wm
    // 04:00 removes 02:00 AND the just-inserted 04:00 (2 removed,
    // 2 left); batch 2's late filter (lagged wm 04:00) drops the
    // 03:30 row, inserts 06:00 (3 in state, eviction wm 04:30 removes
    // none); batch 3 drops 03:00, updates 06:00 (3 in state).
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-state")
    StateAuditSpec.writeEvents(spark, dir, StateAuditSpec.HandFixture)
    val got = run(dir)
    assert(got == StateAuditSpec.HandFixtureAudit, got.mkString(", "))
  }

  test("q215: engine state counters equal the documented lifecycle on the corpus") {
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d).select("event_id", "ts", "event_type").collect()
      .map { r =>
        val inst = r.getTimestamp(1).toInstant
        (r.getLong(0), inst.getEpochSecond * 1000000L + inst.getNano / 1000L,
          r.getString(2))
      }
    val k = streaming.StreamingQueries.LateBatches
    val hourUs = 3600000000L
    val byBatch = ev.groupBy(t => (t._1 % k).toInt)
    val maxTs = (0 until k).map(i => byBatch(i).map(_._2).max)
    def wmEvict(i: Int): Long =
      if (i < 0) 0L else math.max(wmEvict(i - 1), maxTs(i) - 7200000000L)
    def cellsOf(i: Int): Set[(Long, String)] = {
      val wmLate = wmEvict(i - 2) // late filter lags eviction by one batch
      byBatch(i).iterator
        .map { case (_, t, ty) => ((t / hourUs) * hourUs + hourUs, ty) }
        .filter(_._1 > wmLate).toSet
    }
    var inState = Set.empty[(Long, String)]
    val expected = (0 until k).map { i =>
      val arrived = cellsOf(i)
      val updated = arrived.size.toLong
      val withNew = inState ++ arrived
      val evict = wmEvict(i - 1)
      val (removed, kept) = withNew.partition(_._1 <= evict)
      inState = kept
      (i, kept.size.toLong, updated, removed.size.toLong)
    }
    val got = run(d)
    assert(got == expected, s"engine $got vs lifecycle $expected")
    assert(got.map(_._4).sum > 0, "the replay must actually evict state")
  }
}

object StateAuditSpec {

  /** The hand fixture: (event_id, ts) rows. */
  val HandFixture: Seq[(Long, String)] = Seq(
    (0L, "2024-01-01T01:30:00Z"), (4L, "2024-01-01T06:00:00Z"),
    (1L, "2024-01-01T03:59:59.999999Z"), (5L, "2024-01-01T04:00:00Z"),
    (9L, "2024-01-01T06:30:00Z"),
    (2L, "2024-01-01T03:30:00Z"), (6L, "2024-01-01T05:00:00Z"),
    (3L, "2024-01-01T03:00:00Z"), (7L, "2024-01-01T05:30:00Z"))

  /** q215's answer on [[HandFixture]]. */
  val HandFixtureAudit: Seq[(Int, Long, Long, Long)] = Seq(
    (0, 2L, 2L, 0L),
    (1, 2L, 3L, 2L),
    (2, 3L, 1L, 0L),
    (3, 3L, 1L, 0L))

  /** Write `rows` (event_id, ISO timestamp) as `dir`/events.parquet in the
    * events schema, replacing any earlier file at that path.
    */
  def writeEvents(spark: org.apache.spark.sql.SparkSession, dir: String,
                  rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "tss")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"))
      .withColumn("user_id", col("event_id") % 3)
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
