package graft

import org.scalatest.funsuite.AnyFunSuite

/** q176 behavior pins: exact waste arithmetic on a hand-built length
  * profile, and the dominance law (length-sorted padding never exceeds
  * arrival padding; the real token mass is order-invariant).
  */
class BatchPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q176: hand-computed padding for a known length profile") {
    // 16 docs, BatchSize 8. Arrival order doc_id 0..15 with lengths
    // alternating 10, 100: every arrival batch pads each short seq by
    // 90 -> 4 shorts/batch * 90 * 2 batches = 720. Length-sorted puts
    // all 10s in batch 1 (0 pad) and all 100s in batch 2 (0 pad).
    val docs = (0L until 16L).map { id =>
      val n = if (id % 2 == 0) 10 else 100
      (id, Seq.fill(n)("w").mkString(" "), "en", "t", 0L)
    }
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-batchplan")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q176_batch_padding")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("arrival") == ((2L, 880L, 720L, 450000L)), s"${got("arrival")}")
    assert(got("length_sorted") == ((2L, 880L, 0L, 0L)), s"${got("length_sorted")}")
  }

  test("q176: on the corpus, sorting dominates and token mass is order-invariant") {
    val got = SparkEntry.queries("q176_batch_padding")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val (realA, padA) = got("arrival")
    val (realS, padS) = got("length_sorted")
    assert(realA == realS, "real token mass must not depend on batching order")
    assert(padS <= padA, "length-sorted batching must never pad more than arrival order")
    assert(padA > 0, "fixture must exercise padding waste")
  }
}
