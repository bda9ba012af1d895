package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q187 behavior pins: a deliberately skewed fixture (one source
  * entirely in one split) with exact expected rows, and a driver
  * brute-force replay + conservation laws on the real corpus.
  */
class SplitBalanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def splitIds(want: String, k: Int): Seq[Long] = {
    val ids = (0L until 3000L).toDF("doc_id")
      .select(col("doc_id"), graft.ops.Sampling.splitOf(col("doc_id")).as("s"))
      .filter(col("s") === want).limit(k).collect().map(_.getLong(0)).toSeq
    assert(ids.size == k, s"needed $k $want ids")
    ids
  }

  test("q187: a source living entirely in test is fully skewed") {
    // source A: 2 train + 1 test; source B: 3 test ONLY.
    // totals: train 2, test 4, n=6 -> glob train 333333, val 0, test 666666.
    val tr = splitIds("train", 2)
    val te = splitIds("test", 4)
    val rows = tr.map(id => (id, "w", "en", "A", 0L)) ++
      Seq((te.head, "w", "en", "A", 0L)) ++
      te.tail.map(id => (id, "w", "en", "B", 0L))
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-splitbal")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q187_split_balance")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("A", "test", 1L, 333333L, 666666L, -333333L),
      ("A", "train", 2L, 666666L, 333333L, 333333L),
      ("A", "validation", 0L, 0L, 0L, 0L),
      ("B", "test", 3L, 1000000L, 666666L, 333334L),
      ("B", "train", 0L, 0L, 333333L, -333333L),
      ("B", "validation", 0L, 0L, 0L, 0L)), got.mkString(", "))
  }

  test("q187: corpus audit equals a brute force; shares conserve") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select(col("source"), graft.ops.Sampling.splitOf(col("doc_id")).as("split"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val total = docs.size.toLong
    val bySrc = docs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val bySplit = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = (for (s <- bySrc.keys.toSeq.sorted;
                         p <- Seq("test", "train", "validation")) yield {
      val n = docs.count(d => d._1 == s && d._2 == p).toLong
      val obs = if (bySrc(s) == 0) 0L else n * 1000000L / bySrc(s)
      val glob = bySplit.getOrElse(p, 0L) * 1000000L / total
      (s, p, n, obs, glob, obs - glob)
    }).sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q187_split_balance")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    // conservation: per source, counts sum to the source total and the
    // observed shares sum to ~1e6 (floor-division slack < 3)
    for ((s, rows) <- got.groupBy(_._1)) {
      assert(rows.map(_._3).sum == bySrc(s))
      val sharesum = rows.map(_._4).sum
      assert(sharesum >= 999997L && sharesum <= 1000000L, s"$s share sum $sharesum")
    }
  }
}
