package graft

import org.scalatest.funsuite.AnyFunSuite

/** q219 behavior pins: hand-derived buckets on a tiny corpus and a
  * scalar brute-force replay (incl. the cap-drop accounting) on the
  * real corpus.
  */
class DfProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(dir: String): Seq[(Int, Long, Long, Long, Long)] =
    SparkEntry.queries("q219_shingle_df_profile")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq

  private def shingles3(t: String): Set[String] = {
    val w = t.trim.split("\\s+").toSeq
    if (w.size >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set.empty
  }

  test("q219: hand buckets — a df-3 shingle lands in bit-length bucket 2") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-dfprof")
    Seq((0L, "a b c d"), (1L, "a b c x"), (2L, "a b c y"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // "a b c" in all 3 docs -> df 3, bucket len(bin(3)) = 2; the three
    // second shingles are unique -> df 1, bucket 1; nothing capped
    assert(run(dir) == Seq(
      (1, 3L, 3L, 0L, 0L),
      (2, 1L, 3L, 0L, 0L)))
  }

  test("q219: corpus profile equals a scalar brute force with cap accounting") {
    val d = "/root/testdata/sf0.001"
    val df = Tables.documents(spark, d).select("text").collect()
      .flatMap(r => shingles3(r.getString(0)))
      .groupBy(identity).map { case (_, v) => v.length.toLong }
    val cap = ops.Dedup.DefaultMaxDocFreq
    val expected = df.groupBy(x => java.lang.Long.toBinaryString(x).length)
      .toSeq.map { case (b, dfs) =>
        (b, dfs.size.toLong, dfs.sum,
          dfs.count(_ > cap).toLong, dfs.filter(_ > cap).sum)
      }.sortBy(_._1)
    val got = run(d)
    assert(got == expected, s"engine $got vs brute $expected")
    assert(got.nonEmpty && got.map(_._2).sum > 0)
  }
}
