package graft

import org.scalatest.funsuite.AnyFunSuite

/** q197 behavior pins: the asymmetry on a planted subset-mirror
  * fixture (the small source reads 1e6 ppm toward the big one, not
  * vice versa), the df-cap boilerplate exclusion, and a driver
  * brute-force corpus replay (cap applied).
  */
class CopyMassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def grams5(t: String): Seq[String] = {
    val w = t.trim.split("\\s+").toSeq
    if (w.size >= 5) w.sliding(5).map(_.mkString(" ")).toSeq else Seq.empty
  }

  private def run(dir: String) =
    SparkEntry.queries("q197_copy_mass_matrix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("q197: a subset mirror reads 1e6 ppm in ITS row only") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-copymass")
    // BIG: 10 tokens -> 6 grams; SUB: copies BIG's first 6 tokens
    // (2 grams, both inside BIG); SUB's row toward BIG = 1e6 ppm,
    // BIG's row toward SUB = 2 of 6 grams' mass. Every gram's df is
    // 1 or 2 — far under the cap, so the cap changes nothing here.
    val big = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val sub = "t1 t2 t3 t4 t5 t6"
    Seq((0L, big, "en", "BIG", 0L), (1L, sub, "en", "SUB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run(dir)
    assert(got == Seq(
      ("BIG", "SUB", 6L, 2L, 2L, 2L * 1000000L / 6L),
      ("SUB", "BIG", 2L, 2L, 2L, 1000000L)), got.mkString(", "))
  }

  test("q197: a gram in more than MaxDf documents is boilerplate — excluded from both sides") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-copymass-cap")
    // Boilerplate gram "b1..b5" planted in MaxDf+1 docs (df=9 > 8):
    // must vanish from shared mass AND totals. The copied gram
    // "c1..c5" lives in exactly 2 docs (one per source): it is the
    // only surviving overlap, and each source's total_mass counts
    // only its df≤cap grams (A: c-gram + its unique u-gram = 2;
    // B: c-gram only = 1 → B's row reads 1e6 ppm).
    val boiler = "b1 b2 b3 b4 b5"
    val docs =
      (0 until ops.Winnowing.MaxDf).map(i =>
        (i.toLong, boiler, "en", "A", 0L)) ++ Seq(
        (100L, s"$boiler x1", "en", "A", 0L), // 9th boiler doc; its 2nd gram "b2 b3 b4 b5 x1" has df=1
        (101L, "c1 c2 c3 c4 c5", "en", "A", 0L),
        (102L, "c1 c2 c3 c4 c5", "en", "B", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run(dir)
    // doc 100's second gram "b2 b3 b4 b5 x1" has df=1 and belongs to A
    // only — it pads A's total but shares nothing.
    assert(got == Seq(
      ("A", "B", 2L, 1L, 1L, 500000L),
      ("B", "A", 1L, 1L, 1L, 1000000L)), got.mkString(", "))
  }

  test("q197: corpus matrix equals a string-multiset brute force (cap applied)") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // df per gram = distinct documents containing it, corpus-wide
    val df: Map[String, Int] = docs
      .flatMap { case (id, _, t) => grams5(t).distinct.map(g => (g, id)) }
      .groupBy(_._1).map { case (g, v) => g -> v.size }
    val keep = (g: String) => df(g) <= ops.Winnowing.MaxDf
    val counts: Map[String, Map[String, Long]] = docs.groupBy(_._2).map { case (s, ds) =>
      s -> ds.flatMap(d => grams5(d._3)).filter(keep).groupBy(identity)
        .map { case (g, v) => g -> v.size.toLong }
    }
    val srcs = counts.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a != b
      inter = counts(a).keySet & counts(b).keySet if inter.nonEmpty
    } yield {
      val total = counts(a).values.sum
      val mass = inter.toSeq.map(counts(a)).sum
      (a, b, total, mass, inter.size.toLong, mass * 1000000L / total)
    }).toSeq
    val got = run(sf)
    assert(got == expected, s"engine ${got.size} rows vs expected ${expected.size}")
    assert(got.nonEmpty)
  }
}
