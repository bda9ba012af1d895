package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.qualityScore

/** q184 behavior pins: exact hand-computed card on a fixture with a
  * planted exact duplicate, and a driver brute-force replay on the
  * real corpus.
  */
class DataCardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def row(df: org.apache.spark.sql.DataFrame) = {
    val r = df.head()
    (0 until 9).map(r.getLong)
  }

  test("q184: hand-computed card with a planted duplicate") {
    // 3 docs, one exact dup pair; 2 sources, 2 langs.
    // tokens: 2 + 2 + 3 = 7; types {a,b,c,d} = 4; ttr = 4e6/7 = 571428.
    // dup: 3 docs, 2 distinct texts -> 1 dup doc, 333333 ppm.
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-datacard")
    Seq((0L, "a b", "en", "s1", 0L), (1L, "a b", "en", "s1", 0L),
      (2L, "b c d", "fr", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = row(SparkEntry.queries("q184_data_card")(spark, dir))
    val qm = Seq("a b", "a b", "b c d").map { t =>
      val r = Seq(t).toDF("text").select(qualityScore(col("text"))).head().getDouble(0)
      math.round(r * 1e6)
    }.sum
    assert(got == Seq(3L, 7L, 4L, 571428L, 1L, 333333L, 2L, 2L, qm / 3L),
      got.mkString(", "))
  }

  test("q184: corpus card equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select(col("text"), col("source"), col("lang"),
        round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val nDocs = docs.size.toLong
    val toks = docs.map(_._1.trim.split("\\s+").toSeq)
    val nTokens = toks.map(_.size.toLong).sum
    val types = toks.flatten.distinct.size.toLong
    val uniq = docs.map(_._1).distinct.size.toLong
    val expected = Seq(nDocs, nTokens, types, types * 1000000L / nTokens,
      nDocs - uniq, (nDocs - uniq) * 1000000L / nDocs,
      docs.map(_._2).distinct.size.toLong, docs.map(_._3).distinct.size.toLong,
      docs.map(_._4).sum / nDocs)
    val got = row(SparkEntry.queries("q184_data_card")(spark, sf))
    assert(got == expected, s"engine: ${got.mkString(",")} expected: ${expected.mkString(",")}")
  }
}
