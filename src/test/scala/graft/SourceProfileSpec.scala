package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.qualityScore

/** q188 behavior pins: exact hand rows for a two-source fixture where
  * one source is pure repetition (TTR collapses), and a driver
  * brute-force replay on the real corpus.
  */
class SourceProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q188: repetitive source reads a collapsed TTR") {
    // A: "a b c d" + "e f" -> 2 docs, 6 tokens, 6 types, TTR 1e6.
    // B: "x x x x x x x x" -> 1 doc, 8 tokens, 1 type, TTR 125000.
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-srcprofile")
    Seq((0L, "a b c d", "en", "A", 0L), (1L, "e f", "en", "A", 0L),
      (2L, "x x x x x x x x", "en", "B", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q188_source_profile")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(("A", 2L, 6L, 6L, 1000000L, 3L),
      ("B", 1L, 8L, 1L, 125000L, 8L)), got.mkString(", "))
  }

  test("q188: corpus profile equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text"),
        round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
      val toks = ds.map(_._2.trim.split("\\s+").toSeq)
      val nd = ds.size.toLong
      val nt = toks.map(_.size.toLong).sum
      val types = toks.flatten.distinct.size.toLong
      (src, nd, nt, types,
        if (nt == 0) 0L else types * 1000000L / nt,
        nt / nd, ds.map(_._3).sum / nd)
    }
    val got = SparkEntry.queries("q188_source_profile")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    assert(got.size > 1, "corpus must have multiple sources")
  }
}
