package graft

import org.scalatest.funsuite.AnyFunSuite

/** q195 behavior pins: hand Jaccards on a planted identical/partial/
  * disjoint-vocabulary fixture, and a string-set (digest-free) driver
  * brute-force replay of the corpus matrix.
  */
class VocabOverlapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q195: identical, partial, and disjoint vocabularies read exact Jaccards") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-vocaboverlap")
    // A: {a,b,c,d}; B: {a,b,c,d} (identical); C: {c,d,e,f} (2/6 with A,B);
    // D: {x,y} (disjoint from all -> NO row, inner-join semantics like q145)
    Seq((0L, "a b c d", "en", "A", 0L), (1L, "a b c d", "en", "B", 0L),
      (2L, "c d e f", "en", "C", 0L), (3L, "x y", "en", "D", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q195_source_vocab_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("A", "B", 4L, 4L, 4L, 1000000L),
      ("A", "C", 4L, 4L, 2L, 2L * 1000000L / 6L),
      ("B", "C", 4L, 4L, 2L, 2L * 1000000L / 6L)), got.mkString(", "))
  }

  test("q195: corpus matrix equals a string-set brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val vocab = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(_._2.trim.split("\\s+")).toSet
    }
    val srcs = vocab.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
      inter = (vocab(a) & vocab(b)).size.toLong if inter > 0
    } yield (a, b, vocab(a).size.toLong, vocab(b).size.toLong, inter,
      inter * 1000000L / (vocab(a).size + vocab(b).size - inter))).toSeq
    val got = SparkEntry.queries("q195_source_vocab_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"engine:\n${got.take(5).mkString("\n")}\nexpected:\n${expected.take(5).mkString("\n")}")
    assert(got.nonEmpty)
  }
}
