package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** q177 behavior pins: exact hand-computed curve on a known frequency
  * profile (incl. the alphabetical tie-break inside a bucket), and a
  * full driver-side brute-force replay of the curve on the real corpus.
  */
class VocabCoverageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q177: hand-computed coverage for a known frequency profile") {
    // One doc: a*8 b*4 c*2 d*1 e*1 -> 16 tokens, 5 types. Ranks
    // (f desc, word asc): a=1, b=2, c=3, d=4 (tie d<e), e=5. Buckets
    // j = ceil(log2 r): a->0, b->1, c,d->2, e->3. Curve:
    //   k=1: 1 type,  8 tokens covered, 8 oov  -> 500000 ppm
    //   k=2: 2 types, 12 covered,       4 oov  -> 250000 ppm
    //   k=4: 4 types, 15 covered,       1 oov  ->  62500 ppm
    //   k=8: 5 types, 16 covered,       0 oov  ->      0 ppm
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq("d", "e")).mkString(" ")
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-vocabcov")
    Seq((0L, text, "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q177_vocab_coverage")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 8L, 8L, 500000L),
      (2L, 2L, 12L, 4L, 250000L),
      (4L, 4L, 15L, 1L, 62500L),
      (8L, 5L, 16L, 0L, 0L)), got.mkString(", "))
  }

  test("q177: corpus curve equals a driver-side brute-force replay") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q177_vocab_coverage")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // brute force: collect type freqs (sf0.001 is driver-sized), sort,
    // walk the sorted list accumulating coverage at power-of-two cutoffs
    val freqs = Tables.documents(spark, sf)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .sortBy { case (w, f) => (-f, w) }
    val total = freqs.map(_._2).sum
    val maxJ = (64 - java.lang.Long.numberOfLeadingZeros(freqs.size - 1L)).max(0)
    val expected = (0 to maxJ.toInt).map { j =>
      val k = 1L << j
      val kept = freqs.take(k.min(freqs.size.toLong).toInt)
      val covered = kept.map(_._2).sum
      (k, kept.size.toLong, covered, total - covered,
        (total - covered) * 1000000L / total)
    }
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    // curve laws: monotone coverage, cutoff bounds types, last row exact
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 <= b._3 && a._2 <= b._2)
    }
    got.foreach { case (k, tc, _, _, _) => assert(tc <= k) }
    assert(got.last._4 == 0L && got.last._5 == 0L)
  }
}
