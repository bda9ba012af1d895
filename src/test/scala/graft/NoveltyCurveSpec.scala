package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.shingles

/** q179 behavior pins: exact hand-computed novelty on controlled
  * texts (incl. the empty-test-gram-set rows where every test doc is
  * shorter than n), and a driver-side brute-force replay on the real
  * corpus with plain string sets (no digests — a digest collision
  * would surface here as a count mismatch).
  */
class NoveltyCurveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The split is the q54 hash split — find ids landing where the
    * fixture needs them, so the texts stay hand-chosen.
    */
  private def idsBySplit(want: String, k: Int): Seq[Long] = {
    val ids = (0L until 500L).toDF("doc_id")
      .select(col("doc_id"), graft.ops.Sampling.splitOf(col("doc_id")).as("s"))
      .filter(col("s") === want).limit(k).collect().map(_.getLong(0)).toSeq
    assert(ids.size == k, s"needed $k $want ids in 0..499")
    ids
  }

  test("q179: hand-computed novelty for controlled train/test texts") {
    // train text "a b a c": 1-grams {a,b,c}; 2-grams {a b, b a, a c};
    //   3-grams {a b a, b a c}; no 5/8-grams.
    // test text "a b c d": 1-grams {a,b,c,d} -> 3 seen, novelty 1/4;
    //   2-grams {a b, b c, c d} -> 1 seen, novelty 2/3;
    //   3-grams {a b c, b c d} -> 0 seen, novelty 1;
    //   5/8-grams: none -> (0, 0, 0 ppm) by the pinned convention.
    val Seq(trainId) = idsBySplit("train", 1)
    val Seq(testId) = idsBySplit("test", 1)
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-novelty")
    Seq((trainId, "a b a c", "en", "t", 0L), (testId, "a b c d", "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q179_novelty_curve")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1, 4L, 3L, 250000L),
      (2, 3L, 1L, 666666L),
      (3, 2L, 0L, 1000000L),
      (5, 0L, 0L, 0L),
      (8, 0L, 0L, 0L)), got.mkString(", "))
  }

  test("q179: corpus curve equals a string-set brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select((graft.ops.Sampling.splitOf(col("doc_id")) === "test").as("is_test"),
        col("text"))
      .collect().map(r => (r.getBoolean(0), r.getString(1))).toSeq
    def gramsOf(text: String, n: Int): Set[String] = {
      val w = text.trim.split("\\s+").toSeq
      if (w.size < n) Set.empty
      else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val expected = graft.ops.NoveltyCurve.Ns.map { n =>
      val test = docs.filter(_._1).map(d => gramsOf(d._2, n))
        .foldLeft(Set.empty[String])(_ ++ _)
      val train = docs.filterNot(_._1).map(d => gramsOf(d._2, n))
        .foldLeft(Set.empty[String])(_ ++ _)
      val seen = (test & train).size.toLong
      val td = test.size.toLong
      (n, td, seen, if (td == 0) 0L else (td - seen) * 1000000L / td)
    }
    val got = SparkEntry.queries("q179_novelty_curve")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    // the fixture must exercise both regimes: shared vocabulary at
    // n=1, non-trivial novelty by n=5
    assert(got.head._4 < 500000L, "unigram novelty should be low (shared vocab)")
    assert(got.find(_._1 == 5).get._2 > 0L, "corpus must have 5-gram test mass")
  }

  test("q180: hand-computed 3-split matrix incl. a no-overlap split") {
    val Seq(trainId) = idsBySplit("train", 1)
    val Seq(valId) = idsBySplit("validation", 1)
    val Seq(testId) = idsBySplit("test", 1)
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-splitmatrix")
    // train {a b c d e, b c d e f}; validation {a b c d e}; test {z y x w v}
    Seq((trainId, "a b c d e f", "en", "t", 0L),
      (valId, "a b c d e", "en", "t", 0L),
      (testId, "z y x w v", "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q180_split_overlap_matrix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("test", "train", 1L, 0L, 0L),
      ("test", "validation", 1L, 0L, 0L),
      ("train", "test", 2L, 0L, 0L),
      ("train", "validation", 2L, 1L, 500000L),
      ("validation", "test", 1L, 0L, 0L),
      ("validation", "train", 1L, 1L, 1000000L)), got.mkString(", "))
  }

  test("q180: corpus matrix equals a string-set brute force; counts symmetric") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select(graft.ops.Sampling.splitOf(col("doc_id")).as("split"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def gramsOf(text: String): Set[String] = {
      val w = text.trim.split("\\s+").toSeq
      if (w.size < 5) Set.empty else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val bySplit = Seq("train", "validation", "test").map { s =>
      s -> docs.filter(_._1 == s).map(d => gramsOf(d._2))
        .foldLeft(Set.empty[String])(_ ++ _)
    }.toMap
    val expected = (for (a <- bySplit.keys.toSeq; b <- bySplit.keys.toSeq if a != b) yield {
      val nd = bySplit(a).size.toLong
      val sh = (bySplit(a) & bySplit(b)).size.toLong
      (a, b, nd, sh, if (nd == 0) 0L else sh * 1000000L / nd)
    }).sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q180_split_overlap_matrix")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    // intersection counts are symmetric even though the ppm rates aren't
    for ((a, b, _, sh, _) <- got)
      assert(got.find(t => t._1 == b && t._2 == a).get._4 == sh)
  }
}
