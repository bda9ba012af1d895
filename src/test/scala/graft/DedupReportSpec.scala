package graft

import org.scalatest.funsuite.AnyFunSuite

/** q208 behavior pins: a planted corpus with pairs at GRADED similarity
  * (exact dup j=1.0, mid j≈0.47, low j≈0.22 — each in its own
  * component so group arithmetic is exact), plus a planted embedding
  * near-dup among orthogonal distractors; and corpus-level contract
  * checks at the oracle SF (the RecallSpec gates the report must agree
  * with).
  */
class DedupReportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def collectReport(dir: String): Map[String, (Long, Long, Double, Long, Double)] =
    SparkEntry.queries("q208_dedup_recall_report")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toMap

  /** The graded corpus dir: written by the q208 test, read by q218's. */
  private lazy val gradedDir =
    org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-dedupreport")

  test("q208: planted graded-similarity corpus — certain pairs pinned, probabilistic ones bounded") {
    val dir = gradedDir
    def toks(prefix: String, n: Int): Seq[String] = (1 to n).map(i => s"$prefix$i")
    def text(ts: Seq[String]): String = ts.mkString(" ")
    // strong pair (0,1): identical 30-token docs -> jaccard 1.0 AND
    // identical simhash; mid pair (10,11): last 10 of 30 tokens swapped
    // -> 18 shared / 38 union = j≈0.474 (in q26's exact set, below the
    // j≥0.9 strong truth); low pair (20,21): last 18 swapped -> 10/46 =
    // j≈0.217 (just over the 0.2 cut); doc 30: all-unique distractor.
    val base = toks("t", 30)
    val mid0 = toks("a", 30); val mid1 = toks("a", 20) ++ toks("x", 10)
    val low0 = toks("b", 30); val low1 = toks("b", 12) ++ toks("y", 18)
    val docs = Seq(
      (0L, text(base)), (1L, text(base)),
      (10L, text(mid0)), (11L, text(mid1)),
      (20L, text(low0)), (21L, text(low1)),
      (30L, text(toks("z", 30))))
    docs.map { case (id, t) => (id, t, "en", s"src${id % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embedding near-dup: vecs 0,1 identical; 2..7 distinct orthogonal
    // basis vectors (pairwise cos 0 < the 0.4 near-dup cut)
    val dim = 8
    def basis(i: Int): Seq[Float] = (0 until dim).map(j => if (j == i) 1f else 0f)
    val vecs = Seq((0L, basis(0), 0), (1L, basis(0), 0)) ++
      (2 to 7).map(i => (i.toLong, basis(i), 1))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val got = collectReport(dir)
    assert(got.keySet == Set("q27_minhash_lsh", "q28_simhash",
      "q43_embedding_lsh", "q49_lsh_components", "q68_embedding_components_slice"))

    // q27: the j=1.0 pair has 32/32 equal minhashes -> every band
    // collides -> found with certainty; strong truth = exactly that
    // pair; candidates are exact-verified so precision over the full
    // exact set is 1.0; emitted ∈ [1, 3] (mid/low pairs are
    // band-probabilistic — deterministic for the fixed fixture but not
    // hand-derivable, so bounded not pinned).
    val q27 = got("q27_minhash_lsh")
    assert(q27._1 == 1L && q27._2 == 1L && q27._3 == 1.0, q27.toString)
    assert(q27._4 >= 1L && q27._4 <= 3L && q27._5 == 1.0, q27.toString)

    // q28: identical token multisets -> identical simhash -> hamming 0;
    // cross-alphabet docs differ in ~32 of 64 bits, so the dup pair is
    // the only hamming≤3 pair and every emitted pair (j≥0.47 if the mid
    // pair ever qualified) sits inside the exact set -> precision 1.0.
    val q28 = got("q28_simhash")
    assert(q28._1 == 1L && q28._2 == 1L && q28._3 == 1.0, q28.toString)
    assert(q28._4 == 1L && q28._5 == 1.0, q28.toString)

    // q43/q68: identical vectors share every hyperplane sign -> always
    // bucket-mates; cos 1.0 ≥ 0.4; orthogonal distractors filtered by
    // the exact verification -> exactly one pair, one group of two.
    val q43 = got("q43_embedding_lsh")
    assert(q43 == ((1L, 1L, 1.0, 1L, 1.0)), q43.toString)
    val q68 = got("q68_embedding_components_slice")
    assert(q68 == ((1L, 1L, 1.0, 1L, 1.0)), q68.toString)

    // q49: three exact single-pair groups; the dup pair's group {0,1}
    // is found with certainty, each additionally-found LSH pair
    // reproduces its (single-pair) group verbatim -> every emitted
    // group is a hit (precision 1.0) and recall counts the found pairs.
    val q49 = got("q49_lsh_components")
    assert(q49._1 == 3L, q49.toString)
    assert(q49._2 >= 1L && q49._2 == q49._4 && q49._5 == 1.0, q49.toString)
    assert(q49._3 == math.rint(q49._2.toDouble / 3 * 10000) / 10000, q49.toString)
  }

  test("q218: per-source burden on the planted graded corpus and a corpus brute force") {
    // the graded fixture from the q208 test: pair docs {0,1},{10,11},
    // {20,21} all participate; sources are src(id % 3), doc 30 is the
    // only non-participant -> src0 = {0, 21 dup; 30 not} = 2/3,
    // src1 = {1, 10} = 2/2, src2 = {11, 20} = 2/2
    val dir = gradedDir // written by the first test
    val got = SparkEntry.queries("q218_dup_burden_by_source")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      ("src0", 3L, 2L, 666666L),
      ("src1", 2L, 2L, 1000000L),
      ("src2", 2L, 2L, 1000000L)), got.mkString(", "))

    val d = "/root/testdata/sf0.001"
    val pairDocs = SparkEntry.queries("q26_dedup_ngram_jaccard")(spark, d)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, d).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).toSeq.map { case (src, ds) =>
      val n = ds.length.toLong
      val dup = ds.count(x => pairDocs(x._1)).toLong
      (src, n, dup, dup * 1000000L / n)
    }.sortBy(_._1)
    val gotC = SparkEntry.queries("q218_dup_burden_by_source")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(gotC == expected, s"engine $gotC vs brute $expected")
    assert(gotC.map(_._3).sum > 0)
  }

  test("q208: oracle-SF corpus agrees with the RecallSpec contracts") {
    val got = collectReport("/root/testdata/sf0.01")
    assert(got.size == 5)
    got.foreach { case (m, (nT, nH, rec, nE, prec)) =>
      assert(nT > 0 && nE > 0, s"$m: empty side nT=$nT nE=$nE")
      assert(nH >= 0 && nH <= nE && rec >= 0.0 && rec <= 1.0, s"$m: $nH/$nE/$rec")
      assert(prec >= 0.0 && prec <= 1.0, s"$m precision $prec")
    }
    // the RecallSpec contracts, restated over the report's numbers:
    // q27 full strong-pair recall + verified precision; q43 recall ≥0.7
    // on the exact slice, verified precision; q68 slice groups
    // reproduced at ≥0.6 (the group-recall gate)
    assert(got("q27_minhash_lsh")._3 == 1.0, got("q27_minhash_lsh").toString)
    assert(got("q27_minhash_lsh")._5 == 1.0)
    assert(got("q43_embedding_lsh")._3 >= 0.7)
    assert(got("q43_embedding_lsh")._5 == 1.0)
    assert(got("q68_embedding_components_slice")._3 >= 0.6)
  }
}
