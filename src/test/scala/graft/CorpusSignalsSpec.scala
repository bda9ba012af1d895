package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => TF}

/** Constructed-fixture tests for the corpus-hygiene queries (q64–q66)
  * and the embedding-lifecycle queries (q67–q68): the testdata corpus
  * exercises the oracles at volume, but only hand-built docs give KNOWN
  * repetition fractions, boilerplate counts, and contamination flags.
  */
class CorpusSignalsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): String = {
    docs.map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("ngrams is the ordered multiset; shingles is its distinct form") {
    val df = Seq(Tuple1("a b a b a")).toDF("text")
    val r = df.select(
      TF.ngrams(col("text"), 2).as("m"),
      TF.shingles(col("text"), 2).as("d")).collect()(0)
    assert(r.getSeq[String](0) == Seq("a b", "b a", "a b", "b a"))
    assert(r.getSeq[String](1) == Seq("a b", "b a"))
    // sub-n docs: empty array, never null (explode must drop, not NPE)
    val short = Seq(Tuple1("solo")).toDF("text")
      .select(TF.ngrams(col("text"), 2).as("m")).collect()(0)
    assert(short.getSeq[String](0).isEmpty)
  }

  test("q64: known repetition fractions; diverse doc passes the gates") {
    val d = writeDocs(ColumnBridge.tempDir("graft-rep"), Seq(
      // 6×"spam": 5 bigrams all equal → top 5/5 = 1.0; 4 trigrams, 1
      // distinct → dup 3/4 = 0.75; both gates trip
      1L -> "spam spam spam spam spam spam",
      // 12 distinct tokens: top bigram 1/11 ≈ 0.09, zero dup trigrams
      2L -> "one two three four five six seven eight nine ten eleven twelve"))
    val got = SparkEntry.queries("q64_doc_repetition")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getInt(6))).toMap
    assert(got(1L) == ((5L, 5L, 1.0, 0.75, 1)), s"got ${got(1L)}")
    assert(got(2L) == ((11L, 1L, 1.0 / 11.0, 0.0, 0)), s"got ${got(2L)}")
  }

  test("q65: a 5-gram shared by 3 docs is boilerplate; by 2 is not") {
    val d = writeDocs(ColumnBridge.tempDir("graft-boiler"), Seq(
      // "all rights reserved to us" is the ONLY gram shared by ≥3 docs
      // (every other window straddles into the per-doc tail)
      1L -> "all rights reserved to us alpha beta gamma delta epsilon",
      2L -> "all rights reserved to us zeta eta theta iota kappa",
      3L -> "all rights reserved to us lambda mu nu xi omicron",
      // shared by exactly 2 docs → under BoilerplateMinDf, not flagged
      4L -> "this pair appears only twice plus alpha filler words here",
      5L -> "this pair appears only twice plus other filler words here",
      6L -> "completely unrelated content sits within this sixth document text"))
    val got = SparkEntry.queries("q65_boilerplate_ngrams")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3), r.getDouble(4))).toMap
    // 10 tokens → 6 distinct 5-grams per doc; exactly one is boilerplate
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id) == ((6, 1L, 1.0 / 6.0)), s"doc $id got ${got(id)}")
    }
    Seq(4L, 5L, 6L).foreach { id =>
      assert(got(id)._2 == 0L, s"doc $id got ${got(id)}")
    }
  }

  test("q66: train doc sharing a 5-gram with a test-split doc is contaminated") {
    // md5 split: first hex of md5(doc_id) — ids 3 and 5 land in
    // {'e','f'} (test), ids 0,1 do not (train)
    val d = writeDocs(ColumnBridge.tempDir("graft-decon"), Seq(
      3L -> "alpha beta gamma delta epsilon zeta",       // test split
      5L -> "held out benchmark prompt tokens only",     // test split
      0L -> "alpha beta gamma delta epsilon omega",      // shares 1 gram with doc 3
      1L -> "totally different training text with no shared windows"))
    val rows = SparkEntry.queries("q66_decontaminate")(spark, d).collect()
    val got = rows.map(r => r.getLong(0) -> (r.getLong(3), r.getInt(4))).toMap
    assert(got.keySet == Set(0L, 1L), s"test-split docs must not be scored: $got")
    assert(got(0L) == ((1L, 1)), s"got ${got(0L)}")
    assert(got(1L) == ((0L, 0)), s"got ${got(1L)}")
  }

  test("q163: Bloom prefilter has no false negatives and q163 equals q66 row-for-row") {
    // bit mechanics: every inserted digest must hit (Bloom's zero-FN
    // guarantee is what makes the exact join a pure FP-remover)
    val grams = (0 until 500).map(i => Tuple1(s"gram-$i")).toDF("gd")
    val bm = ops.CorpusSignals.bloomBitmap(grams, 1 << 12)
    val misses = grams.filter(!ops.CorpusSignals.bloomHit(col("gd"), bm)).count()
    assert(misses == 0, s"$misses inserted grams missed the filter")

    // engine-level equality on the real corpus: same rows, same order
    val sf = "/root/testdata/sf0.001"
    val q66 = SparkEntry.queries("q66_decontaminate")(spark, sf).collect().toSeq
    val q163 = SparkEntry.queries("q163_decontaminate_bloom")(spark, sf).collect().toSeq
    assert(q163 == q66, "Bloom path diverged from the plain broadcast path")
    assert(q66.exists(_.getInt(4) == 1), "fixture must exercise contamination")
  }

  test("q163: a deliberately tiny bitmap forces false positives; the answer never moves") {
    val sf = "/root/testdata/sf0.001"
    // 256-bit filter vs thousands of grams: nearly every bit is set, so
    // the prefilter passes false positives by construction
    val (_, hits, real) = ops.CorpusSignals.bloomCandidates(spark, sf, 256)
    assert(hits > real, s"expected forced FPs, got hits=$hits real=$real")
    // ... and at the production size the prefilter actually prunes:
    // FP rate over NON-member probes lands in the Bloom-math band
    val (trials, hitsBig, realBig) =
      ops.CorpusSignals.bloomCandidates(spark, sf, ops.CorpusSignals.BloomBits)
    assert(realBig == real, "true membership is geometry-independent")
    val fpr = (hitsBig - realBig).toDouble / math.max(1L, trials - realBig)
    assert(fpr <= 0.01, s"production-size FP rate too high: $fpr")
    // verification independence: the tiny-filter pipeline still equals q66
    val q66 = SparkEntry.queries("q66_decontaminate")(spark, sf).collect().toSeq
    val tiny = ops.CorpusSignals.decontaminateBloom(spark, sf, 256).collect().toSeq
    assert(tiny == q66, "exact verify must erase the Bloom geometry from the answer")
  }

  test("q146: evidence names the leaking test doc and first shared gram; set equals q66's") {
    val d = writeDocs(ColumnBridge.tempDir("graft-evidence"), Seq(
      3L -> "alpha beta gamma delta epsilon zeta",       // test split
      5L -> "held out benchmark prompt tokens only",     // test split
      0L -> "alpha beta gamma delta epsilon omega",      // leaks doc 3 (1 gram)
      8L -> "extra held out benchmark prompt tokens only", // leaks doc 5 (2 grams)
      1L -> "totally different training text with no shared windows"))
    val rows = SparkEntry.queries("q146_contamination_evidence")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(rows.keySet == Set((0L, 3L), (8L, 5L)), s"evidence pairs: ${rows.keySet}")
    assert(rows((0L, 3L)) == ((1L, "alpha beta gamma delta epsilon")))
    // doc 8 shares the first two 5-gram windows of doc 5; min picks "held ..."
    assert(rows((8L, 5L))._1 == 2L)
    assert(rows((8L, 5L))._2 == "held out benchmark prompt tokens")
    // on the real corpus: the evidence's train-doc set IS q66's contaminated set
    val sf = "/root/testdata/sf0.001"
    val flagged = SparkEntry.queries("q66_decontaminate")(spark, sf).collect()
      .filter(_.getInt(4) == 1).map(_.getLong(0)).toSet
    val evidenced = SparkEntry.queries("q146_contamination_evidence")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(evidenced == flagged,
      s"evidence docs ${evidenced.size} != q66 contaminated ${flagged.size}")
  }

  test("q69: one prioritized verdict per train doc; test split excluded") {
    // md5 split: ids 3,5 are test; everything else train. One doc per
    // cascade rule, constructed so each later rule would ALSO fire if
    // priority broke (docs 1/2 are both contaminated AND duplicates;
    // doc 4 is repetitive AND low-quality).
    val docs = Seq(
      (3L, "alpha beta gamma delta epsilon zeta", "en"),                      // test split
      (5L, "held out benchmark prompt tokens only", "en"),                    // test split
      // exact-dup pair sharing a 5-gram with test doc 3: canon (1) is
      // contaminated, its twin (2) must report duplicate, not contaminated
      (1L, "alpha beta gamma delta epsilon tau upsilon phi chi psi", "en"),
      (2L, "alpha beta gamma delta epsilon tau upsilon phi chi psi", "en"),
      (4L, Seq.fill(40)("spam").mkString(" "), "en"),                         // repetitive (also low quality)
      (6L, "shared one two three four five six seven eight uniqsix", "en"),   // boilerplate trio:
      (7L, "shared one two three four five six seven eight uniqseven", "en"), // 5 of 6 grams have df=3
      (8L, "shared one two three four five six seven eight uniqeight", "en"),
      (9L, "the of to in and an is big red cat", "en"),                       // quality 0.43 < 0.5
      (10L, "ten assorted plain words make this other document read fine", "fr"), // wrong lang label
      (11L, "eleven distinct plain words fill this clean document nicely here", "en")) // keep
    val d = ColumnBridge.tempDir("graft-guard")
    docs.map { case (id, t, lang) => (id, t, lang, "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("q69_corpus_curation_guarded")(spark, d)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(
      ("en", "drop_contaminated") -> 1L,
      ("en", "drop_duplicate") -> 1L,
      ("en", "drop_repetitive") -> 1L,
      ("en", "drop_boilerplate") -> 3L,
      ("en", "drop_quality") -> 1L,
      ("fr", "drop_lang_mismatch") -> 1L,
      ("en", "keep") -> 1L), s"got $got")
  }

  private def md5Hex1(id: Long): Char = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    "%02x".format(d(0)).charAt(0)
  }

  test("q74: a paraphrased test doc in train is flagged; unrelated docs are not") {
    // pick ids by their REAL split assignment (first md5 hex char)
    val testId = (1L to 200L).find(i => "ef".contains(md5Hex1(i))).get
    val trains = (1L to 200L).filter(i => !"ef".contains(md5Hex1(i)))
    val (leakId, cleanId) = (trains.head, trains(1))
    val testDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // paraphrase-level leak: same text with a two-token tail edit —
    // high 3-gram Jaccard but not byte-identical
    val leakDoc = testDoc + " extra tail"
    val cleanDoc = "totally different words about completely other topics " +
      "nothing shared with that benchmark document at all here now"
    val dir = ColumnBridge.tempDir("graft-fuzzy")
    Seq((testId, testDoc), (leakId, leakDoc), (cleanId, cleanDoc))
      .map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q74_decontaminate_fuzzy")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.contains(leakId), s"paraphrased leak $leakId not flagged: $got")
    assert(got(leakId) >= ops.CorpusSignals.FuzzyJaccardGate)
    assert(!got.contains(cleanId), s"clean doc flagged: $got")
    assert(!got.contains(testId), "test docs must never appear as train rows")
  }

  test("q74: recall 1 against an exact bipartite Jaccard sweep at J >= 0.7") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select(
      col("doc_id"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
        .isin("e", "f").as("is_test"),
      TF.shingles(col("text"), 3).as("sh"))
      .withColumn("n_sh", size(col("sh"))).filter(col("n_sh") > 0)
    // exact sweep: every train×test pair (fine at spec scale; the PRODUCT
    // is what q74's LSH avoids at corpus scale)
    val exact = docs.filter(!col("is_test")).as("a")
      .join(docs.filter(col("is_test")).as("b"),
        col("a.doc_id") =!= col("b.doc_id"))
      .withColumn("inter", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("j", col("inter").cast("double") /
        (col("a.n_sh") + col("b.n_sh") - col("inter")))
      .filter(col("j") >= 0.7)
      .select(col("a.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val flagged = SparkEntry.queries("q74_decontaminate_fuzzy")(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "testdata should contain cross-split near-dups")
    assert(exact.subsetOf(flagged),
      s"missed high-similarity leaks: ${exact -- flagged}")
    // precision: everything flagged carries an exact-verified score
    SparkEntry.queries("q74_decontaminate_fuzzy")(spark, d).collect()
      .foreach(r => assert(r.getDouble(3) >= ops.CorpusSignals.FuzzyJaccardGate))
  }

  test("q77: truncation eval detects a tail-only difference the prefix hides") {
    // query 0 = unit x; 11 = exact copy (wins full ranking); 10 = same
    // 16-dim prefix but a large tail (full cos tiny, truncated cos 1.0
    // — ties with 11, vec_id order puts 10 first) → truncated top-1
    // disagrees with full top-1, which is exactly the signal q77 exists
    // to report. 12 = orthogonal filler.
    val prefix = Array.fill(16)(0.0f); prefix(0) = 1.0f
    def vec(tail: Array[Float]) = prefix ++ tail
    val zero4 = Array.fill(4)(0.0f)
    val d = ColumnBridge.tempDir("graft-mrl")
    Seq(
      (0L, vec(zero4), 0),
      (10L, vec(Array(9f, 9f, 9f, 9f)), 0),
      (11L, vec(zero4), 0),
      (12L, Array.fill(20)(0.0f).updated(1, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val r = SparkEntry.queries("q77_matryoshka_eval")(spark, d)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    assert(r.toSeq == Seq((0L, 3L, 0)), s"got ${r.toSeq}")
  }

  test("q67: exact quantization of a known vector; corpus-wide error bound") {
    // v = [1, -0.5, 0.25, 0]: maxabs 1 → s = 1/127. round(-63.5) = -64
    // (HALF_UP away from zero) → worst component error |−0.5+64/127|
    val d = ColumnBridge.tempDir("graft-quant")
    Seq((1L, Array(1.0f, -0.5f, 0.25f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val r = SparkEntry.queries("q67_embedding_quantize")(spark, d)
      .collect()(0)
    val s = 1.0 / 127.0
    assert(r.getDouble(2) == math.rint(s * 1e6) / 1e6)
    assert(r.getDouble(4) == 0.003937) // round(|-0.5 + 64/127|, 6)
    assert(r.getDouble(3) >= 0.9999)
    // corpus-wide invariant: per-component error ≤ s/2 (nearest-multiple
    // rounding), cosine of original vs dequantized ≈ 1 — the gate a
    // pipeline checks before swapping the int8 column into its index
    val all = SparkEntry.queries("q67_embedding_quantize")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(all.nonEmpty)
    all.foreach { row =>
      assert(row.getDouble(4) <= row.getDouble(2) / 2 + 1e-6,
        s"vec ${row.getLong(0)}: err ${row.getDouble(4)} vs s/2 bound")
      assert(row.getDouble(3) >= 0.999, s"vec ${row.getLong(0)} cos ${row.getDouble(3)}")
    }
  }
}
