package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Unit tests for the training-data-pipeline extensions on hand-built
  * frames with KNOWN ground truth (the testdata corpus has no real
  * near-dups, so constructed cases are the real test).
  */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("vector functions: dot, norm, cosine on known vectors") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      VF.dot(col("a"), col("b")).as("dot"),
      VF.cosine(col("a"), col("b")).as("cos")).collect()(0)
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
  }

  test("cosine of orthogonal is 0, identical is 1, zero vector is null") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 1.0), Array(1.0, 1.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
    val r = df.select(VF.cosine(col("a"), col("b"))).collect()
    assert(r(0).getDouble(0) == 0.0)
    assert(math.abs(r(1).getDouble(0) - 1.0) < 1e-12)
    assert(r(2).isNullAt(0))
  }

  test("text functions: tokens, ratios, shingles") {
    val df = Seq("the cat sat on the mat").toDF("text")
    val r = df.select(
      size(TF.tokens(col("text"))).as("n"),
      TF.stopwordRatio(col("text")).as("sw"),
      TF.uniqueTokenRatio(col("text")).as("uq"),
      TF.shingles(col("text"), 3).as("sh")).collect()(0)
    assert(r.getInt(0) == 6)
    assert(math.abs(r.getDouble(1) - 2.0 / 6) < 1e-12) // "the" x2
    assert(math.abs(r.getDouble(2) - 5.0 / 6) < 1e-12)
    assert(r.getSeq[String](3) ==
      Seq("the cat sat", "cat sat on", "sat on the", "on the mat"))
  }

  test("shingles of short text is empty, not an error") {
    val df = Seq("one two").toDF("text")
    assert(df.select(TF.shingles(col("text"), 3)).collect()(0).getSeq[String](0).isEmpty)
  }

  test("fingerprint: equal text -> equal fp; token order matters") {
    val df = Seq(("a b c", "a b c"), ("a b c", "c b a")).toDF("x", "y")
    val r = df.select(
      (TF.fingerprint(col("x")) === TF.fingerprint(col("y"))).as("eq")).collect()
    assert(r(0).getBoolean(0))
    assert(!r(1).getBoolean(0))
  }

  test("minhash+lsh finds constructed near-duplicates") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"w$i").mkString(" ") + " x1 x2"
    val unrelated = (100 to 160).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (0L, base, "en", "t", 1L), (1L, nearDup, "en", "t", 1L),
      (2L, unrelated, "en", "t", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = ColumnBridge.tempDir("graft-minhash")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reuse the other tables from testdata by pointing dir at a tmp copy
    val pairs = ops.Dedup.baseQueries("q27_dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
    val exact = ops.Dedup.baseQueries("q26_dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSeq == Seq((0L, 1L)))
  }

  test("simhash finds constructed near-duplicates") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 59).map(i => s"w$i").mkString(" ") + " z9"
    val unrelated = (100 to 160).map(i => s"v$i").mkString(" ")
    val dir = ColumnBridge.tempDir("graft-simhash")
    Seq((0L, base, "en", "t", 1L), (1L, nearDup, "en", "t", 1L),
      (2L, unrelated, "en", "t", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = ops.Dedup.baseQueries("q28_dedup_simhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("exact dedup groups identical texts") {
    val dir = ColumnBridge.tempDir("graft-exact")
    Seq((10L, "same text here", "en", "t", 1L),
      (3L, "same text here", "en", "t", 1L),
      (7L, "different", "en", "t", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = ops.Dedup.baseQueries("q25_dedup_exact")(spark, dir)
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((3L, 2L), (7L, 1L))) // canonical=min id, copies
  }

  test("knn brute force: nearest neighbor of a vector is its near-copy") {
    val v0 = Array.tabulate(64)(i => math.sin(i).toFloat)
    val v0near = v0.clone(); v0near(0) = v0(0) + 0.01f
    val others = (2 to 40).map(j =>
      (j.toLong, Array.tabulate(64)(i => math.cos(i * j).toFloat), j))
    val rows = Seq((0L, v0, 0), (1L, v0near, 0)) ++ others
    val dir = ColumnBridge.tempDir("graft-knn")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = ops.SimilaritySearch.baseQueries("q30_knn_bruteforce")(spark, dir)
      .filter(col("query_id") === 0 && col("rank") === 1).collect()
    assert(r(0).getLong(1) == 1L) // neighbor_id
  }

  test("multimodal decode is deterministic and shape-stable") {
    val a = ops.Multimodal.queries("q35_multimodal_decode")(spark, "/root/testdata/sf0.001")
    val b = ops.Multimodal.queries("q35_multimodal_decode")(spark, "/root/testdata/sf0.001")
    assert(a.exceptAll(b).isEmpty)
    val row = a.limit(1).collect()(0)
    assert(row.getInt(3) >= 1 && row.getInt(4) >= 1) // container-parsed width, height
  }

  test("dedup components: chains collapse to min-id groups") {
    // pairs forming a chain 1-2-3 and an island 7-9
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (7L, 9L, 0.8))
      .toDF("doc_a", "doc_b", "jaccard")
    val labels = ops.Dedup.dedupComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("dedup components: a 64-hop chain converges (pointer jumping)") {
    // a path graph 0-1-2-...-64: diameter 64, far beyond what plain
    // one-hop min-label propagation covers inside the round cap — only
    // the label-of-label hop (log₂64 ≈ 6 rounds) converges this
    val pairs = (0L until 64L).map(i => (i, i + 1, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val labels = ops.Dedup.dedupComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 65)
    assert(labels.forall(_._2 == 0L))
  }

  test("dedup components: shuffle-join branch (the at-scale path) converges too") {
    // broadcastCap = 0 forces the non-broadcast branch every real corpus
    // under 2M near-dup nodes would never reach — the loop the 100 TB
    // run actually executes
    val pairs = (0L until 64L).map(i => (i, i + 1, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val labels = ops.Dedup.dedupComponents(pairs, broadcastCap = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 65)
    assert(labels.forall(_._2 == 0L))
  }

  test("corpus curation verdicts: duplicate beats quality beats language") {
    // a long high-quality English text (keep), its exact duplicate
    // (drop_duplicate even though it would also pass quality), a short
    // junk text (drop_quality), and a good text with a wrong lang label
    // (drop_lang_mismatch — quality passes, so the language rule decides)
    val good = ("the quick brown fox jumps over the lazy dog and " * 12).trim
    val good2 = ("the small red hen walks past the old barn and " * 12).trim
    val junk = "a a a a"
    val dir = ColumnBridge.tempDir("graft-curation")
    Seq((1L, good, "en", "t", 1L), (2L, good, "en", "t", 1L),
      (3L, junk, "en", "t", 1L), (4L, good2, "fr", "t", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = ops.TextAnalysis.queries("q50_corpus_curation")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(
      ("en", "keep") -> 1L,
      ("en", "drop_duplicate") -> 1L,
      ("en", "drop_quality") -> 1L,
      ("fr", "drop_lang_mismatch") -> 1L), s"got $got")
  }

  test("langid argmax is deterministic and total") {
    val r = ops.TextAnalysis.queries("q23_langid")(spark, "/root/testdata/sf0.001")
    assert(r.filter(col("predicted").isNull).isEmpty)
    assert(r.count() == 500)
  }
}
