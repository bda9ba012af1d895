package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall gates for the approximate (rows-only) ANN/sketch queries: each
  * approximate path is measured against its exact twin on sf0.01. These
  * are the only correctness statements a hash-bucketed query can have —
  * "it runs" proves nothing about whether the buckets find anything.
  *
  * Thresholds are set from the structures' design recall (e.g. q43's
  * 8 tables × 4 hyperplanes ≈ 75% at cos 0.4), with slack for the
  * corpus draw — a regression that breaks bucketing (wrong band key,
  * degenerate hyperplanes, dropped verification) lands at ~0, far below
  * any gate.
  */
class RecallSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.01"

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(df.columns(0), df.columns(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(got: Set[(Long, Long)], want: Set[(Long, Long)]): Double =
    if (want.isEmpty) 1.0 else got.intersect(want).size.toDouble / want.size

  test("q108 prefix filter: EXACT equality with the full join, fewer candidates") {
    // not a recall gate — the prefix lemma promises zero false
    // negatives, so the result must EQUAL the full posting-join pairs
    // at the same threshold, tuple for tuple (jaccard doubles included:
    // both paths divide the same integers)
    val full = ops.Dedup.jaccardPairs(spark, d, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = SparkEntry.queries("q108_dedup_jaccard_prefix")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref == full, s"prefix join diverged: ${pref.diff(full)} extra, ${full.diff(pref)} missing")
    assert(full.nonEmpty, "degenerate gate: no pairs at t=0.8 at this SF")
    // the point of the prefix: strictly fewer candidate pairs than
    // "docs sharing ANY capped shingle" (what the full join enumerates)
    val (_, filtered, _, candidates) =
      ops.Dedup.prefixJaccardFrames(spark, d, 4, 5)
    val fullCandidates = filtered.as("a").join(filtered.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val prefCandidates = candidates.count()
    assert(prefCandidates < fullCandidates,
      s"prefix filter pruned nothing: $prefCandidates vs $fullCandidates")
  }

  test("prefix filter stays exact at a second threshold (different bound arithmetic)") {
    // t = 1/2 exercises beta = ceil(n'/3) instead of t=0.8's ceil(4n'/9)
    // — the integer prefix bound must stay conservative at every
    // threshold, not just the registered one
    val full = ops.Dedup.jaccardPairs(spark, d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = ops.Dedup.prefixJaccardPairs(spark, d, tNum = 1, tDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    assert(pref == full,
      s"missing ${full.diff(pref)}, extra ${pref.diff(full)}")
  }

  test("q31 LSH KNN: recall >= 0.8 of the exact top-k (q30)") {
    val exact = pairs(SparkEntry.queries("q30_knn_bruteforce")(spark, d))
    val lsh = pairs(SparkEntry.queries("q31_knn_lsh")(spark, d))
    val r = recall(lsh, exact)
    assert(exact.size == 50)
    assert(r >= 0.8, s"q31 recall $r vs exact top-k")
  }

  test("q42 IVF KNN: recall >= 0.8 of the exact top-k (q30)") {
    val exact = pairs(SparkEntry.queries("q30_knn_bruteforce")(spark, d))
    val ivf = pairs(SparkEntry.queries("q42_knn_ivf")(spark, d))
    val r = recall(ivf, exact)
    assert(r >= 0.8, s"q42 recall $r vs exact top-k")
  }

  test("q117 report: one row per method, recall and nDCG both in (0, 1]") {
    val rows = SparkEntry.queries("q117_ann_recall_report")(spark, d).collect()
    assert(rows.map(_.getString(0)).toSeq.sorted == Seq("q148_ivf_pq",
      "q152_hybrid_rrf", "q31_lsh_multiprobe", "q42_ivf", "q90_knn_graph_lsh"))
    rows.foreach { r =>
      val (m, rec, ndcg) = (r.getString(0), r.getDouble(3), r.getDouble(4))
      assert(rec > 0 && rec <= 1.0, s"$m recall_r $rec out of range")
      assert(ndcg > 0 && ndcg <= 1.0, s"$m ndcg_r $ndcg out of range")
      // a found-everything method can still rank badly, but order
      // quality can never EXCEED what it found: with uniform per-list
      // K, nDCG <= recall would be too strong (discounts differ), so
      // pin the semantic floor instead — perfect recall forces ndcg
      // well above the random-order floor for k=5 (~0.5)
      if (rec == 1.0) assert(ndcg > 0.5, s"$m full recall but ndcg $ndcg")
    }
  }

  test("q27 MinHash+LSH: full recall of the high-confidence jaccard pairs (q26)") {
    val exactRows = SparkEntry.queries("q26_dedup_ngram_jaccard")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = exactRows.map(t => (t._1, t._2)).toSet
    val lsh = pairs(SparkEntry.queries("q27_dedup_minhash_lsh")(spark, d))
    assert(exact.nonEmpty)
    // 8 bands x 4 rows: P(>=1 band collision) = 1-(1-j^4)^8 — ~0.9998 at
    // j=0.9 but only ~0.40 at j=0.5. An exact-recall gate is therefore a
    // sound correctness statement only for pairs whose jaccard makes a
    // collision near-certain; a borderline pair missing a bucket is LSH
    // working as designed, not a regression — gating on it would flake
    // whenever testdata is regenerated with near-threshold pairs.
    val strong = exactRows.filter(_._3 >= 0.9).map(t => (t._1, t._2)).toSet
    assert(strong.nonEmpty, "corpus has no high-jaccard pairs to gate on")
    assert(recall(lsh, strong) == 1.0, s"q27 missed ${strong.diff(lsh)}")
    // candidates are exact-verified at the same threshold, so precision
    // is 1.0 by construction — a false positive means broken verification
    assert(lsh.subsetOf(exact), s"q27 extra pairs ${lsh.diff(exact)}")
  }

  test("q49 LSH-pair components: groups match q47's exact-pair groups on strong pairs") {
    // q49 = sub-quadratic MinHash-LSH pairs -> connected components; q47
    // = exact shingle-join pairs -> the same components. On this corpus
    // every exact pair is high-jaccard (the q27 gate above proves full
    // recall of strong pairs), so the two pair graphs — and therefore
    // the component groupings — must coincide exactly. On a corpus with
    // borderline pairs the right statement would be group-recall over
    // components whose edges are all strong.
    val exact = SparkEntry.queries("q47_dedup_groups")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lsh = SparkEntry.queries("q49_dedup_groups_lsh")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact,
      s"q49 groups diverge: missing ${exact.diff(lsh)}, extra ${lsh.diff(exact)}")
  }

  test("q68 embedding LSH components: refinement of exact components + group recall") {
    import org.apache.spark.sql.functions.col
    // exact components: the full q29 pair graph (at sf0.01 all 500
    // vectors sit inside q29's cap, so it IS the uncapped ground truth)
    val exactPairs = SparkEntry.queries("q29_dedup_embedding")(spark, d)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val exactLabels = ops.Dedup.dedupComponents(exactPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val lshLabels = ops.Dedup.dedupComponents(
      ops.SimilaritySearch.embeddingLshPairs(spark, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // refinement: q43's pairs are exact-verified (subset of q29's), so
    // every LSH component must sit INSIDE one exact component — two vecs
    // the LSH path groups together but the exact path separates would
    // mean a false-positive edge survived verification
    val exactOf = lshLabels.groupBy(_._2).view.mapValues(_.keySet.map(exactLabels))
    exactOf.foreach { case (lshLabel, exactSet) =>
      assert(exactSet.size == 1,
        s"LSH component $lshLabel spans exact components $exactSet")
    }
    // group recall: most exact groups are reproduced verbatim (pair
    // recall is gated at 0.7 by the q43 test below; a missed borderline
    // pair splits one group, it cannot invent or merge groups)
    val exactGroups = exactLabels.groupBy(_._2).values.map(_.keySet).toSet
    val lshGroups = lshLabels.groupBy(_._2).values.map(_.keySet).toSet
    val reproduced = exactGroups.count(lshGroups.contains)
    assert(exactGroups.nonEmpty)
    val r = reproduced.toDouble / exactGroups.size
    assert(r >= 0.6, s"q68 group recall $r ($reproduced of ${exactGroups.size})")
    // and the registered query reports exactly these components
    val got = SparkEntry.queries("q68_dedup_groups_embedding")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = lshLabels.groupBy(_._2).map { case (label, m) =>
      (label, m.size.toLong, m.keys.max)
    }.toSet
    assert(got == want, s"q68 diverges from its own component labels")
  }

  test("q43 embedding LSH: recall >= 0.7 of the exact cosine pairs (q29)") {
    // at sf0.01 the corpus (500 vectors) sits inside q29's exact cap, so
    // the capped query IS the uncapped ground truth here
    val exact = pairs(SparkEntry.queries("q29_dedup_embedding")(spark, d))
    val lsh = pairs(SparkEntry.queries("q43_dedup_embedding_lsh")(spark, d))
    assert(exact.nonEmpty)
    val r = recall(lsh, exact)
    assert(r >= 0.7, s"q43 recall $r vs exact pairs")
    // LSH candidates are exact-verified at the same threshold: no false
    // positives possible
    assert(lsh.subsetOf(exact), s"q43 extra pairs ${lsh.diff(exact)}")
  }

  test("q90 LSH k-NN graph: edge recall >= 0.5 vs the exact graph (q89), precision-true cosines") {
    // graph edges are (vec_id, neighbor_id) at rank <= 3. The LSH
    // candidate generator is q43's 8x4 config, sized for near-dup
    // recall at cos 0.4 — for general top-3 neighbors (often much
    // farther than near-dups) per-edge recall is structurally lower;
    // the gate guards against a BROKEN generator (~0 recall), while
    // near-dup-grade edges (cos >= 0.4) must be found at q43's rate.
    val exactDf = SparkEntry.queries("q89_knn_graph")(spark, d)
    val exact = exactDf.collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val lsh = SparkEntry.queries("q90_knn_graph_lsh")(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(exact.size == 3 * 500)
    val r = recall(lsh.keySet.map(identity), exact.keySet.map(identity))
    assert(r >= 0.5, s"q90 edge recall $r vs exact graph")
    val strong = exact.filter(_._2 >= 0.4).keySet
    assert(strong.nonEmpty)
    val rs = recall(lsh.keySet.map(identity), strong.map(identity))
    // measured 0.78 on this draw with only ~120 strong edges — gate at
    // 0.6 so a corpus regeneration can't flake the binomial tail while
    // a broken generator (~0) still fails loudly
    assert(rs >= 0.6, s"q90 strong-edge (cos>=0.4) recall $rs")
    // every LSH edge's cosine must equal the exact computation (the
    // re-rank is exact; only CANDIDACY is approximate) - check on the
    // edges both graphs share
    lsh.foreach { case (k, c) =>
      exact.get(k).foreach(ec => assert(math.abs(ec - c) < 1e-9,
        s"edge $k cosine drift: lsh=$c exact=$ec"))
    }
  }
}
