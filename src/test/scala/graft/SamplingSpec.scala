package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Sampling

/** Deterministic hash sampling: reproducible assignments (the property
  * rand() sampling lacks), every doc in exactly one split, and split /
  * stratum rates near their design fractions (md5 uniformity).
  */
class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.01" // 500 docs: enough for rate bounds

  test("q144 leakage-safe split: no near-dup pair straddles splits, singletons keep q54's rule") {
    val out = SparkEntry.queries("q144_split_leakage_safe")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size == Tables.documents(spark, d).count(), "every doc assigned")
    // THE property q54 lacks: both ends of every near-dup pair share a split
    val pairs = ops.Dedup.jaccardPairs(spark, d, threshold = 0.2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture needs real near-dup pairs to mean anything")
    pairs.foreach { case (a, b) =>
      assert(out(a)._2 == out(b)._2,
        s"near-dup pair ($a, $b) straddles splits ${out(a)._2}/${out(b)._2}")
      assert(out(a)._1 == out(b)._1, s"pair ($a, $b) got different group keys")
    }
    // singletons: group_key = own id, so their split equals the q54 rule
    val inGroups = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val q54 = Tables.documents(spark, d)
      .select(col("doc_id"), Sampling.splitOf(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (gk, s)) =>
      if (!inGroups(id)) {
        assert(gk == id, s"singleton $id must key by itself")
        assert(s == q54(id), s"singleton $id split drifted from the q54 rule")
      }
    }
  }

  test("q54 split is exhaustive, deterministic, and near design fractions") {
    val run1 = Sampling.queries("q54_train_split")(spark, d).collect().toSeq
    val run2 = Sampling.queries("q54_train_split")(spark, d).collect().toSeq
    assert(run1 == run2, "hash split must be reproducible run-over-run")
    val total = Tables.documents(spark, d).count()
    val bySplit = run1.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit.values.sum == total, "every doc lands in exactly one split")
    // design: train 12/16 = 375, validation 2/16 = 62.5, test 2/16 = 62.5
    assert(bySplit("train") > 300 && bySplit("train") < 450, s"$bySplit")
    assert(bySplit("validation") > 25 && bySplit("validation") < 105, s"$bySplit")
    assert(bySplit("test") > 25 && bySplit("test") < 105, s"$bySplit")
  }

  test("q55 stratified sample downweights the dominant language") {
    val sampled = Sampling.queries("q55_stratified_sample")(spark, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.documents(spark, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en kept at ~1/16 (0x1000/0x10000), everything else at ~1/2
    val enRate = sampled.getOrElse("en", 0L).toDouble / full("en")
    assert(enRate < 0.15, s"en rate $enRate should be ~0.0625")
    for ((lang, n) <- full if lang != "en") {
      val rate = sampled.getOrElse(lang, 0L).toDouble / n
      assert(rate > 0.3 && rate < 0.7, s"$lang rate $rate should be ~0.5")
    }
    // deterministic: same doc_ids both runs
    val ids1 = Sampling.queries("q55_stratified_sample")(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val ids2 = Sampling.queries("q55_stratified_sample")(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids1 == ids2 && ids1.nonEmpty)
  }

  test("q78 temperature mixing: smallest source keeps all, rates follow sqrt(min/n)") {
    import spark.implicits._
    // 4 docs of src_small, 16 of src_big → rates 1.0 and 0.5
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-mixing")
    val docs = (1L to 4L).map(i => (i, s"d$i", "en", "src_small", 10L)) ++
      (101L to 116L).map(i => (i, s"d$i", "en", "src_big", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q78_source_mixing")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("src_small") == ((4L, 4L, 1.0)), s"got $got")
    // src_big: rate 0.5 → cutoff '8000'; expected survivors = docs whose
    // md5 4-hex prefix is below it, computed here with the same rule
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectBig = (101L to 116L).count { i =>
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      hex < "8000"
    }
    assert(got("src_big") == ((16L, expectBig.toLong, 0.5)), s"got $got")
  }

  test("q114 budget plan: hand-computed quotas, epoch cap fires, integer-exact") {
    import spark.implicits._
    // src_a: 1 doc, 16 chars → 4 tokens; src_b: 4 docs, 400 chars → 400.
    // w = (2, 20), W = 22, total = 404, budget = 202.
    // alloc_a = 2*(202/22) + (2*(202%22))/22 = 18 + 0 = 18 → epochs
    // ceil(18/4) = 5, CAPPED to 4, final = min(18, 16) = 16.
    // alloc_b = 20*9 + (20*4)/22 = 183 → 1 epoch, final 183.
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-budget")
    val docs = Seq((1L, "t", "en", "src_a", 16L)) ++
      (101L to 104L).map(i => (i, "t", "en", "src_b", 400L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q114_token_budget_plan")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5), r.getLong(6)))).toMap
    assert(got("src_a") == ((4L, 2L, 18L, 4L, true, 16L)), s"got $got")
    assert(got("src_b") == ((400L, 20L, 183L, 1L, false, 183L)), s"got $got")
  }

  test("q114 conserves the budget and respects the cap on real data") {
    val rows = SparkEntry.queries("q114_token_budget_plan")(spark, d).collect()
    assert(rows.nonEmpty)
    val budget = rows.map(_.getLong(1)).sum / 2
    assert(rows.map(_.getLong(3)).sum <= budget,
      "sum of floor-quotas may never exceed the budget")
    for (r <- rows) {
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 4, s"epochs out of range: $r")
      assert(r.getLong(6) <= r.getLong(3), s"final > alloc: $r")
      assert(r.getLong(6) <= 4 * r.getLong(1), s"final > cap x avail: $r")
    }
  }
}
