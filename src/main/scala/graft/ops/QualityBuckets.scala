package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
  * rank documents by LM perplexity and cut the distribution into
  * head / middle / tail terciles — the curation signal CCNet made
  * standard (head ≈ Wikipedia-like, tail ≈ noise; pipelines keep head,
  * sample middle, drop or down-weight tail). Completes the quality
  * family: q22 surface heuristics, q64 repetition, q134 raw perplexity,
  * q153 NB source classifier, q165 embedding probe — this is the
  * DECISION layer over q134's signal.
  *
  * Reference scope: no reference twin (the reference has no text
  * quality surface); extends the q134 bigram LM.
  *
  * Determinism contract: q134's float NLL sum is order-noisy at 1e-13,
  * fine for a rounded REPORT but not for a rank CUT (two docs straddling
  * a tercile boundary must order identically cross-engine). Here every
  * bigram's NLL quantizes to integer micro-nats FIRST —
  * round(10⁶·ln((c12+1)/(c1+V))), one ln of an integer-derived rational
  * per DISTINCT bigram, the q153/q156 discipline — and the per-doc
  * score is an exact integer sum, so ordering is bit-deterministic
  * under any partitioning. The rank key is the truncating-division
  * average (s·1000)/n (Scala `/` ≡ DuckDB `//`) with doc_id tie-break;
  * NTILE(3) semantics (equal buckets, remainder to the first) agree
  * across engines. The only cross-engine hazard is the documented q154
  * class — a bigram whose 10⁶·ln sits within ~1 ULP of a .5 boundary —
  * gated in QualityBucketsSpec by measuring every distinct bigram's
  * boundary margin.
  *
  * Scale shape: bigrams build NARROWLY per document (slice+arrays_zip
  * in-row, q134's shape); the count tables are map-side-combined
  * aggregates; scoring is one join on the bigram key + one per-doc sum.
  * The tercile cut is a per-language window over DOC-level rows (one
  * row per document — corpus-sized but narrow); at 100 TB the window
  * ranks ~10⁹ doc rows per language, which is exactly the global-sort
  * scale Spark's range-partitioned window handles, and the alternative
  * (approx percentile cutoffs) is the documented degradation path —
  * the CCNet paper itself uses exact cutpoints computed offline.
  */
object QualityBuckets extends graft.QueryModule {

  /** (doc_id, lang, n_bigrams, s) with s = Σ per-bigram micro-nat NLL. */
  private def docNll(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = tokens(col("text"))
    val bi = docs
      .select(col("doc_id"), col("lang"),
        explode(arrays_zip(
          slice(t, lit(1), size(t) - 1).as("w1"),
          slice(t, lit(2), size(t) - 1).as("w2"))).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = docs.select(explode(t).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v_n"))
    bi.join(c12, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll_u",
        -round(lit(1000000.0) *
          log((col("c12") + lit(1)).cast("double") / (col("c1") + col("v_n"))))
          .cast("long"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_u")).as("s"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q167_ccnet_buckets" -> ((s, d) => {
      val scored = docNll(s, d)
        // truncating-division average in milli-micro-nats: exact
        // integers end to end, so the tercile ORDER is bit-stable
        .withColumn("avg_nll_u", expr("s * 1000 DIV n_bigrams"))
      val w = Window.partitionBy("lang").orderBy("avg_nll_u", "doc_id")
      scored.withColumn("t", ntile(3).over(w))
        .withColumn("bucket",
          when(col("t") === 1, "head")
            .when(col("t") === 2, "middle").otherwise("tail"))
        .select("doc_id", "lang", "n_bigrams", "avg_nll_u", "bucket")
        .orderBy("doc_id")
    }))

  val oracleSql: Map[String, String] = Map(
    "q167_ccnet_buckets" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents
        |), ta AS (
        |  SELECT doc_id, lang, arr, unnest(range(1, len(arr) + 1)) AS pos FROM d
        |), tok AS (
        |  SELECT doc_id, lang, pos, arr[CAST(pos AS INT)] AS w FROM ta
        |), bi AS (
        |  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |), c12 AS (
        |  SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
        |), uni AS (
        |  SELECT w AS w1, COUNT(*) AS c1 FROM tok GROUP BY w
        |), v AS (SELECT COUNT(*) AS v_n FROM uni),
        |terms AS (
        |  SELECT bi.doc_id, bi.lang,
        |         -CAST(ROUND(1000000.0 *
        |            LN(CAST(c12.c12 + 1 AS DOUBLE) / (uni.c1 + v.v_n))) AS BIGINT) AS nll_u
        |  FROM bi JOIN c12 USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |), agg AS (
        |  SELECT doc_id, ANY_VALUE(lang) AS lang, COUNT(*) AS n_bigrams,
        |         CAST(SUM(nll_u) AS BIGINT) AS s
        |  FROM terms GROUP BY doc_id
        |), keyed AS (
        |  SELECT doc_id, lang, n_bigrams, s * 1000 // n_bigrams AS avg_nll_u,
        |         NTILE(3) OVER (PARTITION BY lang
        |                        ORDER BY s * 1000 // n_bigrams, doc_id) AS t
        |  FROM agg
        |)
        |SELECT doc_id, lang, n_bigrams, avg_nll_u,
        |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM keyed ORDER BY doc_id""".stripMargin)
}
