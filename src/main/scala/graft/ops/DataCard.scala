package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{qualityScore, tokens}

/** The corpus data card — the one-row header every dataset release
  * publishes (size, vocabulary, duplication, composition, quality):
  * document/token/type counts, type-token ratio, exact-duplicate
  * share, source/language cardinalities, and mean quality. Each
  * number is the headline of a deeper registered report (q01 counts,
  * q177 vocabulary curve, q25 dup clusters, q145 source matrix, q181
  * quality curve) — this is the summary row those reports expand.
  *
  * Determinism: counts and distincts are exact; the type-token ratio
  * and dup share are ppm integer divisions; mean quality quantizes
  * each doc's shared-formula quality double to integer micro-units
  * FIRST (round(q·10⁶), the q153 grain — summing doubles would make
  * the mean depend on reduction order) and then takes an integer
  * floor-mean. Fully oracle-replayed.
  *
  * Scale shape: one narrow per-doc aggregate (token count + quality —
  * no text in any exchange), plus ONE tagged-union distinct pass for
  * all four NDVs (digest/source/lang/word-type as (tag, value) pairs —
  * the q131 narrow-pair discipline, which exists precisely so a
  * multi-distinct aggregate never plans the row-multiplying Expand),
  * finishing at the collected model edge: the card is one row of
  * scalars. Distinct counts are exact by design, as in q131's profile.
  */
object DataCard extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_data_card" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val base = docs.select(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(round(qualityScore(col("text")) * 1e6, 0).cast("long")).as("q_sum"))
        .head()
      val (nDocs, nTokens, qSum) =
        (base.getLong(0), if (base.isNullAt(1)) 0L else base.getLong(1),
          if (base.isNullAt(2)) 0L else base.getLong(2))
      val ndv = docs.select(lit("digest").as("tag"),
          md5(col("text").cast("binary")).as("v"))
        .unionByName(docs.select(lit("source").as("tag"), col("source").as("v")))
        .unionByName(docs.select(lit("lang").as("tag"), col("lang").as("v")))
        .unionByName(docs.select(lit("type").as("tag"),
          explode(tokens(col("text"))).as("v")))
        .distinct().groupBy("tag").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val (uniq, srcs, langs, types) =
        (ndv.getOrElse("digest", 0L), ndv.getOrElse("source", 0L),
          ndv.getOrElse("lang", 0L), ndv.getOrElse("type", 0L))
      Seq((nDocs, nTokens, types,
        if (nTokens == 0) 0L else types * 1000000L / nTokens,
        nDocs - uniq,
        if (nDocs == 0) 0L else (nDocs - uniq) * 1000000L / nDocs,
        srcs, langs,
        if (nDocs == 0) 0L else qSum / nDocs))
        .toDF("n_docs", "n_tokens", "n_types", "ttr_ppm", "exact_dup_docs",
          "exact_dup_ppm", "n_sources", "n_langs", "mean_quality_micro")
    }))

  val oracleSql: Map[String, String] = Map(
    "q184_data_card" ->
      s"""WITH scored AS MATERIALIZED (
         |  SELECT doc_id, source, lang, md5(text) AS digest,
         |         CAST(len(w) AS BIGINT) AS nt,
         |         CAST(ROUND((${TextAnalysis.QualitySql}) * 1e6) AS BIGINT) AS qm
         |  FROM (SELECT doc_id, source, lang, text,
         |               string_split_regex(trim(text), '\\s+') AS w
         |        FROM documents)
         |), base AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_uniq_texts,
         |         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |         CAST(SUM(qm) AS BIGINT) AS q_sum
         |  FROM scored
         |), types AS (
         |  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
         |  FROM (SELECT UNNEST(w) AS t
         |        FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
         |              FROM documents))
         |)
         |SELECT n_docs, n_tokens, n_types,
         |       CASE WHEN n_tokens = 0 THEN 0
         |            ELSE n_types * 1000000 // n_tokens END AS ttr_ppm,
         |       n_docs - n_uniq_texts AS exact_dup_docs,
         |       CASE WHEN n_docs = 0 THEN 0
         |            ELSE (n_docs - n_uniq_texts) * 1000000 // n_docs END
         |         AS exact_dup_ppm,
         |       n_sources, n_langs,
         |       CASE WHEN n_docs = 0 THEN 0 ELSE q_sum // n_docs END
         |         AS mean_quality_micro
         |FROM base CROSS JOIN types""".stripMargin)
}
