package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{qualityScore, tokens}

/** Per-source profile table — q184's data card broken out by source,
  * the composition table a mixing design actually reads: per source,
  * document/token/type counts, type-token ratio (a low-TTR source is
  * repetitive/boilerplate mass — up-weighting it buys less diversity
  * than its token count suggests), mean document length, and mean
  * quality. Reads next to q78/q173 (count-based mixing), q133
  * (distributional drift) and q182 (semantic redundancy) as the
  * lexical composition leg.
  *
  * Determinism: counts exact; TTR and means are ppm/floor integer
  * divisions; per-doc quality quantizes to micro-units before the sum
  * (the q184 rule — a double sum would be reduction-order-dependent).
  *
  * Scale shape: one narrow per-doc pass into a (source) aggregate,
  * plus one (source, word) DISTINCT pass (map-side combined) for the
  * type counts — the q184 tagged-NDV discipline per stratum; the join
  * of the two runs on source-catalog-sized frames.
  */
object SourceProfile extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q188_source_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("nt"),
          round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          sum(col("qm")).as("q_sum"))
      val types = docs
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .distinct()
        .groupBy("source").agg(count(lit(1)).as("n_types"))
      base.join(types, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
          expr("CASE WHEN n_tokens = 0 THEN 0" +
            " ELSE n_types * 1000000 DIV n_tokens END").as("ttr_ppm"),
          expr("n_tokens DIV n_docs").as("mean_doc_tokens"),
          expr("q_sum DIV n_docs").as("mean_quality_micro"))
        .orderBy("source")
    }))

  val oracleSql: Map[String, String] = Map(
    "q188_source_profile" ->
      s"""WITH scored AS MATERIALIZED (
         |  SELECT source, w, CAST(len(w) AS BIGINT) AS nt,
         |         CAST(ROUND((${TextAnalysis.QualitySql}) * 1e6) AS BIGINT) AS qm
         |  FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS w
         |        FROM documents)
         |), base AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |         CAST(SUM(qm) AS BIGINT) AS q_sum
         |  FROM scored GROUP BY source
         |), types AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
         |  FROM (SELECT DISTINCT source, t
         |        FROM (SELECT source, UNNEST(w) AS t FROM scored))
         |  GROUP BY source
         |)
         |SELECT b.source, n_docs, n_tokens, n_types,
         |       CASE WHEN n_tokens = 0 THEN 0
         |            ELSE n_types * 1000000 // n_tokens END AS ttr_ppm,
         |       n_tokens // n_docs AS mean_doc_tokens,
         |       q_sum // n_docs AS mean_quality_micro
         |FROM base b JOIN types t ON t.source = b.source
         |ORDER BY b.source""".stripMargin)
}
