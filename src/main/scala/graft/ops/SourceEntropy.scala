package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Per-source unigram Shannon entropy — the information-theoretic leg
  * of the composition profile, next to q188's TTR (a count ratio) and
  * q133's KL drift (a cross-source comparison): H = ln N − (1/N)·Σ c·ln c
  * over each source's word-type counts, plus the evenness
  * H / ln(V) (Pielou) that separates "few types" from "skewed use of
  * many types". A low-entropy source is template/boilerplate mass —
  * the same diversity warning as low TTR but robust to corpus size,
  * since evenness is scale-free where raw TTR decays with N (Heaps'
  * law). A mixing design reads this before trusting token counts as
  * diversity proxies.
  *
  * Determinism: counts exact; each ln runs on an integer-valued
  * double and is micro-nat-quantized SEPARATELY (the q153/q183
  * convention, same documented ULP-boundary hazard), so
  * h_micro = q(N) − (Σ c·q(c)) DIV N is an exact integer and evenness
  * is an exact ppm floor division — both DIVs in the nonnegative
  * domain where Spark DIV ≡ DuckDB //.
  *
  * Scale shape: ONE (source, word) map-side-combined count shuffle —
  * the q149/q183 corpus price — then a |sources|-key fold of
  * integer terms; nothing after the first aggregate scales with the
  * corpus. Σ c·q(c) stays in int64 to ~4·10¹¹ tokens per source
  * (c·q(c) ≤ c·ln(c)·10⁶); past that the same terms pre-aggregate
  * hierarchically.
  */
object SourceEntropy extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_source_entropy" -> ((s, d) => {
      def q(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")) * 1e6, 0).cast("long")
      Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("c") * q(col("c"))).as("h_num"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          when(col("n_tokens") === 0L, 0L)
            .otherwise(q(col("n_tokens")) - expr("h_num DIV n_tokens"))
            .as("h_micro"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("h_micro"),
          when(col("n_types") <= 1L, 0L)
            .otherwise(expr(
              s"h_micro * 1000000 DIV CAST(ROUND(LN(CAST(n_types AS DOUBLE)) * 1e6) AS BIGINT)"))
            .as("evenness_ppm"))
        .orderBy("source")
    }))

  val oracleSql: Map[String, String] = Map(
    "q190_source_entropy" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, UNNEST(string_split_regex(trim(text), '\s+')) AS t
        |        FROM documents)
        |  GROUP BY source, t
        |), per_source AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(*) AS BIGINT) AS n_types,
        |         CAST(SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
        |           AS h_num
        |  FROM counts GROUP BY source
        |), ent AS (
        |  SELECT source, n_tokens, n_types,
        |         CASE WHEN n_tokens = 0 THEN 0
        |              ELSE CAST(ROUND(LN(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        |                   - h_num // n_tokens END AS h_micro
        |  FROM per_source
        |)
        |SELECT source, n_tokens, n_types, h_micro,
        |       CASE WHEN n_types <= 1 THEN 0
        |            ELSE h_micro * 1000000
        |                 // CAST(ROUND(LN(CAST(n_types AS DOUBLE)) * 1e6) AS BIGINT)
        |       END AS evenness_ppm
        |FROM ent
        |ORDER BY source""".stripMargin)
}
