package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{ngrams, tokens}

/** PMI collocation extraction — the corpus-linguistics report (Church
  * & Hanks 1990) a data team reads to see what multi-word units a
  * corpus actually glues together (named entities, boilerplate
  * phrases, domain jargon): the top bigrams by pointwise mutual
  * information PMI(a,b) = ln(p(ab) / (p(a)·p(b))) with p(ab) over the
  * bigram stream and p(a) over the token stream, min-count-filtered
  * (the standard guard — a hapax pair maximizes raw PMI). q161's
  * WordPiece trainer uses this exact score internally as its merge
  * criterion; this surfaces it as the user-facing analysis.
  *
  * Determinism: counts are exact; each ln runs on an integer-valued
  * double and is micro-nat-quantized SEPARATELY (the q153/q170
  * convention, same documented ULP-boundary hazard gated in
  * RetrievalSpec), so the score is an exact integer sum
  *   pmi_micro = q(c_ab) + 2·q(N_uni) − q(N_bg) − q(c_a) − q(c_b)
  * and the top-k order (pmi desc, gram asc) is bit-stable.
  *
  * Scale shape: one token-count pass and one bigram-count pass (both
  * map-side-combined single shuffles — the q149/q164 corpus price);
  * the two corpus totals are collected scalars (the q134 model edge);
  * the bigram table joins the unigram table twice on the word key —
  * both sides distributed, word types are never broadcast as a whole.
  * The top-k is a TakeOrdered heap over partials, never a global sort.
  */
object Collocations extends graft.QueryModule {

  /** Hapax-pair guard: pairs must occur at least this often. */
  private[graft] val MinCount = 5L

  /** Report size. */
  private[graft] val TopK = 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_pmi_collocations" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val uni = docs.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val bi = docs.select(explode(ngrams(col("text"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= MinCount)
      val nUni = uni.agg(sum(col("c"))).head().getLong(0)
      val nBg = docs.select(explode(ngrams(col("text"), 2)).as("g"))
        .count()
      def q(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")) * 1e6, 0).cast("long")
      bi.withColumn("w1", substring_index(col("g"), " ", 1))
        .withColumn("w2", substring_index(col("g"), " ", -1))
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
        .select(col("g").as("gram"), col("c_ab"), col("c_a"), col("c_b"),
          (q(col("c_ab")) + lit(2L) * q(lit(nUni)) - q(lit(nBg))
            - q(col("c_a")) - q(col("c_b"))).as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("gram"))
        .limit(TopK)
    }))

  val oracleSql: Map[String, String] = Map(
    "q183_pmi_collocations" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
         |), uni AS MATERIALIZED (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT UNNEST(w) AS t FROM toks) GROUP BY t
         |), bi AS MATERIALIZED (
         |  SELECT g, CAST(COUNT(*) AS BIGINT) AS c_ab
         |  FROM (SELECT UNNEST(CASE WHEN len(w) >= 2
         |          THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
         |          ELSE [] END) AS g
         |        FROM toks)
         |  GROUP BY g HAVING COUNT(*) >= $MinCount
         |), totals AS (
         |  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_uni,
         |         (SELECT CAST(COUNT(*) AS BIGINT)
         |          FROM (SELECT UNNEST(CASE WHEN len(w) >= 2
         |                  THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
         |                  ELSE [] END) AS g
         |                FROM toks)) AS n_bg
         |)
         |SELECT b.g AS gram, b.c_ab, ua.c AS c_a, ub.c AS c_b,
         |       CAST(ROUND(LN(CAST(b.c_ab AS DOUBLE)) * 1e6) AS BIGINT)
         |         + 2 * CAST(ROUND(LN(CAST(t.n_uni AS DOUBLE)) * 1e6) AS BIGINT)
         |         - CAST(ROUND(LN(CAST(t.n_bg AS DOUBLE)) * 1e6) AS BIGINT)
         |         - CAST(ROUND(LN(CAST(ua.c AS DOUBLE)) * 1e6) AS BIGINT)
         |         - CAST(ROUND(LN(CAST(ub.c AS DOUBLE)) * 1e6) AS BIGINT) AS pmi_micro
         |FROM bi b
         |JOIN uni ua ON ua.t = split_part(b.g, ' ', 1)
         |JOIN uni ub ON ub.t = split_part(b.g, ' ', 2)
         |CROSS JOIN totals t
         |ORDER BY pmi_micro DESC, gram
         |LIMIT $TopK""".stripMargin)
}
