package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{qualityScore, tokens}

/** Quality-filter threshold sweep — the threshold-selection curve a
  * pipeline team reads before committing a quality cut: for every
  * candidate threshold t ∈ {0.1 … 0.9}, how many documents and how
  * much token mass `qualityScore < t` would drop, absolute and ppm.
  * q22 scores documents and buckets them at two FIXED thresholds;
  * this is the full curve those thresholds should have been read off
  * (the q177 move — a curve instead of a point — applied to the
  * quality filter).
  *
  * Determinism: the quality double is the SHARED q22 formula (fixed
  * evaluation order, oracle-hash-proven bit-identical cross-engine),
  * and each doc is assigned a decile bucket floor(q·10) ONCE — the
  * only float comparison. A quality within 1 ULP of a 0.1 boundary
  * could flip its bucket only if the engines' doubles differed, which
  * the shared formula rules out (the q154-class hazard note). All
  * counts, cumulative sums, and ppm rates after bucketing are exact
  * integers.
  *
  * Scale shape: one narrow corpus pass (quality + token count per
  * doc, no shuffled text), one ≤10-key map-side-combined bucket
  * aggregate, and cumulative windows over a 10-row literal-spined
  * frame (PlanSpec-allowlisted bounded frame, the q173/q177
  * convention). Nothing downstream of the bucket aggregate scales
  * with the corpus.
  */
object QualitySweep extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q181_quality_threshold_sweep" -> ((s, d) => {
      import s.implicits._
      val bucketed = Tables.documents(s, d)
        .select(qualityScore(col("text")).as("q"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .withColumn("b", least(floor(col("q") * 10).cast("int"), lit(9)))
        .groupBy("b").agg(count(lit(1)).as("nd"), sum(col("nt")).as("toks"))
      // literal spine: empty deciles must contribute 0 to the
      // cumulative sums, not drop threshold rows
      val spine = (0 to 9).toDF("b")
      val below = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val all = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      spine.join(bucketed, Seq("b"), "left")
        .na.fill(0L, Seq("nd", "toks"))
        .withColumn("docs_dropped", coalesce(sum(col("nd")).over(below), lit(0L)))
        .withColumn("tokens_dropped", coalesce(sum(col("toks")).over(below), lit(0L)))
        .withColumn("total_docs", sum(col("nd")).over(all))
        .withColumn("total_tokens", sum(col("toks")).over(all))
        .filter(col("b") >= 1)
        .select((col("b") * 10).as("threshold_pct"),
          col("docs_dropped"), col("tokens_dropped"),
          expr("CASE WHEN total_docs = 0 THEN 0" +
            " ELSE docs_dropped * 1000000 DIV total_docs END").as("docs_ppm"),
          expr("CASE WHEN total_tokens = 0 THEN 0" +
            " ELSE tokens_dropped * 1000000 DIV total_tokens END").as("tokens_ppm"))
        .orderBy("threshold_pct")
    }))

  val oracleSql: Map[String, String] = Map(
    "q181_quality_threshold_sweep" ->
      s"""WITH scored AS MATERIALIZED (
         |  SELECT ${TextAnalysis.QualitySql} AS q,
         |         CAST(len(w) AS BIGINT) AS nt
         |  FROM (SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents)
         |), bucketed AS (
         |  SELECT LEAST(CAST(FLOOR(q * 10) AS INT), 9) AS b,
         |         CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(nt) AS BIGINT) AS toks
         |  FROM scored GROUP BY 1
         |), spined AS (
         |  SELECT CAST(s.b AS INT) AS b, COALESCE(k.nd, 0) AS nd, COALESCE(k.toks, 0) AS toks
         |  FROM (SELECT UNNEST(range(0, 10)) AS b) s
         |  LEFT JOIN bucketed k ON k.b = s.b
         |), cum AS (
         |  SELECT b,
         |         CAST(COALESCE(SUM(nd) OVER (ORDER BY b
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |           AS docs_dropped,
         |         CAST(COALESCE(SUM(toks) OVER (ORDER BY b
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |           AS tokens_dropped,
         |         CAST(SUM(nd) OVER () AS BIGINT) AS total_docs,
         |         CAST(SUM(toks) OVER () AS BIGINT) AS total_tokens
         |  FROM spined
         |)
         |SELECT b * 10 AS threshold_pct, docs_dropped, tokens_dropped,
         |       CASE WHEN total_docs = 0 THEN 0
         |            ELSE docs_dropped * 1000000 // total_docs END AS docs_ppm,
         |       CASE WHEN total_tokens = 0 THEN 0
         |            ELSE tokens_dropped * 1000000 // total_tokens END AS tokens_ppm
         |FROM cum WHERE b >= 1
         |ORDER BY threshold_pct""".stripMargin)
}
