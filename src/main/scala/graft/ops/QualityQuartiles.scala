package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.qualityScore

/** Exact per-source quality quartiles — the stratum-grain EXACT twin
  * of the approximate-quantile family (q51 corpus-wide sketch, q98
  * decile sketch, both rows-only): min/Q1/median/Q3/max/IQR of the
  * micro-quantized quality score per source, the spread table a
  * threshold choice (q181 picks the cut) reads per stratum — a
  * source whose IQR collapses is uniform mass (one verdict covers
  * it); one straddling the cut needs document-level filtering, not a
  * source-level decision.
  *
  * Determinism: quality quantizes to micro-units FIRST (the q184
  * rule); quartiles use the LOWER-rank convention — the value at
  * 0-based rank (n−1)·k DIV 4 of the (value, doc count) multiset —
  * so every output is an element of the data, no interpolation
  * arithmetic, and ties cannot flip anything (equal values are equal
  * whichever tie wins the rank). Integer DIVs on nonnegative ranks.
  *
  * Scale shape: one narrow per-doc score pass; the rank is a window
  * PARTITIONED by source (per-stratum sort, the shape a 100 TB
  * engine runs as a per-key sort-based aggregate — never global);
  * rank targets join back at |sources| size and the pick collapses
  * in one conditional aggregate.
  */
object QualityQuartiles extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q199_quality_quartiles" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
      val ranked = scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("qm"), col("doc_id")))
          .cast("long") - 1L)
      val sizes = scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
      ranked.join(sizes, Seq("source"))
        .groupBy("source")
        .agg(first(col("n_docs")).as("n_docs"),
          min(col("qm")).as("q_min"),
          max(when(col("rn") === expr("(n_docs - 1) * 1 DIV 4"), col("qm"))).as("q1"),
          max(when(col("rn") === expr("(n_docs - 1) * 2 DIV 4"), col("qm"))).as("q2"),
          max(when(col("rn") === expr("(n_docs - 1) * 3 DIV 4"), col("qm"))).as("q3"),
          max(col("qm")).as("q_max"))
        .withColumn("iqr", col("q3") - col("q1"))
        .orderBy("source")
    }))

  val oracleSql: Map[String, String] = Map(
    "q199_quality_quartiles" ->
      s"""WITH scored AS MATERIALIZED (
         |  SELECT source, doc_id,
         |         CAST(ROUND((${TextAnalysis.QualitySql}) * 1e6) AS BIGINT) AS qm
         |  FROM (SELECT source, doc_id, text,
         |          string_split_regex(trim(text), '\\s+') AS w
         |        FROM documents)
         |), ranked AS (
         |  SELECT source, qm,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY qm, doc_id) - 1 AS rn,
         |         COUNT(*) OVER (PARTITION BY source) AS n_docs
         |  FROM scored
         |)
         |SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
         |       CAST(MIN(qm) AS BIGINT) AS q_min,
         |       CAST(MAX(CASE WHEN rn = (n_docs - 1) * 1 // 4 THEN qm END) AS BIGINT) AS q1,
         |       CAST(MAX(CASE WHEN rn = (n_docs - 1) * 2 // 4 THEN qm END) AS BIGINT) AS q2,
         |       CAST(MAX(CASE WHEN rn = (n_docs - 1) * 3 // 4 THEN qm END) AS BIGINT) AS q3,
         |       CAST(MAX(qm) AS BIGINT) AS q_max,
         |       CAST(MAX(CASE WHEN rn = (n_docs - 1) * 3 // 4 THEN qm END) AS BIGINT)
         |         - CAST(MAX(CASE WHEN rn = (n_docs - 1) * 1 // 4 THEN qm END) AS BIGINT) AS iqr
         |FROM ranked
         |GROUP BY source
         |ORDER BY source""".stripMargin)
}
