package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Heaps'-law vocabulary-growth curve — V(N) at power-of-two document
  * cutoffs in deterministic doc_id order, with the LOCAL Heaps
  * exponent β between successive cutoffs (V ∝ N^β; natural text sits
  * near β ≈ 0.4–0.6): the growth read a tokenizer sizing (q177 picks
  * a cutoff on TODAY'S corpus; this says how fast that choice decays
  * as the corpus grows) and a dedup health check share — β staying
  * near 1 means novelty never saturates (OCR noise / random junk),
  * β collapsing toward 0 means the tail is repetition the dedup
  * family should have caught.
  *
  * Determinism: a word's entry point is its FIRST document (min
  * doc_id), mapped to the doc's q176 two-phase global rank; bucket
  * membership is the q177 bit-length idiom (no float log2); token
  * and type counts are exact; β is a ratio of milli-nat ln
  * DIFFERENCES in ppm — per-ln quantization (q153 convention), and
  * every DIV runs on nonnegative diffs (cumulative series are
  * monotone) where Spark DIV ≡ DuckDB //.
  *
  * Scale shape: one tokenize pass feeds a per-doc length aggregate
  * and a (word → min doc_id) map-side-combined first-occurrence
  * shuffle (the q149 corpus price); doc ranks come from the q176
  * range-exchange rank (never a single-partition window); both sides
  * collapse to ≤64 bit-length buckets and the cumulative/lag windows
  * run over that bounded frame (the q177 allowlisted shape).
  */
object HeapsCurve extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q193_heaps_curve" -> ((s, d) => {
      def mln(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")) * 1e3, 0).cast("long")
      def jOf(rn: org.apache.spark.sql.Column) =
        when(rn === 0L, lit(0)).otherwise(length(bin(rn))).cast("int")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("nt"))
      val ranked = BatchPlan.withGlobalRank(docs, Seq(col("doc_id").asc))
        .select(col("doc_id"), col("nt"), col("rn"))
        .localCheckpoint()
      val docBuckets = ranked.groupBy(jOf(col("rn")).as("j"))
        .agg(count(lit(1)).as("nd"), sum(col("nt")).as("tok"))
      val firstDoc = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(min(col("doc_id")).as("doc_id"))
      val wordBuckets = firstDoc
        .join(ranked.select(col("doc_id"), col("rn")), Seq("doc_id"))
        .groupBy(jOf(col("rn")).as("j")).agg(count(lit(1)).as("ty"))
      val cum = Window.orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lagw = Window.orderBy("j")
      docBuckets.join(wordBuckets, Seq("j"), "left")
        .withColumn("ty", coalesce(col("ty"), lit(0L)))
        .withColumn("docs_cum", sum(col("nd")).over(cum))
        .withColumn("tokens_cum", sum(col("tok")).over(cum))
        .withColumn("types_cum", sum(col("ty")).over(cum))
        .withColumn("p_tok", lag(col("tokens_cum"), 1).over(lagw))
        .withColumn("p_ty", lag(col("types_cum"), 1).over(lagw))
        .select(
          expr("shiftleft(CAST(1 AS BIGINT), j)").as("docs_cutoff"),
          col("docs_cum"), col("tokens_cum"), col("types_cum"),
          when(col("p_tok").isNull, 0L)
            .otherwise(expr(
              "CASE WHEN " +
                "CAST(ROUND(LN(CAST(tokens_cum AS DOUBLE)) * 1e3) AS BIGINT)" +
                " - CAST(ROUND(LN(CAST(p_tok AS DOUBLE)) * 1e3) AS BIGINT) = 0 THEN 0" +
                " ELSE (CAST(ROUND(LN(CAST(types_cum AS DOUBLE)) * 1e3) AS BIGINT)" +
                " - CAST(ROUND(LN(CAST(p_ty AS DOUBLE)) * 1e3) AS BIGINT)) * 1000000" +
                " DIV (CAST(ROUND(LN(CAST(tokens_cum AS DOUBLE)) * 1e3) AS BIGINT)" +
                " - CAST(ROUND(LN(CAST(p_tok AS DOUBLE)) * 1e3) AS BIGINT)) END"))
            .as("beta_ppm"))
        .orderBy("docs_cutoff")
    }))

  val oracleSql: Map[String, String] = Map(
    "q193_heaps_curve" ->
      """WITH ranked AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt,
        |         ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
        |  FROM documents
        |), docb AS (
        |  SELECT CASE WHEN rn = 0 THEN 0 ELSE CAST(length(bin(rn)) AS INT) END AS j,
        |         CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(nt) AS BIGINT) AS tok
        |  FROM ranked GROUP BY 1
        |), firstdoc AS (
        |  SELECT w, MIN(doc_id) AS doc_id
        |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY w
        |), wordb AS (
        |  SELECT CASE WHEN r.rn = 0 THEN 0 ELSE CAST(length(bin(r.rn)) AS INT) END AS j,
        |         CAST(COUNT(*) AS BIGINT) AS ty
        |  FROM firstdoc f JOIN ranked r USING (doc_id) GROUP BY 1
        |), cums AS (
        |  SELECT j,
        |         CAST(SUM(nd) OVER (ORDER BY j) AS BIGINT) AS docs_cum,
        |         CAST(SUM(tok) OVER (ORDER BY j) AS BIGINT) AS tokens_cum,
        |         CAST(SUM(ty) OVER (ORDER BY j) AS BIGINT) AS types_cum
        |  FROM (SELECT d.j, d.nd, d.tok, COALESCE(w.ty, 0) AS ty
        |        FROM docb d LEFT JOIN wordb w USING (j))
        |), lagged AS (
        |  SELECT j, docs_cum, tokens_cum, types_cum,
        |         LAG(tokens_cum) OVER (ORDER BY j) AS p_tok,
        |         LAG(types_cum) OVER (ORDER BY j) AS p_ty
        |  FROM cums
        |)
        |SELECT CAST(CAST(1 AS BIGINT) << j AS BIGINT) AS docs_cutoff,
        |       docs_cum, tokens_cum, types_cum,
        |       CASE WHEN p_tok IS NULL THEN 0
        |            WHEN CAST(ROUND(LN(CAST(tokens_cum AS DOUBLE)) * 1e3) AS BIGINT)
        |                 - CAST(ROUND(LN(CAST(p_tok AS DOUBLE)) * 1e3) AS BIGINT) = 0 THEN 0
        |            ELSE (CAST(ROUND(LN(CAST(types_cum AS DOUBLE)) * 1e3) AS BIGINT)
        |                  - CAST(ROUND(LN(CAST(p_ty AS DOUBLE)) * 1e3) AS BIGINT)) * 1000000
        |                 // (CAST(ROUND(LN(CAST(tokens_cum AS DOUBLE)) * 1e3) AS BIGINT)
        |                     - CAST(ROUND(LN(CAST(p_tok AS DOUBLE)) * 1e3) AS BIGINT))
        |       END AS beta_ppm
        |FROM lagged
        |ORDER BY docs_cutoff""".stripMargin)
}
