package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Vocabulary-coverage / OOV-rate curve — the vocab-size tradeoff a
  * tokenizer evaluation publishes BEFORE a training run commits to a
  * vocabulary size: for each power-of-two cutoff k, how many token
  * OCCURRENCES the top-k word types (by corpus frequency) cover, and
  * the out-of-vocabulary rate a k-entry word vocab would pay. The
  * Zipf shape makes the curve's knee the published number (BPE/unigram
  * exist precisely because the word-level curve flattens); this report
  * is the word-grain baseline those tokenizers (q135/q156/q161) are
  * judged against, next to fertility (q159) which evaluates a tokenizer
  * AFTER training.
  *
  * Determinism: frequencies are exact counts; the type order is the
  * total order (f desc, word asc); bucket membership is integer
  * bit-length arithmetic (`length(bin(rank-1))` = ceil(log2 rank) —
  * identical string semantics in Spark and DuckDB, no float log2 whose
  * near-integer rounding could flip a bucket); coverage sums and the
  * ppm rate are integer ops — bit-stable, fully oracle-replayed.
  *
  * Scale shape: the corpus pays ONE tokenize + (word) groupBy (the
  * q149/q164 price). The type table — hundreds of millions of rows at
  * web scale, NOT broadcastable — is ranked by the q176 two-phase
  * global rank (range exchange + per-partition windows + a ≤32-long
  * collected offset model; never a single-partition window), then
  * collapses to ≤64 bit-length buckets; the two cumulative windows run
  * over that bounded frame (the q173 dim-frame argument, allowlisted
  * in PlanSpec's unpartitioned-window sweep).
  */
object VocabCoverage extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q177_vocab_coverage" -> ((s, d) => {
      val types = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("f"))
      // 0-based rn from the two-phase rank; 1-based rank r = rn + 1.
      // Type at rank r first enters the vocab at cutoff 2^j with
      // j = ceil(log2 r) = bit_length(r - 1) = length(bin(rn)), j=0 at r=1.
      val bucketed = BatchPlan
        .withGlobalRank(types, Seq(col("f").desc, col("word").asc))
        .withColumn("j", when(col("rn") === 0L, lit(0))
          .otherwise(length(bin(col("rn")))).cast("int"))
        .groupBy("j")
        .agg(count(lit(1)).as("nt"), sum(col("f")).as("ff"))
      val cum = Window.orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      bucketed
        .withColumn("types_covered", sum(col("nt")).over(cum))
        .withColumn("tokens_covered", sum(col("ff")).over(cum))
        .withColumn("total_tokens", sum(col("ff")).over(all))
        .select(
          expr("shiftleft(CAST(1 AS BIGINT), j)").as("vocab_cutoff"),
          col("types_covered"), col("tokens_covered"),
          (col("total_tokens") - col("tokens_covered")).as("oov_tokens"),
          expr("(total_tokens - tokens_covered) * 1000000 DIV total_tokens")
            .as("oov_ppm"))
        .orderBy("vocab_cutoff")
    }))

  val oracleSql: Map[String, String] = Map(
    "q177_vocab_coverage" ->
      """WITH types AS MATERIALIZED (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |        FROM documents)
        |  GROUP BY word
        |), ranked AS (
        |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, word) AS r FROM types
        |), bucketed AS (
        |  SELECT CASE WHEN r = 1 THEN 0 ELSE CAST(length(bin(r - 1)) AS INT) END AS j,
        |         CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(f) AS BIGINT) AS ff
        |  FROM ranked GROUP BY 1
        |)
        |SELECT CAST(CAST(1 AS BIGINT) << j AS BIGINT) AS vocab_cutoff,
        |       CAST(SUM(nt) OVER (ORDER BY j) AS BIGINT) AS types_covered,
        |       CAST(SUM(ff) OVER (ORDER BY j) AS BIGINT) AS tokens_covered,
        |       CAST(SUM(ff) OVER () AS BIGINT)
        |         - CAST(SUM(ff) OVER (ORDER BY j) AS BIGINT) AS oov_tokens,
        |       (CAST(SUM(ff) OVER () AS BIGINT)
        |         - CAST(SUM(ff) OVER (ORDER BY j) AS BIGINT)) * 1000000
        |         // CAST(SUM(ff) OVER () AS BIGINT) AS oov_ppm
        |FROM bucketed ORDER BY vocab_cutoff""".stripMargin)
}
