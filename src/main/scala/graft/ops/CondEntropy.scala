package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.ngrams

/** Per-source bigram CONDITIONAL entropy H(next | current) — the
  * predictability leg of the composition profile: q190 says how
  * evenly a source spreads its vocabulary; this says how templated
  * its SEQUENCES are. H(X₂|X₁) = H(joint) − H(first), both computed
  * EXACTLY from the same bigram count table (first-position counts
  * are the bigram table folded over its second word — no separate
  * unigram pass, and no end-of-doc mismatch between the two terms).
  * Near-zero conditional entropy = deterministic continuations
  * (boilerplate, templates, key-value dumps) — text that q190 alone
  * can score as diverse; it is also the per-source floor on what a
  * q134-style LM can achieve there.
  *
  * Determinism: counts exact; per-ln micro-nat quantization (the
  * q190/q153 convention); both entropies are q(N) − Σc·q(c) DIV N
  * with nonnegative DIVs (DIV ≡ //); their difference is exact
  * integer subtraction (can dip a few micro-nats negative only via
  * quantization on a perfectly-deterministic source — the spec pins
  * the exact-0 case).
  *
  * Scale shape: ONE bigram explosion into a (source, first-digest,
  * gram-digest) map-side-combined count shuffle (digests only — the
  * q66 rule, no gram text in any exchange); the first-position
  * counts fold the SAME table by its first-digest key; then two
  * |sources|-key integer folds joined at catalog size.
  */
object CondEntropy extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_source_cond_entropy" -> ((s, d) => {
      def q(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")) * 1e6, 0).cast("long")
      val bi = Tables.documents(s, d)
        .select(col("source"), explode(ngrams(col("text"), 2)).as("g"))
        .select(col("source"),
          md5(substring_index(col("g"), " ", 1).cast("binary")).as("g1"),
          md5(col("g").cast("binary")).as("gg"))
        .groupBy("source", "g1", "gg").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val joint = bi.groupBy("source")
        .agg(sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_bigram_types"),
          sum(col("c") * q(col("c"))).as("hj_num"))
      val first = bi.groupBy("source", "g1").agg(sum(col("c")).as("c1"))
        .groupBy("source")
        .agg(sum(col("c1") * q(col("c1"))).as("hf_num"))
      joint.join(first, Seq("source"))
        .select(col("source"), col("n_bigrams"), col("n_bigram_types"),
          (q(col("n_bigrams")) - expr("hj_num DIV n_bigrams")).as("h_joint_micro"),
          (q(col("n_bigrams")) - expr("hf_num DIV n_bigrams")).as("h_first_micro"))
        .withColumn("cond_h_micro", col("h_joint_micro") - col("h_first_micro"))
        .orderBy("source")
    }))

  val oracleSql: Map[String, String] = Map(
    "q196_source_cond_entropy" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), bi AS MATERIALIZED (
        |  SELECT source, md5(split_part(g, ' ', 1)) AS g1, md5(g) AS gg,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, UNNEST(CASE WHEN len(w) >= 2
        |          THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
        |          ELSE [] END) AS g
        |        FROM toks)
        |  GROUP BY 1, 2, 3
        |), joint AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |         CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
        |         CAST(SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
        |           AS hj_num
        |  FROM bi GROUP BY source
        |), firsts AS (
        |  SELECT source,
        |         CAST(SUM(c1 * CAST(ROUND(LN(CAST(c1 AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
        |           AS hf_num
        |  FROM (SELECT source, g1, CAST(SUM(c) AS BIGINT) AS c1
        |        FROM bi GROUP BY source, g1)
        |  GROUP BY source
        |), ent AS (
        |  SELECT source, n_bigrams, n_bigram_types,
        |         CAST(ROUND(LN(CAST(n_bigrams AS DOUBLE)) * 1e6) AS BIGINT)
        |           - hj_num // n_bigrams AS h_joint_micro,
        |         CAST(ROUND(LN(CAST(n_bigrams AS DOUBLE)) * 1e6) AS BIGINT)
        |           - hf_num // n_bigrams AS h_first_micro
        |  FROM joint JOIN firsts USING (source)
        |)
        |SELECT source, n_bigrams, n_bigram_types, h_joint_micro, h_first_micro,
        |       h_joint_micro - h_first_micro AS cond_h_micro
        |FROM ent
        |ORDER BY source""".stripMargin)
}
