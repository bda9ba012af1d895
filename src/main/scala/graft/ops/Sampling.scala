package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic sampling/splitting for training-data pipelines: hash
  * the stable document id, never `rand()`. A hash split is (a)
  * reproducible run-over-run and cluster-over-cluster, (b) stable under
  * re-partitioning and retries (a `rand()` split re-rolls every task
  * retry), and (c) embarrassingly parallel — a narrow per-row filter
  * with no shuffle, the only split mechanism that survives 100 TB.
  * md5 (not xxhash64) so the assignment is portable SQL and the oracle
  * can replay it bit-for-bit.
  */
object Sampling extends graft.QueryModule {

  /** Max passes over any single source in the q114 mixing plan (the
    * standard "small sources repeat, but never more than a few epochs"
    * curation rule). */
  val MaxEpochs = 4L

  /** First `n` hex chars of md5 of the row id — uniform in [0, 16^n),
    * compared lexicographically (fixed-length lowercase hex, so string
    * order IS numeric order).
    */
  private[graft] def hexPrefix(id: Column, n: Int): Column =
    substring(md5(id.cast("string").cast("binary")), 1, n)

  /** THE split rule — q54's assignment, shared by every query that
    * composes with the split (q66's decontamination target, q100's
    * manifest) so a retuned rule can never diverge between them:
    * 12/16 train, 2/16 validation, 2/16 test on the first md5 hex char.
    */
  private[graft] def splitOf(id: Column): Column = {
    val h = hexPrefix(id, 1)
    when(h.isin("c", "d"), "validation")
      .when(h.isin("e", "f"), "test")
      .otherwise("train")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // train/validation/test split on the first md5 hex char of doc_id:
    // 12/16 train, 2/16 validation, 2/16 test. Per-(split, lang) counts
    // prove the split is language-independent (hash uniformity), the
    // aggregate is 3 x |langs| rows — the only shuffle is tiny.
    "q54_train_split" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("split", splitOf(col("doc_id")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("split", "lang")
    }),

    // temperature-based source mixing (multinomial α = 0.5): per-source
    // keep rate sqrt(min_count / n_s) flattens the source distribution
    // toward the smallest source — the rebalancing step a multi-source
    // training mix runs before packing. The rates derive FROM the data
    // (one tiny aggregate, broadcast back); each doc's fate is then the
    // same narrow md5-threshold filter as q55, with the double rate
    // quantized to a 4-hex cutoff. Deterministic cross-engine: sqrt and
    // the division are IEEE correctly-rounded, floor/format are exact,
    // and the reported counts are integers.
    "q78_source_mixing" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
      val minN = counts.agg(min(col("n_before")).as("min_n"))
      val cuts = counts.crossJoin(broadcast(minN))
        .withColumn("rate", sqrt(col("min_n").cast("double") / col("n_before")))
        .withColumn("cut",
          when(floor(col("rate") * 65536.0) >= 65536L, lit("zzzz"))
            .otherwise(format_string("%04x",
              floor(col("rate") * 65536.0).cast("int"))))
      val kept = docs.join(broadcast(cuts.select("source", "cut")), Seq("source"))
        .filter(hexPrefix(col("doc_id"), 4) < col("cut"))
        .groupBy("source").agg(count(lit(1)).as("n_after"))
      cuts.select("source", "n_before", "rate")
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          round(col("rate"), 6).as("rate_r"))
        .orderBy("source")
    }),

    // stratified downsample: per-language hash-threshold filter that
    // rebalances the corpus mix — keep ~6% of the dominant language
    // (en), ~50% of everything else. Pure narrow filter (zero shuffle
    // beyond the presentation sort): each row's fate depends only on
    // its own bytes, so the plan is a scan + filter at any scale.
    "q55_stratified_sample" -> ((s, d) => {
      val cutoff = when(col("lang") === "en", "1000").otherwise("8000")
      Tables.documents(s, d)
        .filter(hexPrefix(col("doc_id"), 4) < cutoff)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // token-budget mixture planning (q78's sibling for the UP-weighting
    // direction): given a training budget of half the corpus, allocate
    // per-source token quotas by temperature weights w_s = isqrt(T_s)
    // (α = 0.5), then turn each quota into an epoch count capped at
    // MaxEpochs — the LLaMA-style "how many passes over each source"
    // plan. ENTIRELY integer arithmetic: weights are floor(sqrt) of
    // bigints (cast→sqrt→floor is correctly rounded in both engines,
    // so the integers agree), the quota split is the overflow-safe
    // decomposition w*(B/W) + w*(B%B mod W)/W — exact floor(B*w/W)
    // without ever forming B*w (which would wrap at corpus scale:
    // B ~ 2^44 tokens × w ~ 2^21 exceeds int64) — and epoch ceils are
    // (a + b - 1) div b. One tiny per-source aggregate + a 1-row
    // broadcast; every output value hash-compares exactly.
    "q114_token_budget_plan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = least(ceil(coalesce(col("n_chars"), lit(0L)).cast("double") / 4.0),
        lit(2048L)).cast("long")
      val perSource = docs.groupBy("source").agg(sum(tok).as("t_s"))
        .withColumn("w", floor(sqrt(col("t_s").cast("double"))).cast("long"))
      val totals = perSource.agg(
        sum(col("t_s")).cast("long").as("t_total"),
        sum(col("w")).cast("long").as("w_total"))
        .withColumn("budget", expr("t_total div 2"))
      perSource.crossJoin(broadcast(totals))
        .withColumn("alloc_tokens",
          expr("w * (budget div w_total) + (w * (budget % w_total)) div w_total"))
        .withColumn("epochs_raw",
          when(col("t_s") === 0, 0L)
            .otherwise(expr("(alloc_tokens + t_s - 1) div t_s")))
        .select(col("source"), col("t_s").as("tokens_avail"), col("w"),
          col("alloc_tokens"),
          least(col("epochs_raw"), lit(MaxEpochs)).as("epochs"),
          (col("epochs_raw") > MaxEpochs).as("capped"),
          least(col("alloc_tokens"), col("t_s") * MaxEpochs).as("final_tokens"))
        .orderBy("source")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q54_train_split" ->
      """SELECT split, lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM (
        |  SELECT lang, n_chars,
        |         CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('c','d') THEN 'validation'
        |              WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('e','f') THEN 'test'
        |              ELSE 'train' END AS split
        |  FROM documents
        |)
        |GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin,

    "q78_source_mixing" ->
      """WITH counts AS (
        |  SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
        |), m AS (
        |  SELECT MIN(n_before) AS min_n FROM counts
        |), cuts AS (
        |  SELECT source, n_before,
        |         sqrt(CAST(min_n AS DOUBLE) / n_before) AS rate,
        |         CASE WHEN floor(sqrt(CAST(min_n AS DOUBLE) / n_before) * 65536.0) >= 65536
        |              THEN 'zzzz'
        |              ELSE printf('%04x', CAST(floor(sqrt(CAST(min_n AS DOUBLE) / n_before) * 65536.0) AS INTEGER))
        |              END AS cut
        |  FROM counts, m
        |), kept AS (
        |  SELECT d.source, COUNT(*) AS n_after
        |  FROM documents d JOIN cuts c USING (source)
        |  WHERE substr(md5(d.doc_id::VARCHAR), 1, 4) < c.cut
        |  GROUP BY d.source
        |)
        |SELECT c.source, c.n_before, COALESCE(k.n_after, 0) AS n_after,
        |       ROUND(c.rate, 6) AS rate_r
        |FROM cuts c LEFT JOIN kept k USING (source)
        |ORDER BY c.source""".stripMargin,

    "q55_stratified_sample" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 4)
        |      < CASE WHEN lang = 'en' THEN '1000' ELSE '8000' END
        |ORDER BY doc_id""".stripMargin,

    "q114_token_budget_plan" ->
      """WITH per_source AS (
        |  SELECT source,
        |         CAST(SUM(CAST(LEAST(CEIL(CAST(COALESCE(n_chars, 0) AS DOUBLE) / 4.0), 2048) AS BIGINT)) AS BIGINT) AS t_s
        |  FROM documents GROUP BY source
        |), weighted AS (
        |  SELECT source, t_s,
        |         CAST(FLOOR(SQRT(CAST(t_s AS DOUBLE))) AS BIGINT) AS w
        |  FROM per_source
        |), totals AS (
        |  SELECT CAST(SUM(t_s) AS BIGINT) // 2 AS budget,
        |         CAST(SUM(w) AS BIGINT) AS w_total
        |  FROM weighted
        |), planned AS (
        |  SELECT source, t_s, w,
        |         w * (budget // w_total) + (w * (budget % w_total)) // w_total AS alloc_tokens
        |  FROM weighted, totals
        |), epochs AS (
        |  SELECT source, t_s, w, alloc_tokens,
        |         CASE WHEN t_s = 0 THEN 0
        |              ELSE (alloc_tokens + t_s - 1) // t_s END AS epochs_raw
        |  FROM planned
        |)
        |SELECT source, t_s AS tokens_avail, w, alloc_tokens,
        |       LEAST(epochs_raw, 4) AS epochs,
        |       epochs_raw > 4 AS capped,
        |       LEAST(alloc_tokens, t_s * 4) AS final_tokens
        |FROM epochs
        |ORDER BY source""".stripMargin
  )
}
