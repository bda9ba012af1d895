package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{ngrams, tokens}

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023),
  * the standard "make the web corpus look like the target domain"
  * selection step pretraining pipelines run before training: featurize
  * every document into hashed n-gram buckets, fit two smoothed bucket
  * unigram models (target domain vs raw pool), and score each raw
  * document by its importance log-weight Σ_b f_b·(ln p̂_b − ln q̂_b).
  * The reference lakehouse has no selection machinery at all; this
  * completes the quality-filtering family next to the classifier
  * (q153 discriminates sources, DSIR re-weights toward one).
  *
  * Determinism contract (the q153 discipline): bucket log-ratios
  * quantize to integer micro-nats at the model edge — ln of integer-
  * derived rationals, one per bucket — so every document score is an
  * exact integer Σ c_b·λ_b, stable under any summation order, and the
  * DuckDB oracle replays featurization, both models, and the selection
  * bit-for-bit. Selection is deterministic top-[[SelectK]] by
  * (score desc, doc_id): the paper resamples with Gumbel noise to
  * avoid near-duplicate pile-up; the noise is orthogonal to the engine
  * shape (add a hash-derived Gumbel column the way q54 derives splits)
  * and dedup runs as its own pipeline stage here (q25/q26/q151).
  *
  * Scale shape: ONE corpus tokenize feeding a (doc, bucket) count
  * aggregate (map-side combined — the feature space collapses to
  * ≤ [[Buckets]] per doc before any exchange); the model is a
  * [[Buckets]]-row broadcast (10k–100k buckets at web scale, still
  * broadcast-sized — the paper ships 10k); scoring is one broadcast
  * join + per-doc sum; selection is TakeOrdered, never a global sort
  * or window. The md5 bucket hash is per distinct TOKEN occurrence
  * (not per character position — the q155 lesson does not apply at
  * token granularity, but a polynomial hash is the same swap if
  * profiling ever flags it).
  */
object Dsir extends graft.QueryModule {

  /** Hashed feature buckets (unigrams + bigrams share the space, as in
    * the paper). 64 keeps the oracle's model CTE readable; web scale
    * uses 10k+ — the plan shape is bucket-count-independent.
    */
  private[graft] val Buckets = 64

  /** The target-domain proxy: docs from this source are "what we want
    * more of"; every other source is the raw pool being scored.
    */
  private[graft] val TargetSource = "src0"

  /** Raw docs kept (top importance weights). */
  private[graft] val SelectK = 50

  private val Grain = 1000000L

  /** Corpus importance scores, built ONCE per (session, dir): q157 and
    * q160 consume the identical (doc_id, source, dsir_score) frame, and
    * before r17 each of them rebuilt the full feature-hash + bucket-
    * model pipeline per invocation (2× per bench pass × 3 runs). At
    * 100 TB the DSIR score table IS a stored artifact (the paper's
    * pipeline materializes importance weights once, then selects and
    * resamples from them) — FrameMemo is its in-session analog, and
    * Bench's shared pre-build prices the one build honestly.
    */
  private[graft] def importanceScores(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "dsirScores") {
      importanceScoresOn(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text")))
    }

  /** q157: select the [[SelectK]] raw documents whose hashed-n-gram
    * profile is most target-like (deterministic top-k).
    */
  def importanceSelect(s: SparkSession, d: String): DataFrame =
    selectTop(importanceScores(s, d))

  private def selectTop(scores: DataFrame): DataFrame =
    scores.orderBy(col("dsir_score").desc, col("doc_id")).limit(SelectK)

  private[graft] def importanceSelectOn(docs: DataFrame): DataFrame =
    selectTop(importanceScoresOn(docs))

  /** q160: the paper's actual RESAMPLING — Gumbel-top-k over the same
    * importance weights, so selection is ∝ w (a doc twice as
    * target-like is twice as likely in) instead of a hard argmax that
    * piles up near-duplicates of the single most target-like shard.
    * The Gumbel noise is HASH-DERIVED (u from md5 of the doc id, the
    * q54 split-derivation move), so the "randomness" is deterministic,
    * retry-stable, and DuckDB-replayable: u = (h mod 2^20 + 0.5)/2^20,
    * g = −ln(−ln u), key = score + round(10⁶·g) — the 10⁶ matches the
    * score's micro-nat grain, so key-desc sampling is exp(score/10⁶)
    * = w proportional, and the key is an exact integer SUM.
    */
  def gumbelResample(s: SparkSession, d: String): DataFrame = {
    val u = (pmod(conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L << 20))
      .cast("double") + 0.5) / (1L << 20).toDouble
    importanceScores(s, d)
      .withColumn("gkey",
        col("dsir_score") + round(-log(-log(u)) * Grain, 0).cast("long"))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(SelectK)
  }

  /** Importance scores for every raw-pool doc — the shared core of
    * q157 (argmax) and q160 (Gumbel resampling); exposed for the
    * spec's hand-computed fixture (the classifierOn pattern).
    */
  private[graft] def importanceScoresOn(docs: DataFrame): DataFrame = {
    // unigram + bigram features, hashed to buckets. 8 hex chars of md5
    // (< 2^32) so conv() stays exact in int64 in both engines.
    val feats = docs
      .select(col("doc_id"), col("source"),
        explode(concat(tokens(col("text")), ngrams(col("text"), 2))).as("t"))
      .select(col("doc_id"), col("source"),
        pmod(conv(substring(md5(col("t").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(Buckets.toLong)).as("b"))
    val cnt = feats.groupBy("doc_id", "source", "b").agg(count(lit(1)).as("c"))
    // model state: two corpus-total scalars + one Buckets-row frame
    val totRow = cnt.agg(
      sum(when(col("source") === TargetSource, col("c"))).as("pt"),
      sum(when(col("source") =!= TargetSource, col("c"))).as("qt")).head()
    val (pTot, qTot) = (totRow.getLong(0), totRow.getLong(1))
    val tgt = cnt.filter(col("source") === TargetSource)
      .groupBy("b").agg(sum("c").as("cp"))
    val raw = cnt.filter(col("source") =!= TargetSource)
      .groupBy("b").agg(sum("c").as("cq"))
    val lam = docs.sparkSession.range(Buckets).toDF("b")
      .join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
      .na.fill(0L, Seq("cp", "cq"))
      .select(col("b"),
        round((log((col("cp") + 1).cast("double") / (pTot + Buckets).toDouble)
          - log((col("cq") + 1).cast("double") / (qTot + Buckets).toDouble))
          * Grain, 0).cast("long").as("lam"))
    cnt.filter(col("source") =!= TargetSource)
      .join(broadcast(lam), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(sum(col("c") * col("lam")).as("dsir_score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q157_dsir_select" -> ((s, d) => importanceSelect(s, d)),
    "q160_dsir_gumbel" -> ((s, d) => gumbelResample(s, d)))

  /** Featurization + models + per-doc scores — the WITH body q157 and
    * q160 share verbatim (ends with the `score` CTE).
    */
  private def scoreCtes: String =
      s"""WITH words AS MATERIALIZED (
         |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
         |  FROM documents
         |), feats AS MATERIALIZED (
         |  SELECT doc_id, source,
         |         CAST(CAST('0x' || substr(md5(t), 1, 8) AS UBIGINT)
         |              % $Buckets AS BIGINT) AS b
         |  FROM (
         |    SELECT doc_id, source, unnest(ws) AS t FROM words
         |    UNION ALL
         |    SELECT doc_id, source, ws[i] || ' ' || ws[i + 1] AS t
         |    FROM (SELECT doc_id, source, ws,
         |                 unnest(range(1, len(ws))) AS i FROM words)
         |  )
         |), cnt AS MATERIALIZED (
         |  SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM feats GROUP BY doc_id, source, b
         |), tot AS (
         |  SELECT CAST(SUM(CASE WHEN source = '$TargetSource' THEN c END)
         |              AS DOUBLE) AS pt,
         |         CAST(SUM(CASE WHEN source <> '$TargetSource' THEN c END)
         |              AS DOUBLE) AS qt
         |  FROM cnt
         |), lam AS MATERIALIZED (
         |  SELECT s.b,
         |         CAST(ROUND($Grain * (
         |           LN((COALESCE(p.cp, 0) + 1) / (tot.pt + $Buckets))
         |           - LN((COALESCE(q.cq, 0) + 1) / (tot.qt + $Buckets))))
         |         AS BIGINT) AS lam
         |  FROM (SELECT unnest(range(0, $Buckets)) AS b) s
         |  LEFT JOIN (SELECT b, SUM(c) AS cp FROM cnt
         |             WHERE source = '$TargetSource' GROUP BY b) p USING (b)
         |  LEFT JOIN (SELECT b, SUM(c) AS cq FROM cnt
         |             WHERE source <> '$TargetSource' GROUP BY b) q USING (b)
         |  CROSS JOIN tot
         |), score AS MATERIALIZED (
         |  SELECT doc_id, source, CAST(SUM(c * lam) AS BIGINT) AS dsir_score
         |  FROM cnt JOIN lam USING (b)
         |  WHERE source <> '$TargetSource'
         |  GROUP BY doc_id, source
         |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q157_dsir_select" ->
      s"""$scoreCtes
         |SELECT doc_id, source, dsir_score FROM score
         |ORDER BY dsir_score DESC, doc_id
         |LIMIT $SelectK""".stripMargin,
    // identical score chain + the hash-derived Gumbel key: u from the
    // md5 of the STRINGIFIED doc id (both engines hash the same bytes),
    // g = -ln(-ln u), key in the score's own micro-nat grain
    "q160_dsir_gumbel" ->
      s"""$scoreCtes
         |SELECT doc_id, source, dsir_score,
         |       dsir_score + CAST(ROUND($Grain * (-LN(-LN(
         |         (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |               AS UBIGINT) % ${1L << 20} AS BIGINT) + 0.5)
         |         / ${(1L << 20).toDouble})))) AS BIGINT) AS gkey
         |FROM score
         |ORDER BY gkey DESC, doc_id
         |LIMIT $SelectK""".stripMargin)
}
