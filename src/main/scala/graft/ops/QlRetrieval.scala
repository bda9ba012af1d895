package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
  * Lafferty 2001) — the OTHER classic lexical ranking model next to
  * BM25 (q149): score(q,d) = Σ_{t∈q} ln p(t|θ_d) with
  * p(t|θ_d) = (tf + μ·p(t|C)) / (dl + μ), the language-modeling view
  * retrieval courses teach against BM25's heuristic view. Completes the
  * retrieval family: BM25 (q149) / dense (q30) / hybrid RRF (q152) /
  * MMR (q154) / QL (this).
  *
  * Matched-terms-only decomposition (the standard trick that makes QL
  * posting-list-shaped): missing query terms still contribute
  * background mass, but
  *   score = Σ_t ln(μ·cf_t/|C|) − nq·ln(dl+μ)
  *           + Σ_{t present} ln(1 + tf·|C|/(μ·cf_t))
  * so the corpus-sized work is EXACTLY q149's posting join over matched
  * terms; the first sum is a per-query constant (A_q, 3 terms), the
  * second a per-doc value (nq·B_d), both broadcast-sized. Candidates =
  * docs sharing ≥ 1 query term, q149's retrieval convention.
  *
  * Determinism contract: every ln argument is an integer-derived
  * rational (cf, tf, dl, |C|, μ all exact integers), each ln quantizes
  * to micro-nats independently (one per distinct input — the
  * q153/q156/q167 grain, same q154-class boundary hazard, gated in the
  * spec), and the final score is the exact integer
  * A_q − nq·B_d + Σ C_{t,d} — bit-stable rank order under any
  * partitioning, fully replayable by the oracle.
  *
  * Scale shape: identical to q149 — postings one map-side-combined
  * shuffle (localCheckpoint'd, read 3×), the query-term side broadcast,
  * per-query constants collected-model-sized. Nothing new shuffles.
  */
object QlRetrieval extends graft.QueryModule {

  /** Dirichlet pseudo-count, ≈ the corpus's average document length —
    * the textbook setting (Zhai & Lafferty sweep 500–10000 on TREC
    * docs an order of magnitude longer).
    */
  private[graft] val Mu = 300L

  private[graft] def qlRanked(s: SparkSession, d: String): DataFrame = {
    val docTokens = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val postings = docTokens
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val cfreq = docTokens.groupBy("term").agg(count(lit(1)).as("cf"))
    val dl = docTokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val statRow = dl.agg(sum(col("dl")), count(lit(1))).head()
    val clen = statRow.getLong(0)
    val n = statRow.getLong(1)
    // query-term selection: q149's rule verbatim (rarest-first top-3,
    // everywhere-terms dropped), so the two lexical models rank the
    // same queries over the same term sets
    val wq = Window.partitionBy("query_id").orderBy(col("df"), col("term"))
    val qterms = postings.filter(col("doc_id") < Retrieval.QueryDocs)
      .select(col("doc_id").as("query_id"), col("term"))
      .join(dfreq, Seq("term"))
      .filter(col("df") < n)
      .withColumn("trank", row_number().over(wq))
      .filter(col("trank") <= Retrieval.TermsPerQuery)
      .join(cfreq, Seq("term"))
      // background term mass: ln(μ·cf/|C|), micro-nat quantized
      .withColumn("a",
        round(lit(1000000.0) *
          log((lit(Mu) * col("cf")).cast("double") / lit(clen.toDouble)))
          .cast("long"))
      .select("query_id", "term", "cf", "a")
    val qconst = qterms.groupBy("query_id")
      .agg(sum(col("a")).as("a_q"), count(lit(1)).as("nq"))
    // per-doc length normalizer: ln(dl + μ), micro-nat quantized
    val bD = dl.withColumn("b",
      round(lit(1000000.0) * log((col("dl") + lit(Mu)).cast("double")))
        .cast("long"))
    val wr = Window.partitionBy("query_id").orderBy(col("score_u").desc, col("doc_id"))
    broadcast(qterms).join(postings, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      // matched-term lift: ln(1 + tf·|C|/(μ·cf)), micro-nat quantized
      .withColumn("cm",
        round(lit(1000000.0) *
          log(lit(1.0) + (col("tf") * lit(clen)).cast("double") /
            (lit(Mu) * col("cf")).cast("double")))
          .cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("cm")).as("cm"))
      .join(bD.select("doc_id", "b"), Seq("doc_id"))
      .join(broadcast(qconst), Seq("query_id"))
      .withColumn("score_u", col("a_q") - col("nq") * col("b") + col("cm"))
      .withColumn("rank", row_number().over(wr).cast("int"))
      .filter(col("rank") <= Retrieval.TopK)
      .select("query_id", "doc_id", "n_hit_terms", "rank", "score_u")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q170_ql_retrieval" -> ((s, d) =>
      qlRanked(s, d).orderBy("query_id", "rank")))

  val oracleSql: Map[String, String] = Map(
    "q170_ql_retrieval" ->
      s"""WITH dt AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         |  FROM documents
         |), postings AS MATERIALIZED (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM dt GROUP BY doc_id, term
         |), dfreq AS (
         |  SELECT term, COUNT(*) AS df FROM postings GROUP BY term
         |), cfreq AS MATERIALIZED (
         |  SELECT term, COUNT(*) AS cf FROM dt GROUP BY term
         |), dl AS MATERIALIZED (
         |  SELECT doc_id, COUNT(*) AS dl FROM dt GROUP BY doc_id
         |), st AS (
         |  SELECT CAST(SUM(dl) AS BIGINT) AS clen, COUNT(*) AS n FROM dl
         |), qt AS MATERIALIZED (
         |  SELECT query_id, term, cf,
         |         CAST(ROUND(1000000.0 *
         |           LN(CAST($Mu * cf AS DOUBLE) / clen)) AS BIGINT) AS a
         |  FROM (
         |    SELECT p.doc_id AS query_id, p.term, c.cf, st.clen,
         |           ROW_NUMBER() OVER (PARTITION BY p.doc_id
         |                              ORDER BY d.df, p.term) AS trank
         |    FROM postings p JOIN dfreq d USING (term)
         |    JOIN cfreq c USING (term) CROSS JOIN st
         |    WHERE p.doc_id < ${Retrieval.QueryDocs} AND d.df < st.n
         |  ) WHERE trank <= ${Retrieval.TermsPerQuery}
         |), qc AS (
         |  SELECT query_id, CAST(SUM(a) AS BIGINT) AS a_q, COUNT(*) AS nq
         |  FROM qt GROUP BY query_id
         |), bd AS (
         |  SELECT doc_id,
         |         CAST(ROUND(1000000.0 * LN(CAST(dl + $Mu AS DOUBLE))) AS BIGINT) AS b
         |  FROM dl
         |), hits AS (
         |  SELECT q.query_id, p.doc_id,
         |         CAST(ROUND(1000000.0 *
         |           LN(1.0 + CAST(p.tf * st.clen AS DOUBLE)
         |                    / CAST($Mu * q.cf AS DOUBLE))) AS BIGINT) AS cm
         |  FROM qt q JOIN postings p USING (term) CROSS JOIN st
         |  WHERE p.doc_id <> q.query_id
         |), sc AS (
         |  SELECT h.query_id, h.doc_id, COUNT(*) AS n_hit_terms,
         |         MIN(qc.a_q) - MIN(qc.nq) * MIN(bd.b) + CAST(SUM(h.cm) AS BIGINT) AS score_u
         |  FROM hits h JOIN bd USING (doc_id) JOIN qc USING (query_id)
         |  GROUP BY h.query_id, h.doc_id
         |)
         |SELECT query_id, doc_id, n_hit_terms, rank, score_u FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |              ORDER BY score_u DESC, doc_id) AS INTEGER) AS rank
         |  FROM sc
         |) WHERE rank <= ${Retrieval.TopK}
         |ORDER BY query_id, rank""".stripMargin)
}
