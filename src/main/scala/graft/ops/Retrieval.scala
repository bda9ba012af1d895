package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Lexical retrieval over the documents corpus — the BM25 ranking
  * function every search/RAG pipeline starts from (Robertson-Spärck
  * Jones probabilistic weighting; the exact formula Lucene/Elasticsearch
  * ship as the default similarity). Query-by-document form ("more like
  * this"): each anchor doc's most informative terms become its query,
  * which keeps the query set deterministic and data-derived instead of
  * hardcoding literal strings against synthetic text.
  *
  * Scale shape — term-at-a-time scoring over posting lists, the
  * inverted-index plan: the corpus pays ONE tokenize pass and one
  * (doc, term) map-side-combined shuffle to build postings; the query
  * table (queries × terms, tens of rows) BROADCASTS onto the postings,
  * so only documents containing a query term are ever scored (candidate
  * volume ∝ posting lengths, not corpus size); doc-length joins ride the
  * same candidate rows. N and avgdl are collected SCALARS (2 numbers —
  * model state) folded in as literals.
  *
  * Cross-engine floats: every BM25 input (tf, df, dl, N) is an exact
  * integer; avgdl is one double division; idf is one ln per term of an
  * integer-derived rational (the q134 discipline). The per-doc score
  * SUM is the one float-order hazard — Spark aggregates in arrival
  * order — so contributions pivot onto their term rank (each query has
  * ≤ [[TermsPerQuery]] terms) and add in WRITTEN order c1+c2+c3,
  * bit-identically in both engines; the driver compare rounds to 4dp.
  */
object Retrieval extends graft.QueryModule {

  /** Lucene-default BM25 shape parameters (written as the literal
    * doubles "1.2"/"2.2"/"0.75"/"0.25" in BOTH engines' expressions so
    * the parsed constants are bit-identical).
    */
  private[graft] val QueryDocs = 5
  private[graft] val TermsPerQuery = 3
  private[graft] val TopK = 10

  def bm25MoreLikeThis(s: SparkSession, d: String): DataFrame =
    bm25Ranked(s, d)
      .select(col("query_id"), col("doc_id"), col("n_hit_terms"), col("rank"),
        round(col("score"), 4).as("score_r"))
      .orderBy("query_id", "rank")

  /** The ranked BM25 candidate list (query_id, doc_id, n_hit_terms,
    * rank ≤ [[TopK]], raw score) — q149 presents it; q152 fuses it with
    * the dense ranking.
    */
  private[graft] def bm25Ranked(s: SparkSession, d: String): DataFrame = {
    val docTokens = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // the posting lists — read 3× (df, query side, scoring): materialize
    val postings = docTokens
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docTokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val statRow = dl.agg(sum(col("dl")), count(lit(1))).head()
    val n = statRow.getLong(1)
    val avgdl = statRow.getLong(0).toDouble / n
    // query terms: each anchor doc's distinct terms, rarest first (df
    // asc — the informative-term heuristic), top TermsPerQuery. Only
    // terms present in EVERY doc are dropped (zero discrimination); a
    // df > N/2 stopword cut would be the production choice but empties
    // the query set on this corpus (31 distinct terms, median df 388 of
    // 500) — the +1-form idf keeps even common terms positively
    // weighted, so ranking still exercises the tf/dl machinery.
    val wq = Window.partitionBy("query_id").orderBy(col("df"), col("term"))
    val qterms = postings.filter(col("doc_id") < QueryDocs)
      .select(col("doc_id").as("query_id"), col("term"))
      .join(dfreq, Seq("term"))
      .filter(col("df") < n)
      .withColumn("trank", row_number().over(wq))
      .filter(col("trank") <= TermsPerQuery)
      .withColumn("idf",
        log((lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .select("query_id", "term", "trank", "idf")
    val contrib = col("idf") * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / lit(avgdl))))
    val wr = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    broadcast(qterms).join(postings, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, Seq("doc_id"))
      .withColumn("contrib", contrib)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit_terms"),
        // ≤1 non-null row per rank slot — each SUM is order-free, and
        // the final add below runs in fixed written order
        sum(when(col("trank") === 1, col("contrib"))).as("c1"),
        sum(when(col("trank") === 2, col("contrib"))).as("c2"),
        sum(when(col("trank") === 3, col("contrib"))).as("c3"))
      .withColumn("score",
        coalesce(col("c1"), lit(0.0)) + coalesce(col("c2"), lit(0.0))
          + coalesce(col("c3"), lit(0.0)))
      .withColumn("rank", row_number().over(wr).cast("int"))
      .filter(col("rank") <= TopK)
  }

  /** q152: HYBRID retrieval — reciprocal-rank fusion (Cormack et al.'s
    * RRF, the standard hybrid-search merge every lexical+vector stack
    * ships) of the BM25 ranking (q149) and the dense cosine ranking
    * (q30's exact top-5, the FrameMemo'd ground-truth anchor). Score =
    * Σ_systems 1/(60 + rank), absent system contributes 0 — rank-only
    * fusion needs NO score calibration between systems, which is why
    * production stacks prefer it to score interpolation. Cross-engine
    * floats: two IEEE divisions added in fixed written order (lexical
    * first), integer ranks underneath — the q149 discipline. Scale: a
    * full-outer join of two (queries × k)-row ranked lists — fusion
    * cost tracks the query load, never the corpus.
    */
  /** q152's fused ranking as a FrameMemo stored artifact (the r18 q117
    * contract: method result frames build once in shared_build; the
    * registered q152 presents this ordered, q117 scores it raw).
    */
  private[graft] def hybridRanked(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "hybridRrfRanked")(hybridRrf(s, d))

  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val lex = bm25Ranked(s, d)
      .filter(col("query_id") < HybridQueries)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = SimilaritySearch.knnExactTop5(s, d)
      .filter(col("query_id") < HybridQueries)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val wr = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(wr).cast("int"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("doc_id"),
        col("lex_rank").isNotNull.as("in_lexical"),
        col("dense_rank").isNotNull.as("in_dense"),
        col("rank"), round(col("rrf"), 6).as("rrf_r"))
      .orderBy("query_id", "rank")
  }

  /** q152 fuses the q30 dense anchor (queries = vec_id < 10) with the
    * q149 lexical queries (doc_id < [[QueryDocs]]); the shared id space
    * is the intersection.
    */
  private[graft] val HybridQueries = QueryDocs

  // ---------------------------------------------------------------- q154

  private[graft] val MmrCandidates = 20
  private[graft] val MmrK = 5

  /** One MMR pick: rank within the diversified list + the doubled MMR
    * objective value (2·score stays integer at λ = 1/2).
    */
  private[graft] case class MmrPick(query_id: Long, pick_rank: Int,
                                    cand_id: Long, mmr2: Long)

  /** Exact cosine, replicating the engine's CosineSimilarity expression
    * (sequential accumulation, dot/(√na·√nb)) so the group-task sims are
    * the same doubles the column function would produce.
    */
  private[graft] def cosSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** round(x·10⁶) HALF_UP away from zero — the Spark `round` / DuckDB
    * `ROUND` convention, applied to the JVM-side sims so all three
    * computations of a similarity agree.
    *
    * KNOWN HAZARD (accepted, gated): the "bit-deterministic" claim
    * rests on Spark's cosine / JVM `Math.log` and DuckDB's
    * `list_cosine_similarity` / `LN` agreeing to the last bit BEFORE
    * the round — true today, but a value within ~1 ULP of a
    * `.5·10⁻⁶` rounding boundary would flip the integer on a
    * DuckDB/libm upgrade and surface as a phantom engine bug. The
    * corpus margin is measured and pinned in RetrievalSpec ("no
    * quantized similarity sits near a rounding boundary"): if that
    * gate ever fires, the diagnosis is THIS boundary, not the engine.
    */
  private[graft] def quant(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1000000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** q154: MMR (maximal marginal relevance) diversification of a
    * retrieval shortlist — the re-rank step a RAG stack runs so the k
    * results aren't k near-duplicates: greedily pick argmax of
    * λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s) at λ = 1/2, which doubled is
    * the INTEGER objective rel − maxsim over micro-nat-quantized
    * cosines — so the greedy chain is bit-deterministic and the DuckDB
    * oracle can replay all [[MmrK]] rounds as unrolled CTEs (the q135
    * fixed-round design).
    *
    * Shape: candidate generation is the q30 broadcast top-[[MmrCandidates]];
    * the greedy itself runs per query INSIDE one task via
    * `groupByKey.flatMapGroups` — the selection state is (k ≤ 20)-row
    * group-local, which is exactly where per-group sequential logic
    * belongs (NOT a driver collect loop: queries scale out across
    * tasks, candidates per query are bounded by the shortlist
    * contract).
    */
  def mmrDiversify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.cosine
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < HybridQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    val cand = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= MmrCandidates)
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(col("cos") * 1000000, 0).cast("long").as("rel"), col("v"))
    cand.as[(Long, Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Seq[Double])]) =>
        val cs = it.toVector.sortBy(_._2)
        val sim = collection.mutable.Map.empty[(Long, Long), Long]
        for (a <- cs; b <- cs if a._2 != b._2)
          sim((a._2, b._2)) = quant(cosSeq(a._4, b._4))
        val selected = collection.mutable.ListBuffer.empty[Long]
        val remaining = collection.mutable.ListBuffer(cs.map(c => (c._2, c._3)): _*)
        (1 to math.min(MmrK, cs.length)).iterator.map { k =>
          val scored = remaining.map { case (id, rel) =>
            val maxSim = if (selected.isEmpty) 0L
                         else selected.map(sid => sim((id, sid))).max
            (id, rel - maxSim)
          }
          val (pickId, mmr2) = scored.minBy { case (id, m) => (-m, id) }
          selected += pickId
          remaining.filterInPlace(_._1 != pickId)
          MmrPick(qid, k, pickId, mmr2)
        }
      }
      .toDF()
      .orderBy("query_id", "pick_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q149_bm25_retrieval" -> ((s, d) => bm25MoreLikeThis(s, d)),
    "q152_hybrid_rrf" -> ((s, d) =>
      hybridRanked(s, d).orderBy("query_id", "rank")),
    "q154_mmr_diversify" -> ((s, d) => mmrDiversify(s, d)))

  /** q154 oracle: candidate top-[[MmrCandidates]] + quantized pairwise
    * sims, then the [[MmrK]] greedy rounds UNROLLED — each round scores
    * the remaining candidates against the selected set (anti-join +
    * max-sim aggregate), picks the (mmr2 desc, cand_id) argmax, and
    * appends it to the selected set. Integer arithmetic end to end
    * after the ROUND(·10⁶) quantization, so the chain is
    * bit-deterministic in both engines.
    */
  private def q154OracleSql: String = {
    val rounds = (2 to MmrK).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT c.query_id, c.cand_id, c.rel - MAX(si.s) AS mmr2
         |  FROM cand c
         |  JOIN sim si ON si.query_id = c.query_id AND si.ca = c.cand_id
         |  JOIN s${k - 1} sel ON sel.query_id = si.query_id AND sel.cand_id = si.cb
         |  LEFT JOIN s${k - 1} me ON me.query_id = c.query_id AND me.cand_id = c.cand_id
         |  WHERE me.cand_id IS NULL
         |  GROUP BY c.query_id, c.cand_id, c.rel
         |), p$k AS MATERIALIZED (
         |  SELECT query_id, CAST($k AS INTEGER) AS pick_rank, cand_id, mmr2 FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY mmr2 DESC, cand_id) AS rn
         |    FROM m$k
         |  ) WHERE rn = 1
         |), s$k AS MATERIALIZED (
         |  SELECT query_id, cand_id FROM s${k - 1}
         |  UNION ALL SELECT query_id, cand_id FROM p$k
         |)""".stripMargin
    }.mkString(",\n")
    val unioned = (1 to MmrK)
      .map(k => s"SELECT * FROM p$k").mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cand AS MATERIALIZED (
       |  SELECT query_id, cand_id,
       |         CAST(ROUND(cos * 1000000) AS BIGINT) AS rel, v
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |           list_cosine_similarity(q.v, c.v) AS cos, c.v,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS r
       |    FROM e q JOIN e c ON q.vec_id < $HybridQueries AND c.vec_id <> q.vec_id
       |  ) WHERE r <= $MmrCandidates
       |), sim AS MATERIALIZED (
       |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
       |         CAST(ROUND(list_cosine_similarity(a.v, b.v) * 1000000) AS BIGINT) AS s
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
       |), p1 AS MATERIALIZED (
       |  SELECT query_id, CAST(1 AS INTEGER) AS pick_rank, cand_id, rel AS mmr2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                ORDER BY rel DESC, cand_id) AS rn
       |    FROM cand
       |  ) WHERE rn = 1
       |), s1 AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM p1
       |),
       |$rounds
       |SELECT query_id, pick_rank, cand_id, mmr2 FROM (
       |$unioned
       |)
       |ORDER BY query_id, pick_rank""".stripMargin
  }

  /** The q149 chain through the ranked list — shared verbatim by the
    * q149 oracle and q152's fusion oracle (one source of truth for the
    * BM25 semantics, the coarseChainCtes discipline).
    */
  private def bm25Ctes: String =
      s"""WITH dt AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         |  FROM documents
         |), postings AS MATERIALIZED (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM dt GROUP BY doc_id, term
         |), dfreq AS MATERIALIZED (
         |  SELECT term, COUNT(*) AS df FROM postings GROUP BY term
         |), dl AS MATERIALIZED (
         |  SELECT doc_id, COUNT(*) AS dl FROM dt GROUP BY doc_id
         |), st AS (
         |  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n
         |  FROM dl
         |), qt AS MATERIALIZED (
         |  SELECT query_id, term, trank,
         |         LN((n - df + 0.5) / (df + 0.5) + 1.0) AS idf
         |  FROM (
         |    SELECT p.doc_id AS query_id, p.term, d.df, st.n,
         |           ROW_NUMBER() OVER (PARTITION BY p.doc_id
         |                              ORDER BY d.df, p.term) AS trank
         |    FROM postings p JOIN dfreq d USING (term) CROSS JOIN st
         |    WHERE p.doc_id < $QueryDocs AND d.df < st.n
         |  ) WHERE trank <= $TermsPerQuery
         |), hits AS (
         |  SELECT q.query_id, q.trank, p.doc_id,
         |         q.idf * (p.tf * 2.2) /
         |           (p.tf + 1.2 * (0.25 + 0.75 * (l.dl / st.avgdl))) AS contrib
         |  FROM qt q
         |  JOIN postings p USING (term)
         |  JOIN dl l ON l.doc_id = p.doc_id
         |  CROSS JOIN st
         |  WHERE p.doc_id <> q.query_id
         |), sc AS (
         |  SELECT query_id, doc_id, COUNT(*) AS n_hit_terms,
         |         COALESCE(SUM(CASE WHEN trank = 1 THEN contrib END), 0.0)
         |           + COALESCE(SUM(CASE WHEN trank = 2 THEN contrib END), 0.0)
         |           + COALESCE(SUM(CASE WHEN trank = 3 THEN contrib END), 0.0)
         |           AS score
         |  FROM hits GROUP BY query_id, doc_id
         |), ranked AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         |    FROM sc
         |  ) WHERE rank <= $TopK
         |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q154_mmr_diversify" -> q154OracleSql,
    "q149_bm25_retrieval" ->
      s"""$bm25Ctes
         |SELECT query_id, doc_id, n_hit_terms, rank, ROUND(score, 4) AS score_r
         |FROM ranked
         |ORDER BY query_id, rank""".stripMargin,

    // q152: the BM25 chain verbatim + the q30-shape dense top-5 + RRF.
    // 1.0 is CAST to DOUBLE (a bare 1.0 is DECIMAL in DuckDB — the
    // division would run in decimal and drift from Spark's double)
    "q152_hybrid_rrf" ->
      s"""$bm25Ctes,
         |dense AS MATERIALIZED (
         |  SELECT query_id, neighbor_id AS doc_id, rank AS dense_rank FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |           CAST(ROW_NUMBER() OVER (
         |             PARTITION BY q.vec_id
         |             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                                             CAST(e.embedding AS DOUBLE[])) DESC,
         |                      e.vec_id) AS INTEGER) AS rank
         |    FROM embeddings q JOIN embeddings e
         |      ON q.vec_id < $HybridQueries AND e.vec_id <> q.vec_id
         |  ) WHERE rank <= 5
         |), lex AS (
         |  SELECT query_id, doc_id, rank AS lex_rank FROM ranked
         |  WHERE query_id < $HybridQueries
         |), fused AS (
         |  SELECT COALESCE(l.query_id, de.query_id) AS query_id,
         |         COALESCE(l.doc_id, de.doc_id) AS doc_id,
         |         l.lex_rank, de.dense_rank,
         |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0)
         |           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + de.dense_rank), 0.0)
         |           AS rrf
         |  FROM lex l
         |  FULL OUTER JOIN dense de
         |    ON de.query_id = l.query_id AND de.doc_id = l.doc_id
         |)
         |SELECT query_id, doc_id,
         |       lex_rank IS NOT NULL AS in_lexical,
         |       dense_rank IS NOT NULL AS in_dense,
         |       rank, ROUND(rrf, 6) AS rrf_r
         |FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |              ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
         |  FROM fused
         |) WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin)
}
