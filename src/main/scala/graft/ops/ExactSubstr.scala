package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact-SUBSTRING benchmark decontamination (the ExactSubstr
  * construction of Lee et al. 2022, "Deduplicating Training Data Makes
  * Language Models Better", at evidence grain): for every (train, test)
  * doc pair, the LONGEST verbatim shared character run and where it
  * sits — stronger localization than q66/q163's 5-word-gram overlap
  * (which misses sub-gram verbatim runs and can't say HOW LONG the
  * leak is) and the natural escalation after q146 names a leaking
  * pair. Completes the decontamination family: exact-gram q66 / Bloom
  * q163 / fuzzy q74 / semantic q101 / evidence q146 / substring-level
  * (this).
  *
  * Mechanism: q155's canon + base-127 polynomial 8-gram hashes, but the
  * FULL gram stream (winnowing selects a sample; run reconstruction
  * needs every position). Matched (train, test) gram positions lie on
  * DIAGONALS (p_train − p_test constant within one shared run); islands
  * of consecutive p_train per diagonal (the p − ROW_NUMBER trick, q33's
  * gaps-and-islands) are maximal shared runs, and a run of r matched
  * 8-grams certifies a shared substring of r + 7 canon chars. Identity
  * is hash-grade (the 2^40 fold — MOSS's trade at the same width;
  * collisions ≈ pairs²/2^40, and a collision only ever EXTENDS a run by
  * chance), bit-identical cross-engine, fully oracle-replayed.
  *
  * Scale shape: the gram stream is linear in corpus bytes and the
  * posting is df-capped ([[MaxDfSub]] — a ubiquitous 8-gram is
  * boilerplate, the MOSS rule), so matched volume tracks contamination,
  * not corpus size; the islands pass is one shuffle keyed by (pair,
  * diagonal) with a codegen ROW_NUMBER window. The registered queries
  * read the GROUPED [[keptGrams]] posting artifact (FrameMemo, priced
  * in Bench's shared_build) and generate matched position pairs with
  * two chained explodes per posting row — no per-run join, nothing
  * broadcast (r22; the old flat-stream self-join broadcast the whole
  * posting). Only spec fixtures recompute grams inline.
  */
object ExactSubstr extends graft.QueryModule {

  /** Report runs of at least this many canon chars (≥ the winnowing
    * guarantee bound 11, so q155's sampled fingerprints would also see
    * every reported pair — this op adds the LENGTH and POSITION).
    */
  private[graft] val MinSubLen = 16

  /** Drop 8-gram hashes present in more docs than this (boilerplate
    * suppression + posting bound; looser than q155's fingerprint cap
    * because raw grams are denser than winnowed selections).
    */
  private[graft] val MaxDfSub = 20

  /** Diagonal-run core over a matched (doc_id, test_doc_id, p_r, p_t)
    * gram-position frame: islands per diagonal → per-pair longest run,
    * its positions, and the island count. Shared by q171 (train × test)
    * and q174 (corpus × corpus, a < b).
    *
    * r22 (guide §2.3, project before the exchange): p_t is dropped
    * before the (pair, diag) window shuffle — it is reconstructable as
    * p_r − diag, and diag is constant within every island group, so
    * min(p_t) ≡ min(p_r) − diag exactly (integer arithmetic). One fewer
    * int column through the widest exchange of the query.
    */
  private def diagonalReport(matched: DataFrame): DataFrame = {
    val wrun = Window.partitionBy("doc_id", "test_doc_id", "diag").orderBy("p_r")
    val islands = matched
      .withColumn("diag", col("p_r") - col("p_t"))
      .select("doc_id", "test_doc_id", "diag", "p_r")
      .withColumn("grp", col("p_r") - row_number().over(wrun))
      .groupBy("doc_id", "test_doc_id", "diag", "grp")
      .agg(count(lit(1)).as("run"), min(col("p_r")).as("p_r"))
      .withColumn("p_t", col("p_r") - col("diag"))
      .withColumn("len", col("run") + lit(Winnowing.WinnowK - 1))
      .filter(col("len") >= MinSubLen)
    islands.groupBy("doc_id", "test_doc_id")
      .agg(max(col("len")).as("longest_len"),
        count(lit(1)).as("n_islands"),
        min_by(struct(col("p_r"), col("p_t")),
          struct((-col("len")).as("nl"), col("p_r"), col("p_t"))).as("at"))
      .select(col("doc_id"), col("test_doc_id"), col("longest_len"),
        col("at.p_r").cast("long").as("train_pos"),
        col("at.p_t").cast("long").as("test_pos"),
        col("n_islands"))
      .orderBy("doc_id", "test_doc_id")
  }

  /** The df-capped gram POSTING LIST (one row per kept hash, holding the
    * sorted array of its (doc_id, p, is_test) occurrences) as a FrameMemo
    * STORED ARTIFACT derived from [[Winnowing.gramFrame]] — the
    * posting-list table a production decontamination store keeps next to
    * the raw gram stream (the df cap is corpus-global, so the filter
    * belongs in the snapshot build, not in every query).
    *
    * r22 RESHAPE (guide §2.4 remove the join, §3.1 never broadcast the
    * corpus): the artifact used to be the flat df-capped (doc_id, p, h)
    * stream, and q171/q174 each SELF-JOINED it on `h` per timed run —
    * Spark planned that as a BroadcastHashJoin whose build side was the
    * ENTIRE posting stream (plans/r21/q174_duplicate_passages_before.txt),
    * i.e. a driver-built multi-hundred-MB HashedRelation reconstructed
    * inside every timed run; under host load that allocation burst is the
    * q174 21-s pathology the r21 verdict flagged. Grouped by hash, the
    * matched (train, test) position pairs fall out of TWO CHAINED
    * EXPLODES over each posting row (the r21 Gram-build template) — no
    * join, no broadcast, no driver collect in any timed run. Match
    * semantics are unchanged: a match needs BOTH sides on the same kept
    * hash, and every ordered occurrence pair of a hash appears exactly
    * once in the explode product (both oracles' `g` CTEs filter both
    * sides the same way). Priced in Bench's chargram chain.
    *
    * Skew note: the df cap (countDistinct(doc_id) ≤ [[MaxDfSub]]) is
    * applied BEFORE grouping — the flat-stream pre-filter keeps a
    * ubiquitous boilerplate gram's occurrence list from ever being
    * collected into one row, the same reason the old join pre-filtered
    * both sides. The cap bounds DOCS per row (≤ MaxDfSub), not
    * occurrences inside one doc: every position of a kept hash is
    * collected, so a doc repeating one gram n times puts n entries in
    * its row, and the chained explodes generate O(n²) rows from it in
    * one task.
    */
  private[graft] def keptGrams(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "gramPostingDf" + MaxDfSub) {
      groupedPosting(Winnowing.gramFrame(s, d))
    }

  private[graft] def groupedPosting(grams: DataFrame): DataFrame = {
    val kept = grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= MaxDfSub).select("h")
    grams.join(kept, Seq("h"))
      .withColumn("is_test", Sampling.splitOf(col("doc_id")) === "test")
      .groupBy("h")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("p"), col("is_test")))).as("xs"))
  }

  private[graft] def substringLeaks(docs: DataFrame): DataFrame =
    substringLeaksFromPosting(groupedPosting(Winnowing.gramsOf(docs)))

  private[graft] def substringLeaksFromPosting(g: DataFrame): DataFrame = {
    // train×test pairs in-scan: explode the train occurrences, then the
    // test occurrences of the same posting row — the early !is_test
    // filter prunes the outer generator before the inner one runs
    val pairs = g
      .select(explode(col("xs")).as("a"), col("xs"))
      .filter(!col("a.is_test"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("b.is_test"))
      .select(col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("test_doc_id"),
        col("a.p").as("p_r"), col("b.p").as("p_t"))
    diagonalReport(pairs)
  }

  /** q174: the SAME machinery pointed at the corpus itself — repeated
    * verbatim passages ACROSS documents (boilerplate, mirrored pages,
    * syndicated paragraphs), which is ExactSubstr's original dedup use:
    * the reported spans are what the Lee et al. pipeline CUTS from the
    * training set (whole-doc dedup q25/q26 can't see a copied paragraph
    * inside two otherwise-different docs; q113 needs line boundaries).
    * Both posting sides are df-capped here (the pair fanout is
    * corpus × corpus, not corpus × eval — the cap bounds it the way
    * q155's MaxDf bounds the fingerprint join); pairs canonicalize
    * a < b so each repeated passage reports once.
    */
  private[graft] def duplicatePassages(docs: DataFrame): DataFrame =
    duplicatePassagesFromPosting(groupedPosting(Winnowing.gramsOf(docs)))

  private[graft] def duplicatePassagesFromPosting(g: DataFrame): DataFrame = {
    // all a<b occurrence pairs of each kept hash, generated in-scan from
    // the posting row (each unordered doc pair passes the < filter in
    // exactly one orientation — the same multiset the h-equi-join
    // produced, with no join and nothing broadcast)
    val pairs = g
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("test_doc_id"),
        col("a.p").as("p_r"), col("b.p").as("p_t"))
    diagonalReport(pairs)
      .withColumnsRenamed(Map("doc_id" -> "doc_a", "test_doc_id" -> "doc_b",
        "train_pos" -> "pos_a", "test_pos" -> "pos_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q171_decontaminate_substring" -> ((s, d) =>
      substringLeaksFromPosting(keptGrams(s, d))),
    "q174_duplicate_passages" -> ((s, d) =>
      duplicatePassagesFromPosting(keptGrams(s, d))))

  val oracleSql: Map[String, String] = Map(
    "q171_decontaminate_substring" -> {
      import Winnowing.{MaxCanon, WinnowK, PolyCoef, HashMod}
      s"""WITH canon AS MATERIALIZED (
         |  SELECT doc_id,
         |         substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
         |                1, $MaxCanon) AS c,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') AS is_test
         |  FROM documents
         |), grams AS MATERIALIZED (
         |  SELECT doc_id, is_test, p,
         |         (${PolyCoef.zipWithIndex.map { case (coef, o) =>
                      s"CAST(ascii(substr(c, p + $o, 1)) AS BIGINT) * $coef"
                    }.mkString(" + ")}) % $HashMod AS h
         |  FROM (
         |    SELECT doc_id, is_test, c,
         |           unnest(range(1, length(c) - $WinnowK + 2)) AS p
         |    FROM canon WHERE length(c) >= $WinnowK
         |  )
         |), kept AS (
         |  SELECT h FROM (
         |    SELECT h, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY h
         |  ) WHERE df <= $MaxDfSub
         |), g AS MATERIALIZED (
         |  SELECT doc_id, is_test, p, h FROM grams WHERE h IN (SELECT h FROM kept)
         |), m AS MATERIALIZED (
         |  SELECT r.doc_id, t.doc_id AS test_doc_id, r.p AS p_r, t.p AS p_t,
         |         r.p - t.p AS diag
         |  FROM g r JOIN g t ON r.h = t.h
         |  WHERE NOT r.is_test AND t.is_test
         |), islands AS MATERIALIZED (
         |  SELECT doc_id, test_doc_id,
         |         CAST(COUNT(*) + ${WinnowK - 1} AS BIGINT) AS len,
         |         MIN(p_r) AS p_r, MIN(p_t) AS p_t
         |  FROM (
         |    SELECT *, p_r - ROW_NUMBER() OVER (
         |             PARTITION BY doc_id, test_doc_id, diag ORDER BY p_r) AS grp
         |    FROM m
         |  )
         |  GROUP BY doc_id, test_doc_id, diag, grp
         |  HAVING COUNT(*) + ${WinnowK - 1} >= $MinSubLen
         |), best AS (
         |  SELECT doc_id, test_doc_id, len, p_r, p_t,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id, test_doc_id
         |                            ORDER BY len DESC, p_r, p_t) AS rk
         |  FROM islands
         |)
         |SELECT i.doc_id AS doc_id, i.test_doc_id AS test_doc_id,
         |       CAST(MAX(i.len) AS BIGINT) AS longest_len,
         |       CAST(MIN(b.p_r) AS BIGINT) AS train_pos,
         |       CAST(MIN(b.p_t) AS BIGINT) AS test_pos,
         |       COUNT(*) AS n_islands
         |FROM islands i
         |JOIN best b ON b.doc_id = i.doc_id AND b.test_doc_id = i.test_doc_id
         |           AND b.rk = 1
         |GROUP BY i.doc_id, i.test_doc_id
         |ORDER BY i.doc_id, i.test_doc_id""".stripMargin
    },

    "q174_duplicate_passages" -> {
      import Winnowing.{MaxCanon, WinnowK, PolyCoef, HashMod}
      s"""WITH canon AS MATERIALIZED (
         |  SELECT doc_id,
         |         substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
         |                1, $MaxCanon) AS c
         |  FROM documents
         |), grams AS MATERIALIZED (
         |  SELECT doc_id, p,
         |         (${PolyCoef.zipWithIndex.map { case (coef, o) =>
                      s"CAST(ascii(substr(c, p + $o, 1)) AS BIGINT) * $coef"
                    }.mkString(" + ")}) % $HashMod AS h
         |  FROM (
         |    SELECT doc_id, c, unnest(range(1, length(c) - $WinnowK + 2)) AS p
         |    FROM canon WHERE length(c) >= $WinnowK
         |  )
         |), g AS MATERIALIZED (
         |  SELECT doc_id, p, h FROM grams
         |  WHERE h IN (SELECT h FROM (
         |    SELECT h, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY h
         |  ) WHERE df <= $MaxDfSub)
         |), m AS MATERIALIZED (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS p_r, b.p AS p_t,
         |         a.p - b.p AS diag
         |  FROM g a JOIN g b ON a.h = b.h
         |  WHERE a.doc_id < b.doc_id
         |), islands AS MATERIALIZED (
         |  SELECT doc_a, doc_b,
         |         CAST(COUNT(*) + ${WinnowK - 1} AS BIGINT) AS len,
         |         MIN(p_r) AS p_r, MIN(p_t) AS p_t
         |  FROM (
         |    SELECT *, p_r - ROW_NUMBER() OVER (
         |             PARTITION BY doc_a, doc_b, diag ORDER BY p_r) AS grp
         |    FROM m
         |  )
         |  GROUP BY doc_a, doc_b, diag, grp
         |  HAVING COUNT(*) + ${WinnowK - 1} >= $MinSubLen
         |), best AS (
         |  SELECT doc_a, doc_b, len, p_r, p_t,
         |         ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
         |                            ORDER BY len DESC, p_r, p_t) AS rk
         |  FROM islands
         |)
         |SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
         |       CAST(MAX(i.len) AS BIGINT) AS longest_len,
         |       CAST(MIN(b.p_r) AS BIGINT) AS pos_a,
         |       CAST(MIN(b.p_t) AS BIGINT) AS pos_b,
         |       COUNT(*) AS n_islands
         |FROM islands i
         |JOIN best b ON b.doc_a = i.doc_a AND b.doc_b = i.doc_b AND b.rk = 1
         |GROUP BY i.doc_a, i.doc_b
         |ORDER BY i.doc_a, i.doc_b""".stripMargin
    })
}
