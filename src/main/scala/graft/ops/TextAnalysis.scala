package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over `documents` — the corpus-statistics layer a
  * training-data pipeline runs before filtering: token counts, quality
  * scores, language ID, fingerprints. All per-row narrow transforms (no
  * shuffle except the final presentation sort), so they scale linearly
  * with corpus size.
  */
object TextAnalysis extends graft.QueryModule {

  /** q73's Misra-Gries sketch size (per-source AND merge level). */
  private[graft] val MgSketchK = 64

  /** The full merged Misra-Gries counter table (token, est_count) —
    * q73 presents its top 20; q220's sketch-error report gates every
    * guaranteed-survivor token against the exact counts.
    */
  private[graft] def mgMergedTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source")
      .agg(graft.functions.FreqSketch(MgSketchK)(col("token")).as("sk"))
      .agg(graft.functions.FreqSketch.merge(MgSketchK)(col("sk")).as("merged"))
      .select(explode(col("merged")).as(Seq("token", "est_count")))

  /** The exact corpus token-count table (token, n) as a FrameMemo
    * stored artifact (r19) — the vocabulary-frequency asset every
    * corpus store persists. q220's Misra-Gries gate read the token
    * explosion TWICE per run (counts + the Σ total); it now reads this
    * checkpointed vocab-sized frame and derives the total from it.
    */
  private[graft] def tokenCounts(s: SparkSession, d: String): DataFrame =
    graft.ops.FrameMemo.cached(s, d, "tokenCounts") {
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
    }

  /** The fixed q115 retrieval query — terms from the corpus vocabulary
    * so tf/df are non-degenerate at every SF. */
  val BM25QueryTerms: Seq[String] = Seq("spark", "join", "window")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Unicode canonicalization (the pre-dedup/hash pass): per-doc NFC
    // verdict plus a per-row PROBE — text with a decomposed combining
    // acute (e + U+0301) appended, which NFC must compose — so the
    // native expression provably fires on every row even over an ASCII
    // corpus and the md5/length compare crosses engines (JDK Normalizer
    // vs DuckDB's utf8proc). The expression is codegen'd (no UDF bridge
    // on the corpus-wide path); non-ASCII semantics pinned in
    // ExpressionsSpec.
    "q142_nfc_normalize" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      def nfc(c: Column): Column =
        column(graft.expressions.NfcNormalize(expression(c)))
      val probe = concat(col("text"), lit("e\u0301")) // DECOMPOSED: e + combining acute
      Tables.documents(s, d).select(
        col("doc_id"),
        (col("text") === nfc(col("text"))).as("already_nfc"),
        (length(probe) - length(nfc(probe))).as("len_delta"),
        md5(nfc(probe).cast("binary")).as("nfc_md5"))
        .orderBy("doc_id")
    }),

    // token counting: whitespace + BPE-ish lexical tokens + diversity
    "q21_text_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).as("n_chars_actual"),
        size(tokens(col("text"))).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_uniq_tokens"))
        .orderBy("doc_id")),

    // quality scoring: ratios + composite score + bucket
    "q22_text_quality" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        uniqueTokenRatio(col("text")).as("uniq_ratio"),
        punctRatio(col("text")).as("punct_ratio"),
        qualityScore(col("text")).as("quality"))
        .withColumn("quality_bucket",
          when(col("quality") >= 0.8, "high")
            .when(col("quality") >= 0.5, "medium")
            .otherwise("low"))
        .orderBy("doc_id")),

    // language ID: marker votes + deterministic argmax + label agreement
    "q23_langid" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(
        (Seq(col("doc_id"), col("lang")) ++
          LangMarkers.map { case (l, m) => langScore(col("text"), m).as(s"s_$l") }): _*)
      val Seq(en, fr, es, de, zh) = LangMarkers.map(m => col(s"s_${m._1}"))
      scored.withColumn("predicted",
        when(en >= fr && en >= es && en >= de && en >= zh, "en")
          .when(fr >= es && fr >= de && fr >= zh, "fr")
          .when(es >= de && es >= zh, "es")
          .when(de >= zh, "de")
          .otherwise("zh"))
        .withColumn("agrees", (col("predicted") === col("lang")).cast("int"))
        .orderBy("doc_id")
    }),

    // rolling-hash fingerprint (xxhash64-based -> rows-only checked)
    "q24_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        xxhash64(col("text")).as("content_hash"))
        .orderBy("doc_id")),

    // q24's ORACLE-CHECKED twin (the q118 twin design): a true ROLLING
    // fingerprint — one md5 per TOKEN (48-bit hex prefix as an integer,
    // which DuckDB recomputes bit-for-bit via ('0x'||substr)::BIGINT),
    // then every 8-token window is the SUM of its token hashes and the
    // doc signature is the min/max window value. One digest per token
    // instead of per window (an md5-per-gram draft benched 8.2 s at
    // sf0.1; this shape is ~8× fewer digests over ~8× shorter inputs,
    // the windows themselves are integer adds) — the rolling-window /
    // tokenize plumbing q24's xxhash64 fast path shares, pinned with
    // portable hashes. Narrow per-row transform, no shuffle except the
    // presentation sort.
    "q120_fingerprint_md5" -> ((s, d) =>
      rollingFingerprintMd5(Tables.documents(s, d)).orderBy("doc_id")),

    // END-TO-END corpus curation — the pipeline this engine exists for:
    // quality gate + language agreement + exact dedup, reported per
    // (lang, verdict). Drop reasons are prioritized duplicate > quality
    // > language so every doc gets exactly one verdict. Scale shape: the
    // scoring is narrow per-row; canonical resolution is a groupBy+join
    // on the 16-byte digest AFTER projecting the text away, so the only
    // shuffled payload is (ids, scores, digest) — never the documents
    // themselves; the report agg is tiny. sum_quality goes through
    // DECIMAL so shuffle order can't perturb the sum (cf. sumMoney).
    "q50_corpus_curation" -> ((s, d) => report(exactVerdicts(s, d))),

    // corpus vocabulary heavy hitters: the top-k most frequent tokens
    // (vocab building / domain triage over a training corpus). Two-phase
    // hash count over the exploded tokens — map-side partials collapse
    // each partition's duplicates before the one shuffle on the token —
    // then TakeOrdered top-k: the k-row heap per partition, never a
    // global sort of the vocabulary. Ties broken by token for a
    // deterministic hash compare.
    "q59_top_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // TF-IDF keyword extraction: top-3 terms per doc by tf × (N/df) —
    // the linear-idf form keeps every score a single double division of
    // exact integers (bit-stable under shuffle order; ln(N/df) would
    // hash-diverge between engines at the last ulp). Shapes: one
    // two-phase (doc, term) count, a vocabulary-sized df aggregate, the
    // 1-row N broadcast, and a per-doc window over ≤|doc vocab| rows —
    // no global sort, nothing document-sized in any exchange.
    "q76_tfidf_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // materialized once: both the df aggregate and the scoring join
      // read it (the q65-posting convention — narrow rows only)
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    }),

    // vocabulary heavy hitters WITHOUT the exact count's full-vocabulary
    // shuffle: per-source Misra-Gries sketches (a k-counter summary per
    // slice, built in one partial+final aggregation) roll up through a
    // stored-sketch merge — q61's store-then-union pattern for frequent
    // items. At 100 TB the per-slice sketches are a few KB each and any
    // slice grouping re-merges losslessly w.r.t. the n/(k+1) error
    // bound, never rescanning the corpus. Rows-only: counter survival
    // is data-order-free but estimates aren't portable SQL;
    // AnalyticsSpec gates recall + error against the exact q59.
    "q73_top_tokens_sketch" -> ((s, d) =>
      mgMergedTokens(s, d)
        .orderBy(col("est_count").desc, col("token"))
        .limit(20)),

    // BM25 retrieval (Robertson–Spärck Jones, the Okapi form): top-10
    // docs for a fixed 3-term query. Completes the lexical-scoring
    // family — q76's TF-IDF ranks terms WITHIN a doc; BM25 ranks docs
    // FOR a query, with tf saturation (k1) and length normalization
    // (b). Shapes for scale: tf per query term is a NARROW array
    // filter over the token array (the query is a known literal set —
    // no posting-list explode, zero exchanges to score); df/N/Σdl is
    // ONE tiny aggregate broadcast back; top-10 is TakeOrdered, never
    // a global sort. Cross-engine floats: avgdl = exact-int Σdl / N,
    // one correctly-rounded ln per df, identical expression shape both
    // sides, and the hash compares round(score, 6) — the q78 rate
    // discipline.
    "q115_bm25_retrieval" -> ((s, d) => {
      // k1 = 1.2, b = 0.75; k1+1 is written as the literal 2.2 so the
      // oracle's parsed double is bit-identical (a Scala-side 1.2 + 1
      // and a SQL-parsed "2.2" may round differently at the last ulp)
      val (k1, k1p1, b) = (1.2, 2.2, 0.75)
      val terms = BM25QueryTerms
      val w = tokens(col("text"))
      val base = Tables.documents(s, d).select(
        col("doc_id") +: size(w).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(w, x => x === lit(t))).cast("long").as(s"tf$i")
          }: _*)
      val dfCols = terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val stats = base.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).as("sum_dl") +: dfCols): _*)
      val scored = base.crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .withColumn("score", terms.indices.map { i =>
          val tf = col(s"tf$i").cast("double")
          val idf = log((col("n_docs") - col(s"df$i") + lit(0.5)) /
            (col(s"df$i") + lit(0.5)) + lit(1.0))
          idf * (tf * lit(k1p1)) /
            (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
        }.reduce(_ + _))
        .withColumn("score_r", round(col("score"), 6))
      scored.select(
        (col("doc_id") +: col("dl") +:
          terms.indices.map(i => col(s"tf$i")) :+ col("score_r")): _*)
        .orderBy(col("score_r").desc, col("doc_id"))
        .limit(10)
    }),

    // CAPSTONE: the manifest a training run starts from, composing the
    // pipeline end to end — q50's curation verdicts pick the keep set,
    // q54's hash rule assigns splits, q83's chunk geometry prices each
    // doc in context windows — reported per (split, lang) with doc,
    // token, and chunk budgets. Every stage is the deterministic narrow
    // form proven by its own query; the composition adds ONE extra
    // join (keep set ⋈ token counts) and a tiny aggregate.
    "q100_training_manifest" -> ((s, d) => {
      val kept = exactVerdicts(s, d)
        .filter(col("verdict") === "keep")
        .select("doc_id", "lang")
      val meta = Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
      kept.join(meta, Seq("doc_id"))
        .withColumn("split", Sampling.splitOf(col("doc_id")))
        // q83 geometry: stride-24 starts over n_tokens (>= 1 always —
        // an empty text still tokenizes to [""])
        .withColumn("n_chunks", expr("(n_tokens - 1) div 24 + 1"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chunks")).as("total_chunks"))
        .orderBy("split", "lang")
    }),

    // the same curation cascade with NO exact-digest anchor: duplicates
    // come from the sub-quadratic MinHash+LSH pair graph fed through
    // connected components (q49's machinery), so near-duplicates — not
    // just byte-identical copies — resolve to one canonical doc. This is
    // the full 100 TB curation plan: narrow scoring, banded LSH pair
    // generation, a label frame of |near-dup docs| ≪ corpus left-joined
    // back (docs outside any pair stay their own canon). Rows-only
    // (xxhash64 signatures aren't portable SQL); CurationLshSpec gates
    // the verdicts against exact-anchored q50.
    "q52_corpus_curation_lsh" -> ((s, d) => report(lshVerdicts(s, d)))
  )

  /** doc_id, lang, quality, predicted language, content digest — the
    * narrow per-row scoring stage shared by q50, q52 and q69. The text
    * is projected away here: everything downstream shuffles (ids,
    * scores, digest) only, never the documents. FrameMemo stored
    * artifact (r19 sweep #3): the scored-corpus table every curation
    * consumer reads — built once per snapshot, ~60 B/doc checkpointed.
    */
  private[graft] def scoredDocs(s: SparkSession, d: String): DataFrame =
    graft.ops.FrameMemo.cached(s, d, "scoredDocs")(buildScoredDocs(s, d))

  private def buildScoredDocs(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d).select(
      (Seq(col("doc_id"), col("lang"), col("text"),
        qualityScore(col("text")).as("quality")) ++
        LangMarkers.map { case (l, m) => langScore(col("text"), m).as(s"s_$l") }): _*)
    val Seq(en, fr, es, de, zh) = LangMarkers.map(m => col(s"s_${m._1}"))
    val predicted = when(en >= fr && en >= es && en >= de && en >= zh, "en")
      .when(fr >= es && fr >= de && fr >= zh, "fr")
      .when(es >= de && es >= zh, "es")
      .when(de >= zh, "de")
      .otherwise("zh")
    scored.select(
      col("doc_id"), col("lang"), col("quality"), predicted.as("predicted"),
      md5(col("text").cast("binary")).as("digest"))
  }

  /** Prioritized verdict cascade (duplicate > quality > language) over a
    * per-doc frame carrying canon_id.
    */
  private def withVerdict(perDoc: DataFrame): DataFrame =
    perDoc.withColumn("verdict",
      when(col("doc_id") =!= col("canon_id"), "drop_duplicate")
        .when(col("quality") < 0.5, "drop_quality")
        .when(col("predicted") =!= col("lang"), "drop_lang_mismatch")
        .otherwise("keep"))

  /** Per-doc verdicts with the EXACT canon: min doc_id per content
    * digest (q50's anchor form).
    */
  private[graft] def exactVerdicts(s: SparkSession, d: String): DataFrame = {
    val perDoc = scoredDocs(s, d)
    val canon = perDoc.groupBy("digest").agg(min(col("doc_id")).as("canon_id"))
    withVerdict(perDoc.join(canon, Seq("digest")))
  }

  /** Per-doc verdicts with the LSH canon: min doc_id per connected
    * component of the MinHash+LSH near-dup pair graph. Docs outside any
    * pair (including sub-3-token docs, which have no shingles) stay
    * their own canon via the left join + coalesce.
    */
  private[graft] def lshVerdicts(s: SparkSession, d: String): DataFrame = {
    // already materialized (FrameMemo contract) — no defensive checkpoint
    val pairs = Dedup.minhashLshPairs(s, d, threshold = 0.2)
    val labels = Dedup.dedupComponents(pairs)
      .withColumnRenamed("label", "canon_id")
    withVerdict(scoredDocs(s, d)
      .join(labels, Seq("doc_id"), "left")
      .withColumn("canon_id", coalesce(col("canon_id"), col("doc_id"))))
  }

  /** The (lang, verdict) curation report over per-doc verdicts. */
  private def report(verdicts: DataFrame): DataFrame =
    verdicts
      .groupBy("lang", "verdict")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality").cast("decimal(18,9)")).cast("double").as("sum_quality"))
      .orderBy("lang", "verdict")

  private[ops] val langScoreSql: String = LangMarkers.map { case (l, m) =>
    val set = m.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x IN ($set))) AS INTEGER) AS s_$l"
  }.mkString(",\n         ")

  /** The q22 quality formula over a pre-split `w` token list — shared
    * verbatim by the q22 and q50 oracles.
    */
  private[ops] val QualitySql =
    """0.4 * least(1.0, CAST(len(w) AS DOUBLE) / 100.0)
      |           + 0.3 * (1.0 - (CASE WHEN len(w) = 0 THEN 0.0
      |              ELSE CAST(len(list_filter(w, x -> x IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE) / len(w) END))
      |           + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0
      |              ELSE CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END)""".stripMargin

  /** The q23 argmax cascade over the s_* marker scores — shared by the
    * q23 and q50 oracles.
    */
  private[ops] val PredictedSql =
    """CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
      |            WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
      |            WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
      |            WHEN s_de >= s_zh THEN 'de'
      |            ELSE 'zh' END""".stripMargin

  /** q120's body over any (doc_id, text) frame — separated so
    * PropertiesSpec can brute-force-check the rolling logic on
    * generated docs. The rolling sums run as posexplode + a ROWS-frame
    * window, NOT as array lambdas: higher-order functions are
    * CodegenFallback (interpreted per element), and a nested
    * transform×aggregate draft ran 29 s at sf0.1 where this
    * whole-stage-codegen'd shape runs ~3 s. Scale shape: the one
    * shuffle carries (doc_id, n, pos, h) — ~28 bytes/token, never the
    * text; the sliding frame is O(1) per row; the final doc agg reuses
    * the window's doc_id partitioning (no second shuffle); the
    * doc-level md5 join is dim-sized.
    */
  def rollingFingerprintMd5(docs: DataFrame): DataFrame =
    // 48-bit md5 prefix: inside BIGINT in both engines even summed
    // 8-wide (8 * 2^48 << 2^63); DuckDB recomputes it bit-for-bit
    // via ('0x' || substr(md5, 1, 12))::BIGINT.
    // NARROW plan (r17): the r16 shape (posexplode -> doc_id-window ->
    // groupBy -> join) shuffled+sorted the token stream twice for a
    // per-doc computation; the HOF form keeps everything inside the
    // row — per-token digests via transform, 8-wide window sums via
    // aggregate over slices (full windows at starts 0..max(n-8, 0);
    // < 8 tokens degrades to one whole-doc window, the same spec) —
    // so the only exchange left is the presentation sort. tokens() of
    // an empty string is [""], so n >= 1 always and every doc emits.
    docs.select(col("doc_id"), md5(col("text")).as("content_md5"),
        tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("hs", transform(col("toks"),
        t => conv(substring(md5(t), 1, 12), 16, 10).cast("long")))
      .withColumn("wins", transform(
        sequence(lit(0), greatest(col("n") - 8, lit(0))),
        p => aggregate(slice(col("hs"), p + 1, least(lit(8), col("n"))),
          lit(0L), (acc, x) => acc + x)))
      .select(col("doc_id"), col("content_md5"), col("n").as("n_tokens"),
        array_min(col("wins")).as("fp_min"), array_max(col("wins")).as("fp_max"))

  val oracleSql: Map[String, String] = Map(
    // the probe suffix is e + chr(769) = the decomposed combining acute
    // the engine appends; both engines must compose it (len_delta = 1)
    // and agree on the md5 of the NFC bytes
    "q142_nfc_normalize" ->
      """SELECT doc_id,
        |       text = nfc_normalize(text) AS already_nfc,
        |       CAST(length(text || 'e' || chr(769))
        |            - length(nfc_normalize(text || 'e' || chr(769))) AS INTEGER)
        |         AS len_delta,
        |       md5(nfc_normalize(text || 'e' || chr(769))) AS nfc_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q120_fingerprint_md5" ->
      """WITH t AS (
        |  SELECT doc_id, md5(text) AS content_md5,
        |         string_split_regex(trim(text), '\s+') AS l
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, content_md5, len(l) AS n,
        |         unnest(l) AS tok, unnest(range(1, len(l)+1)) AS pos
        |  FROM t
        |), h AS (
        |  SELECT doc_id, content_md5, n, pos,
        |         ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h
        |  FROM tok
        |), wins AS (
        |  SELECT doc_id, content_md5, n, pos,
        |         SUM(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wsum
        |  FROM h
        |)
        |SELECT doc_id, content_md5, CAST(n AS INTEGER) AS n_tokens,
        |       CAST(MIN(wsum) AS BIGINT) AS fp_min,
        |       CAST(MAX(wsum) AS BIGINT) AS fp_max
        |FROM wins
        |WHERE pos <= greatest(n - 7, 1)
        |GROUP BY doc_id, content_md5, n
        |ORDER BY doc_id""".stripMargin,

    // expression SHAPE mirrors the Spark side exactly (same literals,
    // same association) so every double derives identically; the hash
    // compares round(score, 6)
    "q115_bm25_retrieval" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(len(w) AS BIGINT) AS dl,
        |         CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf2
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(dl) AS BIGINT) AS sum_dl,
        |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM base
        |), scored AS (
        |  SELECT b.doc_id, b.dl, b.tf0, b.tf1, b.tf2,
        |         ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0)
        |           * (CAST(tf0 AS DOUBLE) * 2.2)
        |           / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
        |       + ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
        |           * (CAST(tf1 AS DOUBLE) * 2.2)
        |           / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
        |       + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
        |           * (CAST(tf2 AS DOUBLE) * 2.2)
        |           / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
        |         AS score
        |  FROM base b, stats
        |)
        |SELECT doc_id, dl, tf0, tf1, tf2, ROUND(score, 6) AS score_r
        |FROM scored
        |ORDER BY score_r DESC, doc_id
        |LIMIT 10""".stripMargin,

    "q76_tfidf_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, tok AS term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        |), scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |         CAST(t.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / d.df AS score
        |  FROM tf t JOIN dfreq d USING (term)
        |), ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |                 ORDER BY score DESC, term) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, term, tf, df, score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q59_top_tokens" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin,

    "q21_text_stats" ->
      """SELECT doc_id,
        |       CAST(length(text) AS INTEGER) AS n_chars_actual,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
        |       CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INTEGER) AS n_uniq_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q22_text_quality" ->
      """SELECT *,
        |       CASE WHEN quality >= 0.8 THEN 'high'
        |            WHEN quality >= 0.5 THEN 'medium'
        |            ELSE 'low' END AS quality_bucket
        |FROM (
        |  SELECT doc_id,
        |         CASE WHEN len(w) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(w, x -> x IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE) / len(w) END AS stopword_ratio,
        |         CASE WHEN len(w) = 0 THEN 0.0
        |              ELSE CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END AS uniq_ratio,
        |         CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / length(text) END AS punct_ratio,
        |         0.4 * least(1.0, CAST(len(w) AS DOUBLE) / 100.0)
        |           + 0.3 * (1.0 - (CASE WHEN len(w) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(w, x -> x IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE) / len(w) END))
        |           + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0
        |              ELSE CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END) AS quality
        |  FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |)
        |ORDER BY doc_id""".stripMargin,

    "q23_langid" ->
      s"""SELECT *,
         |       CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
         |            WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
         |            WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
         |            WHEN s_de >= s_zh THEN 'de'
         |            ELSE 'zh' END AS predicted,
         |       CAST((CASE WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
         |            WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
         |            WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
         |            WHEN s_de >= s_zh THEN 'de'
         |            ELSE 'zh' END) = lang AS INTEGER) AS agrees
         |FROM (
         |  SELECT doc_id, lang,
         |         $langScoreSql
         |  FROM documents
         |)
         |ORDER BY doc_id""".stripMargin,

    "q50_corpus_curation" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS w,
         |         $langScoreSql
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, lang, md5(text) AS digest,
         |         $QualitySql AS quality,
         |         $PredictedSql AS predicted
         |  FROM base
         |), canon AS (
         |  SELECT digest, MIN(doc_id) AS canon_id FROM scored GROUP BY digest
         |), verdicts AS (
         |  SELECT s.lang, s.quality,
         |         CASE WHEN s.doc_id <> c.canon_id THEN 'drop_duplicate'
         |              WHEN s.quality < 0.5 THEN 'drop_quality'
         |              WHEN s.predicted <> s.lang THEN 'drop_lang_mismatch'
         |              ELSE 'keep' END AS verdict
         |  FROM scored s JOIN canon c ON s.digest = c.digest
         |)
         |SELECT lang, verdict, COUNT(*) AS n_docs,
         |       CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE) AS sum_quality
         |FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict""".stripMargin,

    "q100_training_manifest" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS w,
         |         $langScoreSql
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, lang, md5(text) AS digest,
         |         $QualitySql AS quality,
         |         $PredictedSql AS predicted
         |  FROM base
         |), canon AS (
         |  SELECT digest, MIN(doc_id) AS canon_id FROM scored GROUP BY digest
         |), kept AS (
         |  SELECT s.doc_id, s.lang
         |  FROM scored s JOIN canon c ON s.digest = c.digest
         |  WHERE s.doc_id = c.canon_id AND s.quality >= 0.5 AND s.predicted = s.lang
         |), meta AS (
         |  SELECT doc_id,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), manifest AS (
         |  SELECT k.lang, m.n_tokens, (m.n_tokens - 1) // 24 + 1 AS n_chunks,
         |         CASE WHEN substr(md5(k.doc_id::VARCHAR), 1, 1) IN ('c','d') THEN 'validation'
         |              WHEN substr(md5(k.doc_id::VARCHAR), 1, 1) IN ('e','f') THEN 'test'
         |              ELSE 'train' END AS split
         |  FROM kept k JOIN meta m USING (doc_id)
         |)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks
         |FROM manifest
         |GROUP BY split, lang
         |ORDER BY split, lang""".stripMargin
  )

  /** Hash-based ops with no portable SQL equivalent (q52's LSH canon
    * rides xxhash64 signatures; gated against q50 in CurationLshSpec).
    * q24's fold machinery is driver-hash-gated by q223's md5-48
    * contract replay + fast-path-equivalence verdict (r19); q73's
    * accuracy envelope by q220.
    */
  override val rowsOnly: Set[String] =
    Set("q24_fingerprint", "q52_corpus_curation_lsh", "q73_top_tokens_sketch")
}
