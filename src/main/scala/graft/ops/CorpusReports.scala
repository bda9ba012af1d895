package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions.{qualityScore, tokens}

/** Corpus shaping/reporting operators: overlapping context-window
  * chunking (q83), size histograms (q84), per-source document caps
  * (q85), quality deciles (q86), and weighted sampling (q88). All
  * deterministic — selection always orders on md5/doc_id, never
  * `rand()` — so every report is reproducible run-over-run and
  * matches the DuckDB oracle bit-for-bit.
  */
object CorpusReports extends graft.QueryModule {

  /** q83 chunk geometry: 32-token windows advancing 24 tokens (8-token
    * overlap) — the long-doc → training-sample split. */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** q85: max docs kept per source. */
  val SourceCap = 15L

  /** q88: weighted sample size per language. */
  val SampleK = 5

  /** Uniform in (0, 1] from the first 8 md5 hex chars of the id —
    * portable across engines (conv ↔ '0x…'::UBIGINT). */
  private def hashUniform(id: Column): Column =
    (conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") + 1L) / 4294967296.0

  /** The (doc_id, lang, quality, n_tokens) scoring frame q86/q98 rank —
    * also the population q220's GK rank gate counts against.
    */
  private[graft] def qualityScored(s: SparkSession, d: String): DataFrame =
    // FrameMemo stored artifact (r19): the per-doc quality-score column
    // a production pipeline persists next to the corpus (the DSIR-score
    // treatment, r17). Computed THREE times per q220 invocation before
    // (the pop frame twice in the GK rank section + once under the
    // sketch) and once per q98 — under machine load those repeated
    // corpus passes were q220's 2x amplification driver (SCALING.md
    // §"q220 variance"). ~32 B/doc checkpointed.
    FrameMemo.cached(s, d, "qualityScored") {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          qualityScore(col("text")).as("quality"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
    }

  /** q98's per-language GK decile-cut sketch (lang, cuts[9], records) —
    * q98 buckets with it, q220 rank-gates each cut.
    */
  private[graft] def qualityCutSketch(s: SparkSession, d: String): DataFrame =
    qualityScored(s, d).groupBy("lang")
      .agg(expr("approx_percentile(quality, " +
        "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)").as("cuts"),
        count(lit(1)).as("records"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Overlapping chunking: each doc's whitespace tokens split into
    // 32-token windows with stride 24 — one row per (doc, chunk) with
    // its span and content digest. Narrow per-row generate (sequence +
    // posexplode): no shuffle but the presentation sort, and the output
    // carries digests + geometry, never the chunk text itself. At
    // 100 TB chunking is the row-multiplying step (3-5× rows), so
    // keeping it exchange-free matters more than anywhere else.
    "q83_doc_chunks" -> ((s, d) => {
      val w = tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .select(col("doc_id"), col("w"),
          posexplode(sequence(lit(0), size(col("w")) - 1, lit(ChunkStride))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
          col("col").as("start_tok"),
          slice(col("w"), col("col") + 1, lit(ChunkTokens)).as("chunk"))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          size(col("chunk")).as("n_tok"),
          md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Log2 size histogram per language: bucket = bit-width of n_chars
    // (length of its binary representation — exact integer math, no
    // float log2 whose boundary rounding could differ across engines).
    // One tiny aggregate; the classic corpus-shape report.
    "q84_length_histogram" -> ((s, d) => {
      val n = coalesce(col("n_chars"), lit(0L))
      Tables.documents(s, d)
        .select(col("lang"),
          when(n <= 0, 0).otherwise(length(bin(n))).cast("int").as("bucket"),
          n.as("n"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_chars"))
        .withColumn("bucket_lo",
          when(col("bucket") === 0, 0L)
            .otherwise(expr("shiftleft(1L, bucket - 1)")))
        .select("lang", "bucket", "bucket_lo", "n_docs", "total_chars")
        .orderBy("lang", "bucket")
    }),

    // Per-source document cap (the C4/RefinedWeb "no source dominates"
    // rule): keep the SourceCap docs with the smallest (md5, doc_id)
    // per source, report kept/dropped per source. The window rank is
    // exact and oracle-portable; the per-source sort it implies is the
    // part that grows with the largest source.
    "q85_source_caps" -> ((s, d) => {
      val ranked = rankedBySource(s, d)
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= SourceCap, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rk") > SourceCap, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("source")
    }),

    // Quality deciles per language: ntile(10) over (quality DESC,
    // doc_id) — the report that decides where a quality-filter
    // threshold should sit. ntile needs a per-language total order; at
    // 100 TB the same report comes from approx_percentile cutoffs
    // (q51's machinery) + a narrow bucket join — the window form here
    // is the exact anchor.
    "q86_quality_deciles" -> ((s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          qualityScore(col("text")).as("quality"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("decile", ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n_docs"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality"),
          (sum(col("n_tokens")) / count(lit(1))).as("avg_tokens"))
        .orderBy("lang", "decile")
    }),

    // The 100 TB form of q86: decile boundaries from ONE
    // approx_percentile pass (GK sketch — memory set by accuracy, not
    // cardinality), broadcast back, each doc bucketed by a narrow
    // array-scan predicate. No per-language total order anywhere. The
    // window form (q86) is the exact anchor; CorpusReportsSpec gates
    // population balance and boundary agreement between the two.
    // Rows-only: GK merge order isn't portable SQL.
    "q98_quality_deciles_approx" -> ((s, d) => {
      val scored = qualityScored(s, d)
      scored.join(broadcast(qualityCutSketch(s, d).select("lang", "cuts")), Seq("lang"))
        // ascending bucket = 1 + #cuts strictly below, flipped so
        // decile 1 is the TOP decile (q86's orientation)
        .withColumn("decile",
          (lit(10) - size(filter(col("cuts"), c => col("quality") > c)))
            .cast("int"))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n_docs"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality"),
          (sum(col("n_tokens")) / count(lit(1))).as("avg_tokens"))
        .orderBy("lang", "decile")
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis): per
    // language, the SampleK docs maximizing u^(1/w) — equivalently
    // ln(u)/w — with u hash-uniform and w = n_chars, so long docs are
    // proportionally likelier but every doc has a chance. Deterministic
    // (hash-derived u) and embarrassingly parallel: the key is narrow
    // per-row math; only the per-language top-k needs an order, and
    // top-k-per-group at scale is a bounded heap, not a sort.
    "q88_weighted_sample" -> ((s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(col("key").desc, col("doc_id"))
      Tables.documents(s, d)
        .filter(coalesce(col("n_chars"), lit(0L)) > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (log(hashUniform(col("doc_id"))) / col("n_chars")).as("key"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= SampleK)
        .select("lang", "rank", "doc_id", "n_chars")
        .orderBy("lang", "rank")
    })
  )

  /** Docs ranked within source by (md5, doc_id) — the q85 window form. */
  private def rankedBySource(s: SparkSession, d: String): DataFrame = {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")))
  }

  val oracleSql: Map[String, String] = Map(
    "q83_doc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), starts AS (
        |  SELECT doc_id, w, UNNEST(range(0, len(w), 24)) AS start_tok
        |  FROM toks
        |)
        |SELECT doc_id, CAST(start_tok // 24 AS INTEGER) AS chunk_id,
        |       CAST(start_tok AS INTEGER) AS start_tok,
        |       CAST(len(list_slice(w, start_tok + 1, start_tok + 32)) AS INTEGER) AS n_tok,
        |       md5(array_to_string(list_slice(w, start_tok + 1, start_tok + 32), ' ')) AS chunk_md5
        |FROM starts
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q84_length_histogram" ->
      """SELECT lang,
        |       CAST(CASE WHEN COALESCE(n_chars, 0) <= 0 THEN 0
        |                 ELSE length(bin(COALESCE(n_chars, 0))) END AS INTEGER) AS bucket,
        |       CAST(CASE WHEN COALESCE(n_chars, 0) <= 0 THEN 0
        |            ELSE 1 << (length(bin(COALESCE(n_chars, 0))) - 1) END AS BIGINT) AS bucket_lo,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY lang, bucket, bucket_lo
        |ORDER BY lang, bucket""".stripMargin,

    "q85_source_caps" ->
      """WITH ranked AS (
        |  SELECT source,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN rk > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM ranked
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q86_quality_deciles" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |         ${TextAnalysis.QualitySql} AS quality,
         |         len(w) AS n_tokens
         |  FROM (SELECT doc_id, lang, text,
         |          string_split_regex(trim(text), '\\s+') AS w FROM documents)
         |), tiled AS (
         |  SELECT *, NTILE(10) OVER (PARTITION BY lang
         |            ORDER BY quality DESC, doc_id) AS decile
         |  FROM scored
         |)
         |SELECT lang, CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_docs,
         |       MIN(quality) AS min_quality, MAX(quality) AS max_quality,
         |       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM tiled
         |GROUP BY lang, decile
         |ORDER BY lang, decile""".stripMargin,

    "q88_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |         ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT + 1)
        |            / 4294967296.0) / n_chars AS key
        |  FROM documents
        |  WHERE COALESCE(n_chars, 0) > 0
        |), ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |            ORDER BY key DESC, doc_id) AS rank
        |  FROM keyed
        |)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, n_chars
        |FROM ranked
        |WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin
  )

  override val rowsOnly: Set[String] = Set("q98_quality_deciles_approx")
}
