package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q225: CROSS-MODAL DEDUP AGREEMENT — joins the visual near-dup pair
  * graph (q221's perceptual dHash pigeonhole pairs) with the text
  * near-dup pair graph (q26's exact-Jaccard pairs) over the image-doc
  * universe, and classifies every pair by which modality flagged it:
  *
  *   - `both`        — image AND text near-dups: true re-encodes/mirrors.
  *   - `visual_only` — near-duplicate IMAGES carrying DIFFERENT text:
  *     the caption-farm signal (one asset re-captioned many times — the
  *     pairs a text-only dedup pass is blind to, and exactly what a
  *     multimodal curation pass exists to catch).
  *   - `text_only`   — near-duplicate text with visually distinct
  *     media: boilerplate/template text around different assets.
  *
  * The r18 verdict's optional headroom item #6, done as a composition
  * of two STORED pair artifacts: [[ImageHash.dhashPairs]] (FrameMemo,
  * shared with q221) and [[Dedup.jaccardPairs]] (FrameMemo, shared with
  * q26/q47/q218) — the registered query is a pair-frame full-outer
  * join + a 3-row spine aggregate; nothing corpus-scale runs per call.
  * The text side is restricted to pairs whose BOTH docs are image docs
  * (doc_id % 3 < 2, the asMedia container assignment), so the two
  * graphs classify the same universe.
  *
  * Fully oracle-replayed: the visual side is the q221 contract chain
  * ([[ImageHash.dhashPairCtes]] — same SQL definition, never a fork),
  * the text side is q26's pair CTEs ([[Dedup.PairCtes]]), composed in
  * one WITH. At 100 TB both pair graphs are stored edge lists and this
  * is a broadcast-free edge-list join — linear in the pair counts.
  */
object CrossModalDedup extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q225_crossmodal_agreement" -> ((s, d) => {
      import s.implicits._
      val vis = ImageHash.dhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(true).as("visual"))
      val txt = Dedup.jaccardPairs(s, d, threshold = 0.2)
        .filter(pmod(col("doc_a"), lit(3)) < 2 && pmod(col("doc_b"), lit(3)) < 2)
        .select(col("doc_a"), col("doc_b"), lit(true).as("textual"))
      val counts = vis.join(txt, Seq("doc_a", "doc_b"), "full_outer")
        .select(when(coalesce(col("visual"), lit(false)) &&
            coalesce(col("textual"), lit(false)), "both")
          .when(coalesce(col("visual"), lit(false)), "visual_only")
          .otherwise("text_only").as("class"))
        .groupBy("class").agg(count(lit(1)).as("n_pairs"))
      // literal spine: an empty class is a 0-row, never a dropped row
      // (the q180 convention — absence IS the finding)
      Seq("both", "text_only", "visual_only").toDF("class")
        .join(counts, Seq("class"), "left")
        .na.fill(0L, Seq("n_pairs"))
        .orderBy("class")
    }),

    // q225's FOLLOW-ON (r19 verdict #6b): are the cross-modal dup pairs
    // already being dropped by the text-curation cascade? Each classed
    // pair joins the q50 per-doc verdicts (the EXACT-canon cascade —
    // oracle-replayable; CurationLshSpec gates q52's LSH cascade equal
    // to it); a pair is RESOLVED when at least one side gets any drop
    // verdict — the kept corpus then carries at most one of the two.
    // The reading: `both`/`text_only` resolve through the text dedup
    // anchor by construction (byte-identical copies), while a LOW
    // resolved share on `visual_only` is the caption-farm blind spot
    // quantified — the pairs only a multimodal pass would catch.
    // Cost shape: the two stored pair frames + the stored scoredDocs
    // verdict chain; per call = pair-frame joins (edge-list-sized) + a
    // 3-row spine. Nothing corpus-scale runs here.
    "q229_crossmodal_curation" -> ((s, d) => {
      import s.implicits._
      val vis = ImageHash.dhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(true).as("visual"))
      val txt = Dedup.jaccardPairs(s, d, threshold = 0.2)
        .filter(pmod(col("doc_a"), lit(3)) < 2 && pmod(col("doc_b"), lit(3)) < 2)
        .select(col("doc_a"), col("doc_b"), lit(true).as("textual"))
      val classed = vis.join(txt, Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"),
          when(coalesce(col("visual"), lit(false)) &&
              coalesce(col("textual"), lit(false)), "both")
            .when(coalesce(col("visual"), lit(false)), "visual_only")
            .otherwise("text_only").as("class"))
      val verdicts = TextAnalysis.exactVerdicts(s, d)
        .select(col("doc_id"), col("verdict"))
      val counts = classed
        .join(verdicts.toDF("doc_a", "va"), Seq("doc_a"))
        .join(verdicts.toDF("doc_b", "vb"), Seq("doc_b"))
        .groupBy("class")
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("va") =!= "keep" || col("vb") =!= "keep", 1))
            .as("n_resolved"))
      Seq("both", "text_only", "visual_only").toDF("class")
        .join(counts, Seq("class"), "left")
        .na.fill(0L, Seq("n_pairs", "n_resolved"))
        .withColumn("resolved_ppm",
          expr("CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT)" +
            " ELSE n_resolved * 1000000 DIV n_pairs END"))
        .orderBy("class")
    }))

  val oracleSql: Map[String, String] = Map(
    "q225_crossmodal_agreement" ->
      s"""${ImageHash.dhashPairCtes},
         |${Dedup.PairCtes},
         |tpairs AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE doc_a % 3 < 2 AND doc_b % 3 < 2
         |), u AS (
         |  SELECT v.doc_a IS NOT NULL AS visual,
         |         t.doc_a IS NOT NULL AS textual
         |  FROM vpairs v FULL JOIN tpairs t
         |    ON v.doc_a = t.doc_a AND v.doc_b = t.doc_b
         |), counts AS (
         |  SELECT CASE WHEN visual AND textual THEN 'both'
         |              WHEN visual THEN 'visual_only'
         |              ELSE 'text_only' END AS class,
         |         COUNT(*) AS n_pairs
         |  FROM u GROUP BY 1
         |)
         |SELECT s.class, COALESCE(c.n_pairs, 0) AS n_pairs
         |FROM (SELECT unnest(['both', 'text_only', 'visual_only']) AS class) s
         |LEFT JOIN counts c USING (class)
         |ORDER BY class""".stripMargin,

    // q229: the q225 pair composition extended with q50's verdict chain
    // (base/scored/canon/verdict CTEs verbatim from the q50 oracle,
    // cm_-prefixed against name collisions with the pair CTEs)
    "q229_crossmodal_curation" ->
      s"""${ImageHash.dhashPairCtes},
         |${Dedup.PairCtes},
         |tpairs AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE doc_a % 3 < 2 AND doc_b % 3 < 2
         |), classed AS (
         |  SELECT COALESCE(v.doc_a, t.doc_a) AS doc_a,
         |         COALESCE(v.doc_b, t.doc_b) AS doc_b,
         |         CASE WHEN v.doc_a IS NOT NULL AND t.doc_a IS NOT NULL THEN 'both'
         |              WHEN v.doc_a IS NOT NULL THEN 'visual_only'
         |              ELSE 'text_only' END AS class
         |  FROM vpairs v FULL JOIN tpairs t
         |    ON v.doc_a = t.doc_a AND v.doc_b = t.doc_b
         |), cm_base AS (
         |  SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS w,
         |         ${TextAnalysis.langScoreSql}
         |  FROM documents
         |), cm_scored AS (
         |  SELECT doc_id, lang, md5(text) AS digest,
         |         ${TextAnalysis.QualitySql} AS quality,
         |         ${TextAnalysis.PredictedSql} AS predicted
         |  FROM cm_base
         |), cm_canon AS (
         |  SELECT digest, MIN(doc_id) AS canon_id FROM cm_scored GROUP BY digest
         |), cm_verd AS (
         |  SELECT s.doc_id,
         |         CASE WHEN s.doc_id <> c.canon_id THEN 'drop_duplicate'
         |              WHEN s.quality < 0.5 THEN 'drop_quality'
         |              WHEN s.predicted <> s.lang THEN 'drop_lang_mismatch'
         |              ELSE 'keep' END AS verdict
         |  FROM cm_scored s JOIN cm_canon c USING (digest)
         |), ccounts AS (
         |  SELECT class, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |         CAST(COUNT(*) FILTER (WHERE va.verdict <> 'keep'
         |                                  OR vb.verdict <> 'keep') AS BIGINT)
         |           AS n_resolved
         |  FROM classed p
         |  JOIN cm_verd va ON va.doc_id = p.doc_a
         |  JOIN cm_verd vb ON vb.doc_id = p.doc_b
         |  GROUP BY class
         |)
         |SELECT s.class,
         |       COALESCE(c.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
         |       COALESCE(c.n_resolved, CAST(0 AS BIGINT)) AS n_resolved,
         |       CASE WHEN COALESCE(c.n_pairs, 0) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(c.n_resolved * 1000000 // c.n_pairs AS BIGINT)
         |       END AS resolved_ppm
         |FROM (SELECT unnest(['both', 'text_only', 'visual_only']) AS class) s
         |LEFT JOIN ccounts c USING (class)
         |ORDER BY class""".stripMargin)
}
