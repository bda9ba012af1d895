package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.ngrams

/** Directional copy-mass matrix — per ORDERED source pair (A, B):
  * what fraction of A's DISCRIMINATIVE 5-gram TOKEN MASS (occurrences,
  * not types) is 5-grams B also emits. The asymmetry is the point and
  * what both neighbors blur: q145's near-dup pairs see whole documents,
  * q195's vocabulary Jaccard is symmetric over types — but a feed that
  * is a strict SUBSET mirror of a bigger source reads ~10⁶ ppm in ITS
  * row (all its mass is elsewhere — drop it) while the big source's row
  * toward it stays small (keep it). The de-weighting decision needs
  * the direction.
  *
  * Df-cap (the q155/[[Winnowing.MaxDf]] discipline, same constant):
  * a 5-gram present in more than MaxDf distinct DOCUMENTS is boilerplate
  * (headers, licence text, templated phrases), not copying evidence —
  * it is excluded from BOTH the shared mass and the denominator, so
  * share_ppm reads "fraction of A's discriminative mass that B also
  * emits". This is also the corpus-wide scale mitigation the r16
  * SCALING.md row promised: the (source, digest) table the matrix
  * self-joins now holds only df≤cap grams, so ubiquitous grams never
  * reach the join no matter how large the corpus.
  *
  * Determinism: multiset counts are exact; shared mass sums A-side
  * counts over the digest intersection; share_ppm is a nonnegative
  * integer DIV (DIV ≡ //). Grams cross engines as md5 digests (q66
  * rule).
  *
  * Scale shape: one (gd, doc, source) 5-gram count shuffle (map-side
  * combined), a gd-PARTITIONED count window for the df cap (per-gram
  * partitions, ≤ corpus doc count each — never a global window), then
  * the capped (source, digest) fold (checkpointed — the matrix
  * self-joins it); the digest equi-join fans out ≤ min(MaxDf, |sources|)
  * rows per key into a |sources|²-key aggregate. A zero-overlap pair is
  * absent (q145 inner semantics).
  */
object CopyMass extends graft.QueryModule {

  /** The df-capped per-(source, 5-gram-digest) mass table as a FrameMemo
    * STORED ARTIFACT (r22) — the same stored-asset discipline its
    * curation siblings already stand on (q65/q66 read fiveGramPosting,
    * q155 reads the kept fingerprint posting): the 5-gram explode + md5
    * + per-doc count + df-cap window is the snapshot-build step, not
    * per-query work, and q197 was the one curation matrix still
    * re-running it inside every timed run. Deterministic: md5 digest
    * strings + exact integer sums (partition-order-independent; the q197
    * oracle hash-gates the identical derivation). Priced in Bench's
    * dsir_gram chain (the lightest chain — it reads no gram-family memo,
    * only `documents`).
    */
  private[graft] def cappedMass(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "copyMassCnt") {
      val perDoc = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(ngrams(col("text"), 5)).as("g"))
        .select(col("doc_id"), col("source"), md5(col("g").cast("binary")).as("gd"))
        .groupBy("gd", "doc_id", "source").agg(count(lit(1)).as("c"))
      perDoc
        .withColumn("df", count(lit(1)).over(Window.partitionBy("gd")))
        .filter(col("df") <= Winnowing.MaxDf)
        .groupBy("source", "gd").agg(sum(col("c")).as("c"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_copy_mass_matrix" -> ((s, d) => {
      val cnt = cappedMass(s, d)
      val totals = cnt.groupBy("source").agg(sum(col("c")).as("total_mass"))
      cnt.as("a")
        .join(cnt.as("b"),
          col("a.gd") === col("b.gd") && col("a.source") =!= col("b.source"))
        .groupBy(col("a.source").as("src"), col("b.source").as("other"))
        .agg(sum(col("a.c")).as("shared_mass"), count(lit(1)).as("shared_types"))
        .join(totals.select(col("source").as("src"), col("total_mass")), Seq("src"))
        .select(col("src"), col("other"), col("total_mass"),
          col("shared_mass"), col("shared_types"),
          expr("shared_mass * 1000000 DIV total_mass").as("share_ppm"))
        .orderBy("src", "other")
    }))

  val oracleSql: Map[String, String] = Map(
    "q197_copy_mass_matrix" ->
      s"""WITH perdoc AS (
        |  SELECT md5(g) AS gd, doc_id, source, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, source, UNNEST(CASE WHEN len(w) >= 5
        |          THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
        |                FOR i IN range(1, len(w) - 3)]
        |          ELSE [] END) AS g
        |        FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
        |              FROM documents))
        |  GROUP BY 1, 2, 3
        |), cnt AS MATERIALIZED (
        |  SELECT source, gd, CAST(SUM(c) AS BIGINT) AS c
        |  FROM (SELECT gd, source, c FROM perdoc
        |        QUALIFY COUNT(*) OVER (PARTITION BY gd) <= ${Winnowing.MaxDf})
        |  GROUP BY 1, 2
        |), totals AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS total_mass FROM cnt GROUP BY source
        |), shared AS (
        |  SELECT a.source AS src, b.source AS other,
        |         CAST(SUM(a.c) AS BIGINT) AS shared_mass,
        |         CAST(COUNT(*) AS BIGINT) AS shared_types
        |  FROM cnt a JOIN cnt b ON a.gd = b.gd AND a.source <> b.source
        |  GROUP BY 1, 2
        |)
        |SELECT src, other, t.total_mass, shared_mass, shared_types,
        |       shared_mass * 1000000 // t.total_mass AS share_ppm
        |FROM shared JOIN totals t ON t.source = src
        |ORDER BY src, other""".stripMargin)
}
