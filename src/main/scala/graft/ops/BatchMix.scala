package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Batch-composition audit under the deterministic global shuffle —
  * the dataloader-side closing of the mixing story: q78/q173 decide
  * how much of each source to train on, q70 packs sequences, but the
  * batches the optimizer actually sees are made by the SHUFFLE, and
  * a shuffle that leaves batches source-homogeneous feeds correlated
  * gradients however good the mix plan was. Documents order by
  * md5(doc_id) (the q54 hash-determinism argument applied to the
  * dataloader — reproducible across runs AND engines, no RNG state),
  * cut into batches of [[B]]; per batch the audit takes size,
  * distinct sources, and the dominant-source count, then collapses
  * to the (distinct_sources) histogram — scale-free output: batches
  * with few distinct sources ARE the finding.
  *
  * Determinism: ordering is (md5 digest, doc_id) — total and
  * portable; batch cut and all stats are integer ops; dominance uses
  * max(count), no tie-break needed (only the count is reported).
  *
  * Scale shape: the rank is the q176 two-phase range exchange (never
  * a single-partition window); then ONE (batch, source) map-side-
  * combined aggregate, a batch-key aggregate (n/B keys), and the
  * ≤|sources|-row histogram. Everything past the rank is counts.
  */
object BatchMix extends graft.QueryModule {

  /** Documents per training batch. */
  private[graft] val B = 32L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q198_batch_mix_audit" -> ((s, d) => {
      val ranked = BatchPlan.withGlobalRank(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string").cast("binary")).as("h")),
        Seq(col("h").asc, col("doc_id").asc))
        .select(expr(s"rn DIV $B").as("batch"), col("source"))
      val perBatch = ranked.groupBy("batch", "source")
        .agg(count(lit(1)).as("c"))
        .groupBy("batch")
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("distinct_sources"),
          max(col("c")).as("dominant"))
      perBatch.groupBy("distinct_sources")
        .agg(count(lit(1)).as("n_batches"), sum(col("n_docs")).as("docs"),
          max(col("dominant")).as("max_dominant"),
          sum(col("dominant")).as("dominant_sum"))
        .select(col("distinct_sources"), col("n_batches"), col("docs"),
          col("max_dominant"),
          expr("dominant_sum * 1000000 DIV docs").as("dominance_ppm"))
        .orderBy("distinct_sources")
    }))

  val oracleSql: Map[String, String] = Map(
    "q198_batch_mix_audit" ->
      s"""WITH ranked AS (
         |  SELECT (ROW_NUMBER() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) - 1) // $B
         |           AS batch, source
         |  FROM documents
         |), per_batch AS (
         |  SELECT batch, CAST(SUM(c) AS BIGINT) AS n_docs,
         |         CAST(COUNT(*) AS BIGINT) AS distinct_sources,
         |         CAST(MAX(c) AS BIGINT) AS dominant
         |  FROM (SELECT batch, source, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM ranked GROUP BY batch, source)
         |  GROUP BY batch
         |)
         |SELECT distinct_sources, CAST(COUNT(*) AS BIGINT) AS n_batches,
         |       CAST(SUM(n_docs) AS BIGINT) AS docs,
         |       CAST(MAX(dominant) AS BIGINT) AS max_dominant,
         |       CAST(SUM(dominant) AS BIGINT) * 1000000
         |         // CAST(SUM(n_docs) AS BIGINT) AS dominance_ppm
         |FROM per_batch
         |GROUP BY distinct_sources
         |ORDER BY distinct_sources""".stripMargin)
}
