package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The vector-quality card — the embedding-side QA audit run before
  * any ANN index build or semantic dedup trusts the vectors (q184's
  * data-card twin for the embeddings table): zero-norm and
  * near-zero-norm counts (an encoder emitting degenerate vectors
  * poisons cosine math silently — a zero vector is "similar" to
  * nothing and everything depending on the convention), exact
  * duplicate vectors (collapsed representations — the embedding-grain
  * analog of q25), and constant dimensions (a dim with zero spread
  * across the corpus carries no information; a block of them means a
  * truncated or collapsed encoder).
  *
  * Determinism: components quantize to round(x·1000) (the q132 grain,
  * signed — only sums of squares and min/max follow, no division);
  * norms are exact int64 sums of squares; duplicate detection hashes
  * `array_join(q, ",")` — the one list-to-string form Spark and
  * DuckDB render identically — with md5 (the q66 digest convention).
  *
  * Scale shape: one narrow per-vector pass (norm² + digest — the
  * vector itself never enters an exchange, only the 32-byte digest
  * for the distinct), one digest DISTINCT, and one posexplode into
  * the (dim) 64-key min/max aggregate; the card is 1-row folds
  * crossed at the model edge (documented BNLJ shape).
  */
object VectorCard extends graft.QueryModule {

  /** Near-zero threshold on the quantized norm²: 10⁴ ⇔ raw ‖v‖ < 0.1. */
  private[graft] val NearT = 10000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q186_vector_card" -> ((s, d) => {
      val qv = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000.0, 0).cast("long")).as("q"))
      val perVec = qv.select(
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("norm2"),
        md5(array_join(col("q"), ",").cast("binary")).as("digest"))
      val base = perVec.agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("norm2") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(col("norm2") < NearT, 1L).otherwise(0L)).as("n_near_zero"),
        (count(lit(1)) - countDistinct(col("digest"))).as("n_dup_vecs"))
      val constDims = qv.select(posexplode(col("q")).as(Seq("dim", "qx")))
        .groupBy("dim").agg(min(col("qx")).as("lo"), max(col("qx")).as("hi"))
        .agg(sum(when(col("lo") === col("hi"), 1L).otherwise(0L))
          .as("n_const_dims"))
      base.crossJoin(constDims)
        .select(col("n_vecs"), col("n_zero_norm"), col("n_near_zero"),
          col("n_dup_vecs"), coalesce(col("n_const_dims"), lit(0L))
            .as("n_const_dims"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q186_vector_card" ->
      s"""WITH qv AS MATERIALIZED (
         |  SELECT vec_id,
         |         [CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) FOR x IN embedding] AS q
         |  FROM embeddings
         |), pervec AS (
         |  SELECT CAST(list_sum([y * y FOR y IN q]) AS BIGINT) AS norm2,
         |         md5(array_to_string(q, ',')) AS digest
         |  FROM qv
         |), base AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |         CAST(SUM(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
         |         CAST(SUM(CASE WHEN norm2 < $NearT THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero,
         |         CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT) AS n_dup_vecs
         |  FROM pervec
         |), dims AS (
         |  SELECT CAST(t.i AS INTEGER) AS dim,
         |         MIN(q[CAST(t.i AS INTEGER) + 1]) AS lo,
         |         MAX(q[CAST(t.i AS INTEGER) + 1]) AS hi
         |  FROM qv, range(64) t(i)
         |  GROUP BY 1
         |), cdims AS (
         |  SELECT COALESCE(CAST(SUM(CASE WHEN lo = hi THEN 1 ELSE 0 END) AS BIGINT), 0)
         |           AS n_const_dims
         |  FROM dims
         |)
         |SELECT n_vecs, n_zero_norm, n_near_zero, n_dup_vecs, n_const_dims
         |FROM base CROSS JOIN cdims""".stripMargin)
}
