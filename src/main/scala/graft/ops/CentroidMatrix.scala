package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Cross-label semantic-redundancy matrix — the report a mixing
  * design reads next to q78/q173's count-based plans: pairwise cosine
  * similarity between per-label embedding centroids. Two labels whose
  * centroids sit near cosine 1 contribute near-duplicate SEMANTIC mass
  * regardless of how lexically distinct their text is (the SemDeDup
  * q151 insight lifted from document grain to corpus-segment grain);
  * a mixing plan that up-weights both is double-buying the same
  * distribution. q60 publishes the centroids themselves; this is the
  * pairwise structure BETWEEN them.
  *
  * Determinism: components are quantized to round(x·1000)+1024 (the
  * q132 grain — the offset keeps centroid floor-averages in the
  * positive domain where Spark DIV ≡ DuckDB //); centroids are exact
  * integer floor-averages; dot products and squared norms are exact
  * int64 sums (|c| ≤ ~1700 ⇒ na2 ≤ 64·1700² ≈ 1.8e8, dot·10⁶ ≤ 1.2e16
  * < 2⁵³, so every double below is exact). The only float step is the
  * final cos_ppm = round(dot·10⁶ / √(na2·nb2)) — IEEE sqrt/mul/div
  * are correctly rounded, so both engines compute the identical
  * double; ROUND-half boundaries are the documented q154-class
  * measure-zero hazard.
  *
  * Scale shape: one posexplode pass collapses the corpus to ONE
  * (label, dim) shuffle of k·64 map-side-combined keys; the centroid
  * frame (k·64 rows) is checkpointed and self-joined on dim — k²·64
  * rows, model-edge work. Nothing after the first aggregate scales
  * with the corpus; labels at web scale are sources/domains (dozens),
  * not documents.
  */
object CentroidMatrix extends graft.QueryModule {

  private val Offset = 1024L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q182_centroid_redundancy" -> ((s, d) => {
      val qv = Tables.embeddings(s, d)
        .select(col("label"), posexplode(transform(col("embedding"),
          x => round(x.cast("double") * 1000.0, 0).cast("long") + Offset)))
        .toDF("label", "dim", "qx")
      val cents = qv.groupBy("label", "dim")
        .agg(expr(s"sum(qx) DIV count(*) - $Offset").as("c"))
        .localCheckpoint()
      cents.as("a")
        .join(cents.as("b"),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"),
          sum(col("a.c") * col("a.c")).as("na2"),
          sum(col("b.c") * col("b.c")).as("nb2"))
        .withColumn("cos_ppm", expr(
          "CASE WHEN na2 = 0 OR nb2 = 0 THEN 0" +
            " ELSE CAST(ROUND(CAST(dot AS DOUBLE) * 1000000.0" +
            " / SQRT(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE))) AS BIGINT) END"))
        .select(col("label_a"), col("label_b"), col("dot"), col("na2"),
          col("nb2"), col("cos_ppm"))
        .orderBy("label_a", "label_b")
    }))

  val oracleSql: Map[String, String] = Map(
    "q182_centroid_redundancy" ->
      s"""WITH qv AS MATERIALIZED (
         |  SELECT label, CAST(t.i AS INTEGER) AS dim,
         |         CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) * 1000.0) AS BIGINT)
         |           + $Offset AS qx
         |  FROM embeddings, range(64) t(i)
         |), cents AS MATERIALIZED (
         |  SELECT label, dim,
         |         CAST(SUM(qx) AS BIGINT) // COUNT(*) - $Offset AS c
         |  FROM qv GROUP BY label, dim
         |), pairs AS (
         |  SELECT a.label AS label_a, b.label AS label_b,
         |         CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
         |         CAST(SUM(a.c * a.c) AS BIGINT) AS na2,
         |         CAST(SUM(b.c * b.c) AS BIGINT) AS nb2
         |  FROM cents a JOIN cents b ON a.dim = b.dim AND a.label < b.label
         |  GROUP BY a.label, b.label
         |)
         |SELECT label_a, label_b, dot, na2, nb2,
         |       CASE WHEN na2 = 0 OR nb2 = 0 THEN 0
         |            ELSE CAST(ROUND(CAST(dot AS DOUBLE) * 1000000.0
         |              / SQRT(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE))) AS BIGINT)
         |       END AS cos_ppm
         |FROM pairs
         |ORDER BY label_a, label_b""".stripMargin)
}
