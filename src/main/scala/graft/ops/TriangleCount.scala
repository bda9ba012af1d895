package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q211: exact triangle counting on the undirected q89 kNN graph —
  * the local-clustering signal next to the graph family's PageRank
  * (q93/q118) and label propagation (q191): a node in many triangles
  * sits inside a tight semantic cluster; triangle-free hub nodes are
  * the bridges/outliers a curation pass inspects. Plan: canonical
  * a<b<c edge-join enumeration (each triangle found exactly once) —
  * the standard distributed scheme (Suri & Vassilvitskii, WWW'11),
  * with the per-key fanout bounded by kNN degrees (out-degree ≤
  * GraphK; the join's Σdeg² bound is the q191/q151 cell discipline).
  *
  * Determinism: the edge set is the memoized exact kNN graph (q89's
  * oracle-shared CTE — hash-free, cosine-ranked); triangle existence
  * and per-node counts are exact integer aggregates. Per-node rows:
  * only nodes in ≥1 triangle appear (inner semantics, the q145 rule).
  *
  * Scale shape: the undirected edge list is |V|·GraphK rows (already
  * checkpointed by FrameMemo); one edge⋈edge join keyed on the shared
  * middle node, one membership join on (a, c), one 3-way explode into
  * a per-node count. Nothing touches raw vectors.
  */
object TriangleCount extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q211_knn_triangles" -> ((s, d) => {
      val edges = SimilaritySearch.knnGraphExact(s, d)
        .select(least(col("vec_id"), col("neighbor_id")).as("a"),
          greatest(col("vec_id"), col("neighbor_id")).as("b"))
        .distinct()
        .localCheckpoint() // self-joined three ways below
      val tri = edges.as("e1")
        .join(edges.as("e2"), col("e2.a") === col("e1.b"))
        .join(edges.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("vec_id")
    }))

  val oracleSql: Map[String, String] = Map(
    "q211_knn_triangles" ->
      s"""WITH knn AS (${SimilaritySearch.knnExactOracleInner}),
         |und AS (
         |  SELECT DISTINCT LEAST(vec_id, neighbor_id) AS a,
         |         GREATEST(vec_id, neighbor_id) AS b
         |  FROM knn
         |), tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1
         |  JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
         |)
         |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM (
         |  SELECT x AS vec_id FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri
         |)
         |GROUP BY vec_id
         |ORDER BY vec_id""".stripMargin)
}
