package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Market-basket affinity — the frequent-pair / association-rule read
  * (support, confidence both directions, lift) over orders-as-
  * baskets: the classic retail co-occurrence analysis the star
  * schema's BI layer was missing, and the relational twin of q183's
  * PMI (lift IS exp(PMI) over baskets instead of token windows). A
  * pair at lift ≫ 1 is a bundling/recommendation candidate; lift < 1
  * at high support is cannibalization.
  *
  * Determinism: basket semantics dedup (order, part) FIRST (a part
  * twice in one order is one basket membership); support and both
  * confidences are nonnegative ppm integer DIVs; lift is the one
  * float step — n_orders·n_ab·10⁶ overflows int64 at corpus scale,
  * so it uses the q182/q194 pinned cast-mul-div-ROUND order. Top-50
  * by (lift_ppm desc, part_a, part_b) is a total order on integers.
  *
  * Scale shape: one (order, part) DISTINCT pass (map-side combined,
  * checkpointed — reused by items and pairs); the pair join is an
  * ORDER-key equi-join whose fanout is basket-size² (TPC-H ~4 lines
  * → ~16, never corpus²); item counts fold per part; the min-support
  * filter prunes before the dim-sized lift join; the 1-row
  * basket-total fold crosses at the model edge (documented BNLJ).
  * The final top-50 is a TakeOrdered heap.
  */
object BasketAffinity extends graft.QueryModule {

  /** Hapax-pair guard (the q183 discipline at basket grain): a pair
    * seen once is noise whatever its lift. 2, not q183's 5 — TPC-H-
    * style baskets are near-random draws from a huge part catalog, so
    * repeat pairs are the signal and the hapax tail (~97% of pairs)
    * is what the guard exists to drop; a denser real catalog would
    * raise it.
    */
  private[graft] val MinSupport = 2L

  private[graft] val TopK = 50

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q203_basket_affinity" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint()
      val items = baskets.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val nOrders = baskets.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val pairs = baskets.as("a")
        .join(baskets.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= MinSupport)
      pairs
        .join(items.select(col("pk").as("part_a"), col("c").as("c_a")), Seq("part_a"))
        .join(items.select(col("pk").as("part_b"), col("c").as("c_b")), Seq("part_b"))
        .crossJoin(nOrders)
        .select(col("part_a"), col("part_b"), col("n_ab"), col("c_a"), col("c_b"),
          expr("n_ab * 1000000 DIV n_orders").as("support_ppm"),
          expr("n_ab * 1000000 DIV c_a").as("conf_a_ppm"),
          expr("n_ab * 1000000 DIV c_b").as("conf_b_ppm"),
          expr("CAST(ROUND(CAST(n_orders AS DOUBLE) * CAST(n_ab AS DOUBLE)" +
            " * 1000000.0 / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)))" +
            " AS BIGINT)").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
        .limit(TopK)
    }))

  val oracleSql: Map[String, String] = Map(
    "q203_basket_affinity" ->
      s"""WITH baskets AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), items AS (
         |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY pk
         |), n_ord AS (
         |  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM baskets
         |), pairs AS (
         |  SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport
         |)
         |SELECT part_a, part_b, n_ab, ia.c AS c_a, ib.c AS c_b,
         |       n_ab * 1000000 // n.n_orders AS support_ppm,
         |       n_ab * 1000000 // ia.c AS conf_a_ppm,
         |       n_ab * 1000000 // ib.c AS conf_b_ppm,
         |       CAST(ROUND(CAST(n.n_orders AS DOUBLE) * CAST(n_ab AS DOUBLE)
         |         * 1000000.0 / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE)))
         |         AS BIGINT) AS lift_ppm
         |FROM pairs
         |JOIN items ia ON ia.pk = part_a
         |JOIN items ib ON ib.pk = part_b
         |CROSS JOIN n_ord n
         |ORDER BY lift_ppm DESC, part_a, part_b
         |LIMIT $TopK""".stripMargin)
}
