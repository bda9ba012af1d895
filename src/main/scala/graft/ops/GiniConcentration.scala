package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Revenue-concentration report — the Lorenz curve over customer
  * spend deciles plus the Gini coefficient: the standard inequality
  * read next to q205's ABC cut (ABC answers "where do I draw the
  * line", Gini answers "how unequal is the whole distribution" in
  * one comparable-across-snapshots number) and the revenue twin of
  * the q78/q173 source-imbalance story. Deciles are customers ranked
  * by spend ascending, so cum_share is literally the Lorenz curve
  * sampled at 10%-iles.
  *
  * Determinism: spend quantizes per order to cents before summing;
  * ranks come from the q176 two-phase exchange (never a global
  * window over customers); decile geometry is the q202 (rank·10) DIV
  * n + 1 rule; Gini uses the exact rank-weighted identity
  * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending ranks i ∈ 1..n —
  * Σi·xᵢ is an exact int64 (rank ≤ n, cents ≤ per-customer spend;
  * ~2·10¹⁷ at sf0.1), and the final ratio plus the share columns are
  * the q182/q194 pinned cast-mul-div-ROUND (deterministic past 2⁵³
  * too). The only window is the cumulative pass over the 10-row
  * decile frame (the q181 allowlisted shape).
  *
  * Scale shape: one (customer) map-side-combined fold over orders,
  * one range exchange, one decile aggregate, 1-row total/Gini folds
  * crossed at the model edge (documented BNLJ), 10 output rows.
  */
object GiniConcentration extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_revenue_gini" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("cust"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val ranked = BatchPlan
        .withGlobalRank(spend, Seq(col("cents").asc, col("cust").asc))
        .localCheckpoint()
      val totals = ranked.agg(count(lit(1)).as("n"), sum(col("cents")).as("total"),
        sum((col("rn") + 1L) * col("cents")).as("rank_mass"))
      val deciles = ranked.crossJoin(totals.select(col("n")))
        .groupBy(expr("CAST(rn * 10 DIV n + 1 AS INT)").as("decile"))
        .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
      val cum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deciles.crossJoin(totals)
        .withColumn("cum_cents", sum(col("cents")).over(cum))
        .select(col("decile"), col("n_customers"), col("cents"),
          expr("CAST(ROUND(CAST(cents AS DOUBLE) * 1000000.0" +
            " / CAST(total AS DOUBLE)) AS BIGINT)").as("share_ppm"),
          expr("CAST(ROUND(CAST(cum_cents AS DOUBLE) * 1000000.0" +
            " / CAST(total AS DOUBLE)) AS BIGINT)").as("cum_share_ppm"),
          expr("CAST(ROUND((2.0 * CAST(rank_mass AS DOUBLE)" +
            " - (CAST(n AS DOUBLE) + 1.0) * CAST(total AS DOUBLE)) * 1000000.0" +
            " / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))) AS BIGINT)")
            .as("gini_ppm"))
        .orderBy("decile")
    }))

  val oracleSql: Map[String, String] = Map(
    "q207_revenue_gini" ->
      """WITH spend AS MATERIALIZED (
        |  SELECT o_custkey AS cust,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), ranked AS (
        |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, cust) - 1 AS rn
        |  FROM spend
        |), totals AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS total,
        |         CAST(SUM((rn + 1) * cents) AS BIGINT) AS rank_mass
        |  FROM ranked
        |), deciles AS (
        |  SELECT CAST(rn * 10 // t.n + 1 AS INT) AS decile,
        |         CAST(COUNT(*) AS BIGINT) AS n_customers,
        |         CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM ranked CROSS JOIN totals t
        |  GROUP BY 1
        |)
        |SELECT decile, n_customers, cents,
        |       CAST(ROUND(CAST(cents AS DOUBLE) * 1000000.0
        |         / CAST(t.total AS DOUBLE)) AS BIGINT) AS share_ppm,
        |       CAST(ROUND(CAST(SUM(cents) OVER (ORDER BY decile
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         * 1000000.0 / CAST(t.total AS DOUBLE)) AS BIGINT) AS cum_share_ppm,
        |       CAST(ROUND((2.0 * CAST(t.rank_mass AS DOUBLE)
        |         - (CAST(t.n AS DOUBLE) + 1.0) * CAST(t.total AS DOUBLE)) * 1000000.0
        |         / (CAST(t.n AS DOUBLE) * CAST(t.total AS DOUBLE))) AS BIGINT) AS gini_ppm
        |FROM deciles CROSS JOIN totals t
        |ORDER BY decile""".stripMargin)
}
