package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** RFM customer segmentation — the classic warehouse-side marketing
  * cut (recency / frequency / monetary quartile codes, segment
  * 111–444) the star schema's BI layer was missing next to q63's
  * grouping sets and q95/q201's behavioral reads: per customer the
  * days since last order, order count, and lifetime cents, each
  * scored into population quartiles (4 = best), collapsed to
  * per-segment counts and value mass. Segment 444 is the
  * keep-at-all-cost list; a fat 144 (recent, rare, big) is a
  * different campaign than a fat 411.
  *
  * Determinism: order dates reduce to integer epoch days; money
  * quantizes per ORDER to cents via ROUND(x·100) (exact same IEEE
  * mul/round both engines) BEFORE summing; quartile scores are
  * (rank·4) DIV n + 1 on the 0-based global rank with custkey
  * tie-break — all integer, the q199 rank-convention philosophy
  * applied to NTILE (whose engine-side geometry this reproduces
  * without a global window).
  *
  * Scale shape: one (customer) map-side-combined fold over orders;
  * the three ranks are q176 two-phase range exchanges over the
  * customer-dim-sized frame (never a single-partition window); the
  * 1-row reference-day/population fold crosses at the model edge
  * (documented BNLJ); the output is ≤64 segment rows. Customers with
  * no orders are the q09 anti-join population — excluded here by
  * construction.
  */
object RfmSegments extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_rfm_segments" -> ((s, d) => {
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("cust"))
        .agg(max(expr("datediff(to_date(o_orderdate), DATE '1970-01-01')"))
          .cast("long").as("last_day"),
          count(lit(1)).as("freq"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .localCheckpoint()
      val refN = perCust.agg(max(col("last_day")).as("ref_day"),
        count(lit(1)).as("n"))
      val base = perCust.crossJoin(refN)
        .withColumn("recency", col("ref_day") - col("last_day"))
      def score(df: DataFrame, order: Seq[Column], out: String): DataFrame =
        BatchPlan.withGlobalRank(df, order)
          .withColumn(out, expr("CAST(rn * 4 DIV n + 1 AS INT)"))
          .drop("rn", "pid")
      val scored = score(
        score(
          score(base, Seq(col("recency").desc, col("cust").asc), "r_score"),
          Seq(col("freq").asc, col("cust").asc), "f_score"),
        Seq(col("cents").asc, col("cust").asc), "m_score")
      scored
        .groupBy(expr("CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)")
          .as("segment"))
        .agg(count(lit(1)).as("n_customers"), sum(col("freq")).as("orders"),
          sum(col("cents")).as("cents"))
        .orderBy("segment")
    }))

  val oracleSql: Map[String, String] = Map(
    "q202_rfm_segments" ->
      """WITH per_cust AS MATERIALIZED (
        |  SELECT o_custkey AS cust,
        |         CAST(MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT)
        |           AS last_day,
        |         CAST(COUNT(*) AS BIGINT) AS freq,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), ref AS (
        |  SELECT MAX(last_day) AS ref_day, CAST(COUNT(*) AS BIGINT) AS n FROM per_cust
        |), base AS (
        |  SELECT p.cust, p.freq, p.cents, r.ref_day - p.last_day AS recency, r.n
        |  FROM per_cust p CROSS JOIN ref r
        |), srk AS (
        |  SELECT cust, freq, cents, n,
        |         (ROW_NUMBER() OVER (ORDER BY recency DESC, cust) - 1) * 4 // n + 1 AS r_score,
        |         (ROW_NUMBER() OVER (ORDER BY freq, cust) - 1) * 4 // n + 1 AS f_score,
        |         (ROW_NUMBER() OVER (ORDER BY cents, cust) - 1) * 4 // n + 1 AS m_score
        |  FROM base
        |)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
        |       CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(freq) AS BIGINT) AS orders,
        |       CAST(SUM(cents) AS BIGINT) AS cents
        |FROM srk
        |GROUP BY 1
        |ORDER BY segment""".stripMargin)
}
