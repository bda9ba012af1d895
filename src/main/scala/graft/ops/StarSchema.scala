package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Star-schema construction over the driver testdata, re-expressing the
  * reference's medallion/star capabilities Spark-first:
  *
  *   - dims with deterministic surrogate keys (reference
  *     `load_to_postgres.py:19-56` / `SQL/01_create_schema.sql:1-22`):
  *     `row_number` over sorted natural keys — NOT
  *     `monotonically_increasing_id()`, which is partition-dependent and
  *     therefore nondeterministic on a cluster.
  *   - facts at (region, year, month) grain (reference
  *     `silver_to_gold.py:64-84` carbon-intensity mart): pre-aggregate
  *     BEFORE joining dims, so the join input is |regions × months| rows,
  *     not |lineitem| rows.
  *
  * Scale notes (100 TB): `region`/`nation` are constant-size → always
  * `broadcast()`. `customer` scales with SF → leave it to Catalyst/AQE
  * (shuffle-hash or broadcast depending on actual size). The only
  * unavoidable big shuffles are lineitem⋈orders (on orderkey) and the
  * group-bys, which are partial-aggregated map-side by Spark.
  */
object StarSchema {

  /** Exact, order-independent SUM of a 2-decimal money column: cast to
    * DECIMAL first so Spark's partial/final aggregation order (which is
    * nondeterministic under shuffle) cannot perturb the result, then back
    * to double for a stable output schema. Matches
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)` in the DuckDB oracle.
    */
  def sumMoney(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Same, for per-row derived money expressions (e.g. price*(1-disc))
    * that carry up to 4 exact decimal digits.
    */
  def sumMoney6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(22,6)")).cast("double")

  /** Orders enriched with region name + (year, month) — the testdata
    * analog of the reference's (region, date) grain
    * (`silver_to_gold.py:28-34`). customer⋈nation⋈region collapses to
    * broadcast joins; orders⋈customer shuffles on custkey.
    */
  def orderRegion(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      year(col("o_orderdate")).as("year"),
      month(col("o_orderdate")).as("month"))
    o.join(custRegion(s, d), o("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("region_name"), col("year"), col("month"))
  }

  /** THE (c_custkey → region_name) dim chain — customer⋈nation⋈region
    * with the tiny sides broadcast and customer (the dim that GROWS
    * with scale factor) left to the planner: AQE broadcasts it when it
    * fits, shuffle-joins it when it doesn't. Shared by every consumer
    * (orderRegion, the incremental gold partials, streaming
    * enrichment) so the derivation can never diverge between the batch
    * and streaming paths.
    */
  def custRegion(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_regionkey")
    val r = Tables.region(s, d).select(col("r_regionkey"), col("r_name").as("region_name"))
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("c_custkey"), col("region_name"))
  }

  /** The carbon-intensity-mart analog (`silver_to_gold.py:64-84`):
    * per (region, year, month): total quantity, total discounted revenue,
    * and null-safe revenue-per-quantity (P9: explicit `when`-null on zero
    * divisor, not non-ANSI Divide behavior).
    */
  def factMonthly(s: SparkSession, d: String): DataFrame = {
    // EAGER AGGREGATION below the join: collapse lineitem to one row per
    // orderkey BEFORE joining orders — exact, because the final grouping
    // keys (region, year, month) are functionally dependent on orderkey
    // through orders, and sums of per-order decimal sums equal the flat
    // decimal sum. The orderkey shuffle then moves |orders| pre-combined
    // rows instead of |lineitem| raw rows (4x here, ~7x at TPC-H scale)
    // — the aggregate-below-join rewrite Catalyst doesn't do itself.
    val perOrder = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("o_qty"), // integral-valued doubles: exact in any order
        sum(col("rev").cast("decimal(22,6)")).as("o_rev")) // stay DECIMAL until the final sum
    val joined = perOrder.join(
      orderRegion(s, d).withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"))
    val agg = joined.groupBy("region_name", "year", "month").agg(
      sum(col("o_qty")).as("total_qty"),
      sum(col("o_rev")).cast("double").as("total_revenue"))
    agg.withColumn("rev_per_qty",
      col("total_revenue") /
        when(col("total_qty") === 0, lit(null)).otherwise(col("total_qty")))
  }

  /** Deterministic surrogate-keyed region dim (M3/D2/O3). The single
    * global window over a 5-row distinct input is intentionally cheap —
    * dims are small by definition; facts never use a global window.
    */
  def dimRegion(s: SparkSession, d: String): DataFrame =
    graft.pipeline.StarOps.buildDim(
      Tables.region(s, d).select(col("r_name").as("region_name")),
      "region_id", "region_name")

  /** (year, month) time dim from the union of orders and events time
    * domains (D3: distinct pairs from multiple marts,
    * `load_to_postgres.py:138-141` — but sorted, so ids are deterministic;
    * SURVEY §7.4.5).
    */
  def dimTime(s: SparkSession, d: String): DataFrame = {
    val fromOrders = Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("year"), month(col("o_orderdate")).as("month"))
    val fromEvents = Tables.events(s, d)
      .select(year(col("ts")).as("year"), month(col("ts")).as("month"))
    graft.pipeline.StarOps.buildDim(fromOrders.union(fromEvents),
      "time_id", "year", "month")
  }

  /** Fact with surrogate keys: broadcast-join the dims onto the
    * pre-aggregated fact (J3/J4 — the reference's python dict lookup
    * collapses into broadcast hash joins inside one plan,
    * `load_to_postgres.py:59-68,152-180`).
    */
  def factMonthlyKeyed(s: SparkSession, d: String): DataFrame =
    factMonthly(s, d)
      .join(broadcast(dimRegion(s, d)), Seq("region_name"))
      .join(broadcast(dimTime(s, d)), Seq("year", "month"))
      .select("region_id", "time_id", "region_name", "year", "month",
        "total_qty", "total_revenue", "rev_per_qty")
}
