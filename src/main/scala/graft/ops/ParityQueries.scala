package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.StarSchema._

/** Reference-parity query surface (SURVEY.md §2), re-expressed over the
  * driver testdata. Each query has a matching ANSI-SQL oracle for DuckDB.
  *
  * Determinism rules (every query obeys them so value-hash compares are
  * stable run-to-run AND engine-to-engine):
  *   - money aggregates go through DECIMAL (order-independent), then back
  *     to DOUBLE; scalar double arithmetic afterwards is IEEE-identical
  *     in Spark and DuckDB;
  *   - every ORDER BY is a total order (tie-breaker columns appended);
  *   - null ordering is always explicit (Spark ASC defaults nulls-first,
  *     DuckDB defaults nulls-last — never rely on a default);
  *   - SQL casts mirror Spark result types (year() is INT in Spark,
  *     BIGINT in DuckDB, etc.).
  */
object ParityQueries extends graft.QueryModule {

  /** Shared oracle CTEs: region-enriched orders + monthly revenue fact
    * (the reference star schema, SQL/01_create_schema.sql, over testdata).
    */
  private val StarCte =
    """WITH order_region AS (
      |  SELECT o.o_orderkey, r.r_name AS region_name,
      |         CAST(year(o.o_orderdate) AS INTEGER) AS year,
      |         CAST(month(o.o_orderdate) AS INTEGER) AS month
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |), fact_monthly AS (
      |  SELECT region_name, year, month,
      |         SUM(l.l_quantity) AS total_qty,
      |         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_revenue
      |  FROM lineitem l JOIN order_region o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY region_name, year, month
      |), fact_ci AS (
      |  SELECT *, total_revenue / NULLIF(total_qty, 0) AS rev_per_qty
      |  FROM fact_monthly
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // U1 + A5 — UNION ALL of labeled counts (SQL/03_analysis_queries.sql:4-10)
    "q01_table_counts" -> ((s, d) => {
      val names = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      names.map { n =>
        Tables.table(s, d, n).agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("table_name"), col("n_rows"))
      }.reduce(_ union _).orderBy("table_name")
    }),

    // J1/J5 + A3 + P9 + O1 — monthly intensity by region (analysis Q2)
    "q02_monthly_intensity" -> ((s, d) =>
      factMonthly(s, d).orderBy("region_name", "year", "month")),

    // W1 + P6 — top-5 months per region by intensity (analysis Q3)
    "q03_topk_months_per_region" -> ((s, d) => {
      val w = Window.partitionBy("region_name")
        .orderBy(col("rev_per_qty").desc_nulls_last, col("year"), col("month"))
      factMonthly(s, d)
        .select(col("region_name"), col("year"), col("month"), col("rev_per_qty"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 5)
        .orderBy("region_name", "rn")
    }),

    // A6 + C7 + J6 + O2 — group avg + round per brand (analysis Q4)
    "q04_avg_price_by_brand" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select("l_partkey", "l_extendedprice")
      val p = Tables.part(s, d).select("p_partkey", "p_brand")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(
          round(sumMoney(col("l_extendedprice")) / count(lit(1)), 2).as("avg_price"),
          count(lit(1)).as("records"))
        .orderBy(col("avg_price").desc_nulls_last, col("p_brand"))
    }),

    // J5 + O1 — intensity ordered by time then region (analysis Q5)
    "q05_intensity_by_time" -> ((s, d) =>
      factMonthly(s, d).orderBy("year", "month", "region_name")),

    // P5 + A7 — null-intensity audit (analysis Q6)
    "q06_null_intensity_count" -> ((s, d) =>
      factMonthly(s, d).filter(col("rev_per_qty").isNull)
        .agg(count(lit(1)).as("null_intensity_rows"))),

    // P4 + J5 + O2 — equality filter + star join + sort desc (analysis Q7)
    "q07_star_filter_year" -> ((s, d) =>
      factMonthly(s, d).filter(col("year") === 2000)
        .select("region_name", "year", "month", "rev_per_qty")
        .orderBy(col("rev_per_qty").desc_nulls_last, col("region_name"), col("month"))),

    // D1/D2 — distinct projection (dedup)
    "q08_distinct_flags" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).as("ship_year"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "ship_year")),

    // J2 — left anti join (insert-missing pattern, load_to_postgres.py:29-35)
    "q09_customers_no_orders" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // left semi join + group count (EXISTS)
    "q10_segments_with_orders" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("customers"))
        .orderBy("c_mktsegment")
    }),

    // C1-C3 — cleaning scalars: trim, regexp extract, try_cast, date truncation
    "q11_clean_events" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        trim(col("event_type")).as("event_type_clean"),
        col("ts").cast("date").as("day"),
        expr("""try_cast(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT)""").as("k"))
        .orderBy("event_id")),

    // A4 — exact (interpolating) median per group
    "q12_median_quantity" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("med_qty"),
          count(lit(1)).as("records"))
        .orderBy("l_returnflag")),

    // P2 + P3 + D1 — range predicate, not-null, full-row dedup
    "q13_range_filter" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("value").between(10, 150) && col("ts").isNotNull)
        .dropDuplicates()
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // P7 + P8 — CASE season factor + clamp at zero (generate_energy_emissions.py:42,55)
    "q14_seasonal_case" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("year"), month(col("o_orderdate")).as("month"))
        .agg(sumMoney(col("o_totalprice")).as("month_total"))
        .withColumn("factor",
          when(col("month").isin(12, 1, 2), 1.25)
            .when(col("month").isin(6, 7, 8), 1.10)
            .otherwise(1.0))
        .withColumn("adj_total", col("month_total") * col("factor"))
        .withColumn("over_base", greatest(lit(0.0), col("month_total") - lit(5.0e7)))
        .orderBy("year", "month")),

    // S7 + J7 — row generator: date sequence × dims cross join
    "q15_date_dim_gen" -> ((s, d) => {
      val days = s.range(1).select(explode(
        sequence(to_date(lit("2024-01-01")), to_date(lit("2024-01-31")),
          expr("interval 1 day"))).as("day"))
      days.crossJoin(Tables.region(s, d).select(col("r_name").as("region_name")))
        .orderBy("day", "region_name")
    }),

    // M3 + D2 + O3 — deterministic surrogate-keyed dim
    "q16_dim_region" -> ((s, d) =>
      dimRegion(s, d).select("region_name", "region_id").orderBy("region_id")),

    // D3 — time dim from union of two time domains
    "q17_dim_time" -> ((s, d) =>
      dimTime(s, d).select("year", "month", "time_id").orderBy("time_id")),

    // M1 — dim upsert: insert-if-absent via anti join, ids continue
    "q18_upsert_dim" -> ((s, d) => {
      val n = Tables.nation(s, d)
      def withNations(t: DataFrame, key: String) =
        n.join(t, n("n_nationkey") === t(key), "left_semi")
      val base = graft.pipeline.StarOps.buildDim(
        withNations(Tables.customer(s, d), "c_nationkey"), "id", "n_name")
      graft.pipeline.StarOps.upsertDim(base,
          withNations(Tables.supplier(s, d), "s_nationkey"), "id", "n_name")
        .orderBy("id")
    }),

    // M2 — fact upsert: updates override base on PK (insert-or-update)
    "q19_upsert_fact" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def totals(status: String) = o.filter(col("o_orderstatus") === status)
        .groupBy("o_custkey").agg(sumMoney(col("o_totalprice")).as("total"))
      val base = totals("F").as("b")
      val upd = totals("O").as("u")
      base.join(upd, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("u.total"), col("b.total")).as("total"),
          when(col("u.total").isNotNull, lit("updated")).otherwise(lit("base")).as("src"))
        .orderBy("o_custkey")
    }),

    // J3/J4 + M3 — full star: fact with surrogate keys via broadcast dims
    "q20_fact_star_keyed" -> ((s, d) =>
      factMonthlyKeyed(s, d).orderBy("region_id", "time_id"))
  )

  val oracleSql: Map[String, String] = Map(
    "q01_table_counts" ->
      """SELECT * FROM (
        |  SELECT 'region' AS table_name, COUNT(*) AS n_rows FROM region
        |  UNION ALL SELECT 'nation', COUNT(*) FROM nation
        |  UNION ALL SELECT 'customer', COUNT(*) FROM customer
        |  UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        |  UNION ALL SELECT 'part', COUNT(*) FROM part
        |  UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |  UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |) ORDER BY table_name""".stripMargin,

    "q02_monthly_intensity" ->
      s"""$StarCte
         |SELECT * FROM fact_ci ORDER BY region_name, year, month""".stripMargin,

    "q03_topk_months_per_region" ->
      s"""$StarCte, ranked AS (
         |  SELECT region_name, year, month, rev_per_qty,
         |         CAST(ROW_NUMBER() OVER (
         |           PARTITION BY region_name
         |           ORDER BY rev_per_qty DESC NULLS LAST, year, month) AS INTEGER) AS rn
         |  FROM fact_ci
         |)
         |SELECT * FROM ranked WHERE rn <= 5 ORDER BY region_name, rn""".stripMargin,

    "q04_avg_price_by_brand" ->
      """SELECT p_brand,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_price,
        |       COUNT(*) AS records
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY avg_price DESC NULLS LAST, p_brand""".stripMargin,

    "q05_intensity_by_time" ->
      s"""$StarCte
         |SELECT * FROM fact_ci ORDER BY year, month, region_name""".stripMargin,

    "q06_null_intensity_count" ->
      s"""$StarCte
         |SELECT COUNT(*) AS null_intensity_rows FROM fact_ci WHERE rev_per_qty IS NULL""".stripMargin,

    "q07_star_filter_year" ->
      s"""$StarCte
         |SELECT region_name, year, month, rev_per_qty FROM fact_ci
         |WHERE year = 2000
         |ORDER BY rev_per_qty DESC NULLS LAST, region_name, month""".stripMargin,

    "q08_distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus,
        |       CAST(year(l_shipdate) AS INTEGER) AS ship_year
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin,

    "q09_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q10_segments_with_orders" ->
      """SELECT c_mktsegment, COUNT(*) AS customers FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q11_clean_events" ->
      """SELECT event_id,
        |       TRIM(event_type) AS event_type_clean,
        |       CAST(ts AS DATE) AS day,
        |       TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q12_median_quantity" ->
      """SELECT l_returnflag, median(l_quantity) AS med_qty, COUNT(*) AS records
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q13_range_filter" ->
      """SELECT event_type, COUNT(*) AS n FROM (
        |  SELECT DISTINCT * FROM events
        |  WHERE value BETWEEN 10 AND 150 AND ts IS NOT NULL
        |)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q14_seasonal_case" ->
      """SELECT *,
        |       month_total * factor AS adj_total,
        |       GREATEST(0.0, month_total - 50000000.0) AS over_base
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
        |         CAST(month(o_orderdate) AS INTEGER) AS month,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total,
        |         CAST(CASE WHEN month(o_orderdate) IN (12,1,2) THEN 1.25
        |                   WHEN month(o_orderdate) IN (6,7,8) THEN 1.10
        |                   ELSE 1.0 END AS DOUBLE) AS factor
        |  FROM orders
        |  GROUP BY year(o_orderdate), month(o_orderdate)
        |)
        |ORDER BY year, month""".stripMargin,

    "q15_date_dim_gen" ->
      """SELECT CAST(gs.generate_series AS DATE) AS day, r_name AS region_name
        |FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 DAY) gs
        |CROSS JOIN region
        |ORDER BY day, region_name""".stripMargin,

    "q16_dim_region" ->
      """SELECT region_name,
        |       CAST(ROW_NUMBER() OVER (ORDER BY region_name) AS INTEGER) AS region_id
        |FROM (SELECT DISTINCT r_name AS region_name FROM region)
        |ORDER BY region_id""".stripMargin,

    "q17_dim_time" ->
      """SELECT year, month,
        |       CAST(ROW_NUMBER() OVER (ORDER BY year, month) AS INTEGER) AS time_id
        |FROM (
        |  SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS year,
        |                  CAST(month(o_orderdate) AS INTEGER) AS month
        |  FROM orders
        |  UNION
        |  SELECT DISTINCT CAST(year(ts) AS INTEGER), CAST(month(ts) AS INTEGER)
        |  FROM events
        |)
        |ORDER BY time_id""".stripMargin,

    "q18_upsert_dim" ->
      """WITH base AS (
        |  SELECT n_name,
        |         CAST(ROW_NUMBER() OVER (ORDER BY n_name) AS INTEGER) AS id
        |  FROM (SELECT DISTINCT n_name FROM nation n
        |        WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey))
        |), incoming AS (
        |  SELECT DISTINCT n_name FROM nation n
        |  WHERE EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
        |), newvals AS (
        |  SELECT i.n_name,
        |         CAST(ROW_NUMBER() OVER (ORDER BY i.n_name) AS INTEGER) AS rid
        |  FROM incoming i
        |  WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.n_name = i.n_name)
        |)
        |SELECT n_name, id FROM base
        |UNION ALL
        |SELECT n_name, CAST((SELECT MAX(id) FROM base) + rid AS INTEGER) AS id FROM newvals
        |ORDER BY id""".stripMargin,

    "q19_upsert_fact" ->
      """WITH base AS (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
        |), upd AS (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
        |)
        |SELECT COALESCE(b.o_custkey, u.o_custkey) AS o_custkey,
        |       COALESCE(u.total, b.total) AS total,
        |       CASE WHEN u.total IS NOT NULL THEN 'updated' ELSE 'base' END AS src
        |FROM base b FULL OUTER JOIN upd u ON b.o_custkey = u.o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q20_fact_star_keyed" ->
      s"""$StarCte, dim_region AS (
         |  SELECT region_name,
         |         CAST(ROW_NUMBER() OVER (ORDER BY region_name) AS INTEGER) AS region_id
         |  FROM (SELECT DISTINCT r_name AS region_name FROM region)
         |), dim_time AS (
         |  SELECT year, month,
         |         CAST(ROW_NUMBER() OVER (ORDER BY year, month) AS INTEGER) AS time_id
         |  FROM (
         |    SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS year,
         |                    CAST(month(o_orderdate) AS INTEGER) AS month
         |    FROM orders
         |    UNION
         |    SELECT DISTINCT CAST(year(ts) AS INTEGER), CAST(month(ts) AS INTEGER)
         |    FROM events
         |  )
         |)
         |SELECT dr.region_id, dt.time_id, f.region_name, f.year, f.month,
         |       f.total_qty, f.total_revenue, f.rev_per_qty
         |FROM fact_ci f
         |JOIN dim_region dr ON f.region_name = dr.region_name
         |JOIN dim_time dt ON f.year = dt.year AND f.month = dt.month
         |ORDER BY dr.region_id, dt.time_id""".stripMargin
  )
}
