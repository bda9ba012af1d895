package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.StarSchema.{orderRegion, sumMoney}

/** Analytics beyond the reference's own surface (SURVEY §2.6/§2.7 lists
  * these as absent-from-reference but engine-relevant): multi-aggregate
  * stats, ROLLUP subtotals, lag/lead deltas, set ops, sketch counts.
  */
object AnalyticsExtras extends graft.QueryModule {

  private def lineitemRegion(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .join(orderRegion(s, d).withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"))

  /** q61's per-period HLL estimates (unordered) — presented by q61,
    * gated per-row by q220's sketch-error report.
    */
  private[graft] def hllRollup(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val perDay = daily.select(col("day").cast("string").as("period"),
      hll_sketch_estimate(col("sk")).as("distinct_users_est"))
    val total = daily.agg(hll_union_agg(col("sk")).as("sk"))
      .select(lit("ALL").as("period"),
        hll_sketch_estimate(col("sk")).as("distinct_users_est"))
    perDay.unionByName(total)
  }

  /** q121's exact per-period distinct rollup (unordered) — the ground
    * truth q220 joins the HLL estimates against.
    */
  private[graft] def distinctRollupExact(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val perDay = pairs
      .groupBy(col("day").cast("string").as("period"))
      .agg(count(lit(1)).as("distinct_users"))
    val total = pairs.agg(countDistinct(col("user_id")).as("distinct_users"))
      .select(lit("ALL").as("period"), col("distinct_users"))
    perDay.unionByName(total)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MERGEABLE distinct sketches — the composable-summary pattern that
    // replaces rescans at scale: sketch each day's users once (a few KB
    // per day), then ANY date-range distinct is a register-max union of
    // stored sketches, never a second pass over the events. The union
    // is lossless for HLL (union of per-day sketches == one sketch of
    // the whole stream — AnalyticsSpec pins exact equality, plus a 5%
    // accuracy gate against exact distincts). Rows-only: sketch bytes
    // aren't portable SQL.
    "q61_sketch_rollup" -> ((s, d) => hllRollup(s, d).orderBy("period")),

    // q61's ORACLE-CHECKED exact twin (the q118 twin design): the same
    // per-day + ALL distinct-user rollup with exact counts, which plain
    // SQL expresses — AnalyticsSpec gates every q61 estimate against
    // this registered query, so the sketch side is anchored to a
    // driver-verified ground truth, not an inline recompute. Scale
    // shape: ONE shuffle dedupes (day, user) pairs (map-side combine
    // collapses each partition's repeats first); per-day counts are
    // then a narrow agg and the ALL row re-aggregates the already
    // deduped pairs — the raw events are never shuffled twice, unlike
    // the naive two COUNT(DISTINCT) passes.
    "q121_distinct_rollup_exact" -> ((s, d) =>
      distinctRollupExact(s, d).orderBy("period")),

    // A1/A2 analog: grouped avg/max/count in one pass. avg computed as
    // exact-sum / count (plain avg() over doubles is accumulation-order-
    // dependent under shuffle; sum of integral quantities and decimal
    // prices is not)
    "q36_monthly_stats" -> ((s, d) =>
      lineitemRegion(s, d)
        .groupBy("region_name", "year", "month")
        .agg(
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          max(col("l_quantity")).as("max_qty"),
          (sumMoney(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("records"))
        .orderBy("region_name", "year", "month")),

    // ROLLUP subtotals with grouping_id; explicit null ordering (rollup
    // null rows sort differently by default in Spark vs DuckDB)
    "q37_rollup_revenue" -> ((s, d) =>
      Tables.orders(s, d)
        .join(orderRegion(s, d).select("o_orderkey", "region_name"), Seq("o_orderkey"))
        .rollup(col("region_name"), year(col("o_orderdate")).as("year"))
        .agg(sumMoney(col("o_totalprice")).as("total"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), col("region_name").asc_nulls_last, col("year").asc_nulls_last)),

    // lag: month-over-month revenue delta per region
    "q38_revenue_mom_delta" -> ((s, d) => {
      val w = Window.partitionBy("region_name").orderBy("year", "month")
      StarSchema.factMonthly(s, d)
        .select("region_name", "year", "month", "total_revenue")
        .withColumn("prev_revenue", lag(col("total_revenue"), 1).over(w))
        .withColumn("delta", col("total_revenue") - col("prev_revenue"))
        .orderBy("region_name", "year", "month")
    }),

    // GROUPING SETS with NON-prefix combinations — the BI cross-slices
    // (region x year, region x month, year x month) one ROLLUP cannot
    // express (q37 covers the prefix family). One Expand + one hash
    // aggregation computes all three slices in a single scan of the
    // fact, instead of three separate groupBy passes; grouping_id
    // disambiguates the slices and drives the deterministic sort.
    "q63_grouping_sets" -> ((s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .join(orderRegion(s, d), Seq("o_orderkey"))
      base.groupingSets(
          Seq(Seq(col("region_name"), col("year")),
            Seq(col("region_name"), col("month")),
            Seq(col("year"), col("month"))),
          col("region_name"), col("year"), col("month"))
        .agg(sumMoney(col("o_totalprice")).as("total"),
          count(lit(1)).as("n_orders"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), col("region_name").asc_nulls_last,
          col("year").asc_nulls_last, col("month").asc_nulls_last)
    }),

    // frame-spec window (ROWS BETWEEN): 7-day trailing moving average of
    // daily revenue per region. The moving sum stays DECIMAL inside the
    // frame (exact, order-independent); ONE double division at the end
    // (sum/count, identical operands on both engines) keeps the output
    // hash-stable. Scale shape: the window runs over the PRE-AGGREGATED
    // daily frame (|regions| x |days| rows), never the raw orders — the
    // fact collapses in a hash aggregate first, so the per-partition
    // window sort is over thousands of rows at any fact size.
    // Weekly cohort-retention matrix: users grouped by first-active
    // week, each later week's activity as a fraction of the cohort —
    // the canonical BI retention cross-tab (q39's two-year buckets are
    // the coarse form). Shapes: one per-user min (two-phase), one
    // equi-join back, a distinct on (user, offset) triples, then a
    // cohort-sized aggregate. The retention fraction is a single double
    // division of exact counts (bit-stable); week offsets are exact —
    // both engines truncate weeks to Monday and the day difference of
    // two week-truncated dates is always a multiple of 7.
    "q79_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      val cohorts = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      val active = ev.join(cohorts, Seq("user_id"))
        .withColumn("offset_wk",
          expr("datediff(wk, cohort_wk) div 7").cast("int"))
        .select("user_id", "cohort_wk", "offset_wk").distinct()
      val sizes = cohorts.groupBy("cohort_wk").agg(count(lit(1)).as("cohort_users"))
      active.groupBy("cohort_wk", "offset_wk")
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, Seq("cohort_wk"))
        .select(col("cohort_wk"), col("offset_wk"), col("n_active"),
          col("cohort_users"),
          (col("n_active").cast("double") / col("cohort_users")).as("retention"))
        .orderBy("cohort_wk", "offset_wk")
    }),

    "q62_moving_avg" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .join(orderRegion(s, d).select("o_orderkey", "region_name"), Seq("o_orderkey"))
        .groupBy(col("region_name"), to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val w = Window.partitionBy("region_name").orderBy("day").rowsBetween(-6, 0)
      daily.select(col("region_name"), col("day"),
          col("rev").cast("double").as("revenue"),
          (sum(col("rev")).over(w).cast("double") / count(lit(1)).over(w)).as("ma7"))
        .orderBy("region_name", "day")
    }),

    // Customer-retention buckets between two years. ONE scan of orders:
    // per-customer year flags via conditional max, then bucket counts —
    // instead of 3 × (intersect/except) which re-scans and re-shuffles
    // orders six times. The set-op form lives in
    // [[retentionSetOps]] as a test differential so INTERSECT/EXCEPT
    // stay covered operators.
    "q39_retention_setops" -> ((s, d) => {
      import s.implicits._
      val flags = Tables.orders(s, d)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
        .filter(col("yr").isin(1997, 1998))
        .groupBy("o_custkey")
        .agg(max(when(col("yr") === 1997, 1).otherwise(0)).as("y97"),
          max(when(col("yr") === 1998, 1).otherwise(0)).as("y98"))
      val counts = flags
        .select(when(col("y97") === 1 && col("y98") === 1, "both_years")
          .when(col("y97") === 1, "only_1997")
          .otherwise("only_1998").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("customers"))
      // emit all 3 buckets even when empty (matches the set-op/oracle shape)
      Seq("both_years", "only_1997", "only_1998").toDF("bucket")
        .join(counts, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("customers"), lit(0L)).as("customers"))
        .orderBy("bucket")
    }),

    // Rolling 7-day distinct users per day — the DAU/WAU-style report.
    // NOT a window function (COUNT(DISTINCT … ) OVER a range frame
    // isn't supported, and buffering each window's user set would be):
    // each (day, user) presence row projects itself onto its 7 target
    // days (narrow explode), a broadcast semi-join restricts targets to
    // observed days (the calendar side is tiny at any scale), and ONE
    // distinct-count aggregate finishes. The mergeable-sketch twin at
    // 100 TB is q61 (per-day HLL union over any range, no re-scan);
    // this is its exact anchor.
    "q97_rolling_distinct" -> ((s, d) => {
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val days = du.select(col("day").as("target_day")).distinct()
      du.select(explode(expr("sequence(day, date_add(day, 6))")).as("target_day"),
          col("user_id"))
        .join(broadcast(days), Seq("target_day"), "left_semi")
        .groupBy(col("target_day").as("day"))
        .agg(countDistinct(col("user_id")).as("users_7d"))
        .orderBy("day")
    }),

    // CUBE completes the grouped-subtotal family (q37 ROLLUP = prefix
    // family, q63 GROUPING SETS = hand-picked slices): all 4 subtotal
    // combinations of (region, priority) in one Expand + one hash
    // aggregate pass over the join output.
    "q94_cube_revenue" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .join(orderRegion(s, d).select("o_orderkey", "region_name"), Seq("o_orderkey"))
        .cube(col("region_name"), col("o_orderpriority"))
        .agg(sumMoney(col("o_totalprice")).as("total"),
          count(lit(1)).as("n_orders"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), col("region_name").asc_nulls_last,
          col("o_orderpriority").asc_nulls_last)),

    // z-score outlier report per region: count of orders more than 1.5
    // standard deviations from the regional mean price. TWO-PHASE with
    // exact moments: S = Σx and Q = Σx² accumulate as DECIMAL (order-
    // independent), the per-region stats frame (5 rows) broadcasts back
    // onto the fact, and the kσ test compares (x−μ)² > k²σ² in doubles
    // DERIVED identically on both engines from the exact moments — no
    // engine-native stddev (accumulation-order-dependent) anywhere.
    // k = 1.5 deliberately: testdata prices are uniform-ish (max
    // deviation √3·σ ≈ 1.73σ), so any k ≥ 1.74 counts ZERO rows at
    // every scale and the oracle could not catch a broken predicate —
    // 1.5σ fires on ~13% of a uniform tail, making the compare
    // meaningful; the threshold is the report's knob, not its shape.
    "q96_price_outliers" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .join(orderRegion(s, d).select("o_orderkey", "region_name"), Seq("o_orderkey"))
      val dec = col("o_totalprice").cast("decimal(18,2)")
      val stats = base.groupBy("region_name")
        .agg(count(lit(1)).as("n"),
          sum(dec).cast("double").as("s"),
          sum(dec * dec).cast("double").as("q"))
        .select(col("region_name"), col("n"),
          (col("s") / col("n")).as("mu"),
          (col("q") / col("n") - (col("s") / col("n")) * (col("s") / col("n")))
            .as("var"))
      base.join(broadcast(stats), Seq("region_name"))
        .groupBy(col("region_name"), col("n"), round(col("mu"), 4).as("mean_r"))
        .agg(sum(when((col("o_totalprice") - col("mu")) * (col("o_totalprice") - col("mu"))
          > lit(2.25) * col("var"), 1L).otherwise(0L)).as("n_outliers"))
        .select("region_name", "n", "mean_r", "n_outliers")
        .orderBy("region_name")
    }),

    // UNPIVOT (melt) — the inverse of q48's pivot, and the operator a
    // BI export needs to come back into the engine: a wide per-region
    // quarterly revenue cross-tab (one Expand-free pivot with an
    // explicit value list) melted back to (region, quarter, revenue)
    // long form. The round trip pins both directions: pivot places each
    // aggregate in its column, unpivot restores the long rows — and
    // with every (region, quarter) populated in 1997 the melt equals
    // the direct group-by (the oracle). Scale shape: the pivot runs on
    // the pre-aggregated |regions|x4 frame, and unpivot is a narrow
    // row-expansion (no shuffle after the aggregate).
    "q91_unpivot_quarters" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .join(orderRegion(s, d).select("o_orderkey", "region_name"), Seq("o_orderkey"))
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("region_name"), quarter(col("o_orderdate")).as("qtr"),
          col("o_totalprice"))
      val wide = base.groupBy("region_name")
        .pivot("qtr", Seq(1, 2, 3, 4))
        .agg(sumMoney(col("o_totalprice")))
        .withColumnRenamed("1", "q1").withColumnRenamed("2", "q2")
        .withColumnRenamed("3", "q3").withColumnRenamed("4", "q4")
      wide.unpivot(Array(col("region_name")),
          Array(col("q1"), col("q2"), col("q3"), col("q4")),
          "qtr_name", "revenue")
        .select(col("region_name"),
          substring(col("qtr_name"), 2, 1).cast("int").as("qtr"),
          col("revenue"))
        .orderBy("region_name", "qtr")
    }),

    // HLL sketch next to the exact count. The sketch estimate itself is
    // engine-specific, so the oracle-compared column is the *accuracy
    // claim* (estimate within 10% of exact at rsd=0.02) — both engines
    // compute their own HLL and both must land inside the bound; the raw
    // estimate stays covered by AnalyticsSpec.
    "q40_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.1).as("approx_within_10pct"))
        .orderBy("l_returnflag"))
  )

  /** INTERSECT / EXCEPT formulation of q39 — kept as the differential
    * twin (AnalyticsSpec asserts it matches the single-scan form) so the
    * set-op operators stay exercised without paying 6 scans of orders in
    * the registered query surface.
    */
  def retentionSetOps(s: SparkSession, d: String): DataFrame = {
    def custs(y: Int) = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === y).select("o_custkey").distinct()
    val a = custs(1997)
    val b = custs(1998)
    Seq(
      ("both_years", a.intersect(b)),
      ("only_1997", a.except(b)),
      ("only_1998", b.except(a))
    ).map { case (n, df) =>
      df.agg(count(lit(1)).as("customers")).select(lit(n).as("bucket"), col("customers"))
    }.reduce(_ union _).orderBy("bucket")
  }

  private val OrdersRegionCte =
    """WITH order_region AS (
      |  SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate, r.r_name AS region_name
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q121_distinct_rollup_exact" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS period,
        |       COUNT(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT 'ALL', COUNT(DISTINCT user_id) FROM events
        |ORDER BY period""".stripMargin,

    "q79_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
        |), cohorts AS (
        |  SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id
        |), active AS (
        |  SELECT DISTINCT e.user_id, c.cohort_wk,
        |         CAST((e.wk - c.cohort_wk) // 7 AS INTEGER) AS offset_wk
        |  FROM ev e JOIN cohorts c USING (user_id)
        |), sizes AS (
        |  SELECT cohort_wk, COUNT(*) AS cohort_users FROM cohorts GROUP BY cohort_wk
        |)
        |SELECT a.cohort_wk, a.offset_wk, COUNT(*) AS n_active, s.cohort_users,
        |       CAST(COUNT(*) AS DOUBLE) / s.cohort_users AS retention
        |FROM active a JOIN sizes s USING (cohort_wk)
        |GROUP BY a.cohort_wk, a.offset_wk, s.cohort_users
        |ORDER BY a.cohort_wk, a.offset_wk""".stripMargin,

    "q36_monthly_stats" ->
      """WITH li AS (
        |  SELECT l.l_quantity, l.l_extendedprice, r.r_name AS region_name,
        |         CAST(year(o.o_orderdate) AS INTEGER) AS year,
        |         CAST(month(o.o_orderdate) AS INTEGER) AS month
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |)
        |SELECT region_name, year, month,
        |       SUM(l_quantity) / COUNT(*) AS avg_qty,
        |       MAX(l_quantity) AS max_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |       COUNT(*) AS records
        |FROM li
        |GROUP BY region_name, year, month
        |ORDER BY region_name, year, month""".stripMargin,

    "q37_rollup_revenue" ->
      s"""$OrdersRegionCte
         |SELECT region_name, CAST(year(o_orderdate) AS INTEGER) AS year,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       CAST(GROUPING(region_name) * 2 + GROUPING(year(o_orderdate)) AS INTEGER) AS gid
         |FROM order_region
         |GROUP BY ROLLUP(region_name, year(o_orderdate))
         |ORDER BY gid, region_name ASC NULLS LAST, year ASC NULLS LAST""".stripMargin,

    "q63_grouping_sets" ->
      s"""$OrdersRegionCte
         |SELECT region_name, CAST(year(o_orderdate) AS INTEGER) AS year,
         |       CAST(month(o_orderdate) AS INTEGER) AS month,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       COUNT(*) AS n_orders,
         |       CAST(GROUPING(region_name) * 4 + GROUPING(year(o_orderdate)) * 2
         |            + GROUPING(month(o_orderdate)) AS INTEGER) AS gid
         |FROM order_region
         |GROUP BY GROUPING SETS (
         |  (region_name, year(o_orderdate)),
         |  (region_name, month(o_orderdate)),
         |  (year(o_orderdate), month(o_orderdate)))
         |ORDER BY gid, region_name ASC NULLS LAST, year ASC NULLS LAST,
         |         month ASC NULLS LAST""".stripMargin,

    "q62_moving_avg" ->
      s"""$OrdersRegionCte
         |, daily AS (
         |  SELECT region_name, CAST(o_orderdate AS DATE) AS day,
         |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
         |  FROM order_region
         |  GROUP BY region_name, CAST(o_orderdate AS DATE)
         |)
         |SELECT region_name, day, CAST(rev AS DOUBLE) AS revenue,
         |       CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma7
         |FROM daily
         |WINDOW w AS (PARTITION BY region_name ORDER BY day
         |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY region_name, day""".stripMargin,

    "q38_revenue_mom_delta" ->
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
        |         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem l JOIN order_region o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY region_name, year, month
        |)
        |SELECT region_name, year, month, total_revenue,
        |       LAG(total_revenue) OVER (PARTITION BY region_name ORDER BY year, month) AS prev_revenue,
        |       total_revenue - LAG(total_revenue) OVER (PARTITION BY region_name ORDER BY year, month) AS delta
        |FROM fact_monthly
        |ORDER BY region_name, year, month""".stripMargin,

    "q39_retention_setops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT * FROM (
        |  SELECT 'both_years' AS bucket, COUNT(*) AS customers
        |  FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |  UNION ALL
        |  SELECT 'only_1997', COUNT(*)
        |  FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |  UNION ALL
        |  SELECT 'only_1998', COUNT(*)
        |  FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
        |)
        |ORDER BY bucket""".stripMargin,

    "q97_rolling_distinct" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM du
        |)
        |SELECT d.day AS day, COUNT(DISTINCT u.user_id) AS users_7d
        |FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day
        |ORDER BY day""".stripMargin,

    "q94_cube_revenue" ->
      s"""WITH order_region AS (
         |  SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority, r.r_name AS region_name
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |)
         |SELECT region_name, o_orderpriority,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       COUNT(*) AS n_orders,
         |       CAST(GROUPING(region_name) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
         |FROM order_region
         |GROUP BY CUBE(region_name, o_orderpriority)
         |ORDER BY gid, region_name ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin,

    "q96_price_outliers" ->
      s"""$OrdersRegionCte
         |, stats AS (
         |  SELECT region_name, COUNT(*) AS n,
         |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
         |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
         |                   * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS q
         |  FROM order_region
         |  GROUP BY region_name
         |), derived AS (
         |  SELECT region_name, n, s / n AS mu,
         |         q / n - (s / n) * (s / n) AS var
         |  FROM stats
         |)
         |SELECT o.region_name, d.n, ROUND(d.mu, 4) AS mean_r,
         |       CAST(SUM(CASE WHEN (o.o_totalprice - d.mu) * (o.o_totalprice - d.mu)
         |                          > 2.25 * d.var THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM order_region o JOIN derived d USING (region_name)
         |GROUP BY o.region_name, d.n, ROUND(d.mu, 4)
         |ORDER BY o.region_name""".stripMargin,

    "q91_unpivot_quarters" ->
      s"""$OrdersRegionCte
         |SELECT region_name,
         |       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM order_region
         |WHERE year(o_orderdate) = 1997
         |GROUP BY region_name, qtr
         |ORDER BY region_name, qtr""".stripMargin,

    "q40_approx_distinct" ->
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_partkey) AS exact_parts,
        |       ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
        |         <= COUNT(DISTINCT l_partkey) * 0.1 AS approx_within_10pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )

  override val rowsOnly: Set[String] = Set("q61_sketch_rollup")
}
