package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.StarSchema.sumMoney

/** Event-stream analytics in batch form (the same logical plans run under
  * Structured Streaming — see graft.streaming.EventsStreaming; these
  * batch twins are the oracle-checkable surface).
  */
object EventsOps extends graft.QueryModule {

  /** Total order "(o_orderdate DESC, o_orderkey DESC)" packed into ONE
    * long: epoch-day << 44 | orderkey. Exact only while 0 <= orderkey <
    * 2^44 (TPC-H SF100k tops out near 6e11 ≪ 1.76e13) — and that
    * precondition is ENFORCED, not assumed: a key outside [0, 2^44)
    * raises rather than silently corrupting the ordering (a negative key
    * would borrow from the date bits just as an oversized one would
    * carry into them). The guard is a codegen'd per-row
    * branch on a column already in hand — no extra pass, no driver
    * action.
    */
  private[graft] def packedOrderKey(orderdate: Column, orderkey: Column): Column = {
    val guarded = when(orderkey >= lit(1L << 44) || orderkey < lit(0L),
      raise_error(concat(
        lit("as-of packing precondition violated: o_orderkey outside [0, 2^44): "),
        orderkey.cast("string"))))
      .otherwise(orderkey)
    shiftleft(unix_date(to_date(orderdate)).cast("long"), 44) + guarded
  }

  val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling-window (hourly) counts + value totals per event type
    "q32_events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
        .orderBy("hour", "event_type")),

    // gap-based sessionization (30-min inactivity) via lag + running sum
    "q33_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max(col("session_seq")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // the same gap semantics through Spark's NATIVE session windows: one
    // hash aggregation whose key merges overlapping [ts, ts+gap) spans —
    // no per-user window sort, and the identical plan runs unmodified
    // under Structured Streaming (watermark-evictable session state).
    // Boundary: session_window splits at gap >= 30 min (half-open
    // windows), where q33's lag form splits at gap > 30 min — the oracle
    // mirrors the >= rule on MICROSECOND-truncated timestamps (DuckDB
    // reads the parquet nanos; Spark sees the ns→µs normalization in
    // Tables.events, and both truncate the same way).
    "q58_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start"))
  )

  val jsonQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // as-of join: each event matched to the user's latest order at or
    // before the event time, deterministic tie-break on orderkey.
    // Composed as equi-join on the user + range predicate + per-event
    // argmax window (SURVEY §7.3: compose built-ins before reaching for
    // a custom operator). The equi-join keys the shuffle, so the range
    // part never becomes a cross join.
    // as-of composed from built-ins: equi+range join, then argmax through
    // a TWO-PHASE HASH aggregate — the map-side partial shrinks the join
    // fan-out before it shuffles and nothing sorts, where the old
    // ROW_NUMBER window shape sorted the whole fan-out per partition.
    // Struct-valued max/max_by fall back to SortAggregate (struct buffers
    // aren't hash-aggregable), so the ordering "(o_orderdate DESC,
    // o_orderkey DESC) LIMIT 1" is packed into ONE long — days<<44 |
    // orderkey, exact while orderkey < 2^44 (TPC-H SF100k is ~6e11) —
    // and each payload column rides its own primitive-buffer max_by off
    // that key. orderkey is unique, so the packed max is unique and both
    // max_bys pick the same row. Same oracle; plan shape pinned in
    // PlanSpec. q46 is the same semantics as a custom physical operator,
    // which skips the fan-out entirely.
    "q45_asof_last_order" -> ((s, d) => {
      val e = Tables.events(s, d).select("event_id", "user_id", "ts")
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
      // o_orderdate is a midnight-valued TIMESTAMP_NTZ: its epoch day
      // number (18 bits) carries the full ordering, leaving 44 bits for
      // the orderkey (packedOrderKey raises on a key that would overflow)
      val packed = packedOrderKey(col("o_orderdate"), col("o_orderkey"))
      e.join(o, e("user_id") === o("o_custkey") && o("o_orderdate") <= e("ts"))
        .groupBy("event_id", "user_id")
        .agg(max_by(col("o_orderkey"), packed).as("last_orderkey"),
          max_by(col("o_totalprice"), packed).as("last_totalprice"))
        .orderBy("event_id")
    }),

    // semi-structured column: from_json with an explicit schema, typed
    // field extraction (the props column is the JSON-ish payload a real
    // event stream carries)
    // Conversion funnel (first-touch, strictly ordered): view → click →
    // purchase per user, counted as users whose FIRST click follows
    // their first view and whose first purchase follows that click.
    // ONE scan + one shuffle on user_id: conditional min() pivots the
    // three stage timestamps out per user, the stage test is a narrow
    // row predicate, and the final aggregate is 3 counts. The funnel a
    // product-analytics layer computes with 3 self-joins collapses into
    // a conditional-aggregation pass — the self-join form would shuffle
    // events three times.
    "q95_funnel" -> ((s, d) => {
      import s.implicits._
      val us = unix_micros(col("ts"))
      val stages = Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", us)).as("v"),
          min(when(col("event_type") === "click", us)).as("c"),
          min(when(col("event_type") === "purchase", us)).as("p"))
        .select(col("user_id"), col("v").isNotNull.as("s1"),
          (col("v").isNotNull && col("c") > col("v")).as("s2"),
          (col("v").isNotNull && col("c") > col("v") && col("p") > col("c")).as("s3"))
      val counts = stages.agg(
        sum(when(col("s1"), 1L).otherwise(0L)).as("1_view"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("2_view_click"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("3_view_click_purchase"))
      counts.unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("`1_view`"), col("`2_view_click`"),
            col("`3_view_click_purchase`")),
          "stage", "n_users")
        .orderBy("stage")
    }),

    "q41_parse_json" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("j", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(col("event_id"), col("event_type"), col("j.k").as("k"))
        .withColumn("k_bucket",
          when(col("k") >= 50, "high").when(col("k") >= 10, "mid").otherwise("low"))
        .orderBy("event_id")),

    // pivot: wide cross-tab of daily counts per event type (explicit
    // value list — never let pivot infer values with a distinct scan at
    // corpus scale; na.fill(0) aligns empty cells with SQL FILTER counts)
    "q48_pivot_daily_events" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("day", col("ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("day")),

    // exact interpolating grouped quantiles (percentile, not approx)
    // ONE array-argument percentile, not three scalar ones: each scalar
    // percentile() is its own TypedImperativeAggregate that buffers and
    // sorts every group value independently — the array form pays that
    // once for all three cut points (3x less buffering on a measure
    // column that is most of the table)
    "q44_quantiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          // cast to double BEFORE aggregating: the percentile buffer keys
          // its value-count map on the column's JVM objects, and Decimal
          // boxing/hashing dominates; doubles are exact here (12,2
          // decimals sit far inside 2^53) and the final interpolation is
          // double arithmetic either way
          expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.25D, 0.5D, 0.75D))").as("ps"),
          count(lit(1)).as("records"))
        .select(col("l_returnflag"),
          col("ps")(0).as("p25"), col("ps")(1).as("p50"), col("ps")(2).as("p75"),
          col("records"))
        .orderBy("l_returnflag")),

    // approx twin of q44 — the 100 TB path. Exact grouped percentile
    // buffers every DISTINCT value per group (fine on bounded domains
    // like prices, memory-shaped risk on unbounded ones); approx_percentile
    // is a Greenwald-Khanna sketch whose buffer is bounded by the accuracy
    // parameter alone, independent of the data domain. Same exact-anchor/
    // approx-path pattern as the dedup family: ApproxQuantileSpec gates
    // this against q44 with a relative-error bound. Rows-only (DuckDB's
    // approx_quantile is a different sketch — values can't hash-match).
    "q51_quantiles_approx" -> ((s, d) =>
      priceQuantileSketch(s, d)
        .select(col("l_returnflag"),
          col("ps")(0).as("p25"), col("ps")(1).as("p50"), col("ps")(2).as("p75"),
          col("records"))
        .orderBy("l_returnflag"))
  )

  /** q51's GK sketch frame (l_returnflag, ps[3], records), unpivoted by
    * the q220 sketch-error report for its rank-window gate.
    */
  private[graft] def priceQuantileSketch(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), " +
          "array(0.25D, 0.5D, 0.75D), 10000)").as("ps"),
        count(lit(1)).as("records"))

  private val AsOfOracle =
    """SELECT event_id, user_id, last_orderkey, last_totalprice FROM (
      |  SELECT e.event_id, e.user_id,
      |         o.o_orderkey AS last_orderkey,
      |         o.o_totalprice AS last_totalprice,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY e.event_id
      |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e
      |  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |)
      |WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  val asofQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Time-series densification: the observed hourly aggregate LEFT-joins
    // a generated (hour x event_type) spine, so silent gaps become
    // explicit rows — zero-filled for the additive measures (a missing
    // hour really did total 0) and forward-filled for the state measure
    // (last-observation-carried-forward via `last(_, ignoreNulls)` over
    // an unbounded-preceding frame). Scale shape: the fill runs on the
    // AGGREGATE, never the fact — the fact contributes ONE partial-
    // combined shuffle (q32's), whose materialized result (thousands of
    // rows regardless of fact size) then feeds BOTH the spine's type
    // list and the join; localCheckpoint keeps the two consumers from
    // re-running the fact scan.
    "q107_gap_fill" -> ((s, d) => {
      val observed = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_obs"),
          sum(col("value").cast("decimal(18,2)")).as("total_obs"))
        .localCheckpoint()
      val spine = s.range(1)
        .select(explode(sequence(
          lit("2024-01-01 00:00:00").cast("timestamp"),
          lit("2024-01-30 23:00:00").cast("timestamp"),
          expr("interval 1 hour"))).as("hour"))
        .crossJoin(observed.select("event_type").distinct())
      val ffill = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(observed, Seq("hour", "event_type"), "left")
        .select(col("hour"), col("event_type"),
          coalesce(col("n_obs"), lit(0L)).as("n"),
          coalesce(col("total_obs").cast("double"), lit(0.0)).as("total_value"),
          last(col("total_obs").cast("double"), ignoreNulls = true)
            .over(ffill).as("last_seen_total"))
        .orderBy("hour", "event_type")
    }),

    // q45's as-of semantics through the custom operator
    // (graft.plans.AsOfJoin, planned as the sort-merge AsOfMergeJoinExec)
    // — no per-event window; oracle-checked independently of the
    // composed q45
    "q46_asof_custom_op" -> ((s, d) => asOfViaOperator(s, d)),

    // the identical plan and oracle SQL as q46, kept registered under
    // its own name
    "q75_asof_merge_op" -> ((s, d) => asOfViaOperator(s, d)))

  /** q46/q75: each event's latest order at or before it, through
    * `AsOf.join` (one sort-merge exec, no window, no cross join).
    */
  private def asOfViaOperator(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    graft.plans.AsOf.join(s, e, o,
        Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate", "o_orderkey")
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("last_orderkey"),
        col("o_totalprice").as("last_totalprice"))
      .orderBy("event_id")
  }

  val oracleSql: Map[String, String] = Map(
    "q95_funnel" ->
      """WITH stages AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
        |    MIN(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
        |  FROM events GROUP BY user_id
        |)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage,
        |         CAST(COUNT(*) FILTER (WHERE v IS NOT NULL) AS BIGINT) AS n_users
        |  FROM stages
        |  UNION ALL
        |  SELECT '2_view_click',
        |         CAST(COUNT(*) FILTER (WHERE v IS NOT NULL AND c > v) AS BIGINT)
        |  FROM stages
        |  UNION ALL
        |  SELECT '3_view_click_purchase',
        |         CAST(COUNT(*) FILTER (WHERE v IS NOT NULL AND c > v AND p > c) AS BIGINT)
        |  FROM stages
        |)
        |ORDER BY stage""".stripMargin,

    // the spine is regenerated in SQL (range is stop-exclusive, so Jan 31
    // 00:00 is the right bound for hours through Jan 30 23:00); the
    // forward fill must agree engine-for-engine on gap rows
    "q107_gap_fill" ->
      """WITH spine AS (
        |  SELECT h.hour, t.event_type
        |  FROM range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31',
        |             INTERVAL 1 HOUR) h(hour)
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        |), obs AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |         COUNT(*) AS n_obs,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS total_obs
        |  FROM events
        |  GROUP BY 1, 2
        |)
        |SELECT s.hour, s.event_type,
        |       COALESCE(o.n_obs, 0) AS n,
        |       COALESCE(CAST(o.total_obs AS DOUBLE), 0.0) AS total_value,
        |       last_value(CAST(o.total_obs AS DOUBLE) IGNORE NULLS) OVER (
        |         PARTITION BY s.event_type ORDER BY s.hour
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_seen_total
        |FROM spine s
        |LEFT JOIN obs o ON o.hour = s.hour AND o.event_type = s.event_type
        |ORDER BY s.hour, s.event_type""".stripMargin,

    "q46_asof_custom_op" -> AsOfOracle,
    "q75_asof_merge_op" -> AsOfOracle,
    "q45_asof_last_order" ->
      """SELECT event_id, user_id, last_orderkey, last_totalprice FROM (
        |  SELECT e.event_id, e.user_id,
        |         o.o_orderkey AS last_orderkey,
        |         o.o_totalprice AS last_totalprice,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY e.event_id
        |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "q41_parse_json" ->
      """SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |       CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50 THEN 'high'
        |            WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 10 THEN 'mid'
        |            ELSE 'low' END AS k_bucket
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q48_pivot_daily_events" ->
      """SELECT CAST(ts AS DATE) AS day,
        |       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events
        |GROUP BY CAST(ts AS DATE)
        |ORDER BY day""".stripMargin,

    "q44_quantiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_extendedprice, 0.25) AS p25,
        |       quantile_cont(l_extendedprice, 0.5) AS p50,
        |       quantile_cont(l_extendedprice, 0.75) AS p75,
        |       COUNT(*) AS records
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q32_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    "q33_sessionize" ->
      """WITH sessions AS (
        |  SELECT user_id,
        |         SUM(new_session) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                  OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                     > INTERVAL 30 MINUTE THEN 1
        |                ELSE 0 END AS new_session
        |    FROM events
        |  )
        |)
        |SELECT user_id, CAST(MAX(session_seq) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM sessions
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q58_session_window" ->
      """WITH base AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events
        |), lagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM base
        |), ids AS (
        |  SELECT user_id, ts, value,
        |         SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM lagged
        |)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM ids GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
  )

  /** q51's GK sketch isn't reproducible by DuckDB's t-digest
    * approx_quantile — gated against exact q44 in ApproxQuantileSpec
    * instead.
    */
  override val rowsOnly: Set[String] = Set("q51_quantiles_approx")

  /** The registered queries: [[baseQueries]] plus the groups above. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ jsonQueries ++ asofQueries
}
