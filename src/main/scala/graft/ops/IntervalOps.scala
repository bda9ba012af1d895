package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-interval joins over the event stream: the attribution-window
  * join (equi key + range predicate) and a binned PROXIMITY join for the
  * no-equi-key case — the two shapes Spark's equi-join planner doesn't
  * cover by itself. All timestamp arithmetic is integer epoch-µs
  * (`unix_micros`), never interval types, so Spark and the oracle agree
  * bit-for-bit.
  */
object IntervalOps extends graft.QueryModule {

  private val WindowUs = 30L * 60 * 1000 * 1000 // 30 min attribution
  private val NearUs = 300L * 1000 * 1000       // ±5 min proximity
  private val BinUs = NearUs                    // bin width == radius

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Attribution-window join: for each purchase, the same user's clicks
    // in the preceding 30 minutes (count, value sum, latest click).
    // Equi key (user_id) + range predicate: the join shuffles ONLY on
    // user_id — Catalyst plans a hash/sort-merge join on the key and
    // evaluates the range as a join filter, so there is no quadratic
    // blow-up beyond a user's own events (per-key skew is bounded by a
    // single user's 30-minute activity at any corpus size). Purchases
    // with no clicks survive via left-outer (count 0).
    "q81_click_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
      // both sides derive from the SAME frame, so unqualified
      // `purchases("user_id") === clicks("user_id")` is the classic
      // self-join ambiguity (Spark warns "trivially true equals
      // predicate" and a refactor could silently degrade it to a
      // cross-user join); explicit aliases make the key unambiguous
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us").as("p_us"))
        .as("p")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("value").as("c_value"),
          col("us").as("c_us"))
        .as("c")
      purchases.join(clicks,
          col("p.user_id") === col("c.user_id") &&
            col("c_us") >= col("p_us") - WindowUs &&
            col("c_us") < col("p_us"),
          "left_outer")
        .groupBy(col("p.event_id"), col("p.user_id"))
        .agg(count(col("c_us")).as("n_clicks"),
          coalesce(sum(col("c_value").cast("decimal(18,6)")).cast("double"),
            lit(0.0)).as("click_value"),
          max(col("c_us")).as("last_click_us"))
        .orderBy("event_id")
    }),

    // Proximity join with NO equi key: purchases near errors (any user)
    // within ±5 min. The naive plan is a cartesian/BNL join — quadratic
    // and unrunnable at scale. Binning restores an equi key: bucket both
    // sides into 5-min bins, explode the purchase side to its 3 candidate
    // bins (bin-1, bin, bin+1 — every qualifying pair lands in exactly
    // one (probe_bin == error_bin) match, so no pair dedup is needed),
    // join on the bin, then apply the exact |Δt| ≤ 5 min predicate. Cost
    // is O(pairs-in-adjacent-bins), i.e. proportional to true temporal
    // density, not |A|×|B|; IntervalSpec pins both the no-cartesian plan
    // and equality with the naive form.
    "q82_error_proximity" -> ((s, d) => {
      val (purchases, errors) = proximitySides(s, d)
      val probes = purchases.withColumn("bin",
        explode(array(col("p_bin") - 1, col("p_bin"), col("p_bin") + 1)))
      probes.join(errors, col("bin") === col("e_bin"))
        .filter(abs(col("e_us") - col("p_us")) <= NearUs)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_errors"),
          min(abs(col("e_us") - col("p_us"))).as("min_gap_us"))
        .orderBy("event_id")
    })
  )

  /** Shared prep for q82 and its naive differential twin: purchases with
    * their 5-min bin; errors likewise.
    */
  private def proximitySides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    // integer `div`, not `/`: Column./ is a double division and epoch-µs
    // quotients floor()ed from doubles can misbin boundary timestamps
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("us").as("p_us"),
        expr(s"us div $BinUs").as("p_bin"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("us").as("e_us"), expr(s"us div $BinUs").as("e_bin"))
    (purchases, errors)
  }

  /** Naive theta-join form of q82 (cartesian + filter) — correctness
    * twin only; IntervalSpec asserts the binned form matches it exactly.
    */
  private[graft] def errorProximityNaive(s: SparkSession, d: String): DataFrame = {
    val (purchases, errors) = proximitySides(s, d)
    purchases.join(errors, abs(col("e_us") - col("p_us")) <= NearUs)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_errors"),
        min(abs(col("e_us") - col("p_us"))).as("min_gap_us"))
      .orderBy("event_id")
  }

  val oracleSql: Map[String, String] = Map(
    // CAST(ts AS TIMESTAMP) truncates DuckDB's ns parquet type to the
    // same µs grain Tables.events normalizes to
    "q81_click_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), p AS (
        |  SELECT event_id, user_id, us AS p_us FROM ev WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, value AS c_value, us AS c_us FROM ev WHERE event_type = 'click'
        |)
        |SELECT p.event_id, p.user_id, COUNT(c.c_us) AS n_clicks,
        |       COALESCE(CAST(SUM(CAST(c.c_value AS DECIMAL(18,6))) AS DOUBLE), 0.0)
        |         AS click_value,
        |       MAX(c.c_us) AS last_click_us
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        | AND c.c_us >= p.p_us - 1800000000
        | AND c.c_us < p.p_us
        |GROUP BY p.event_id, p.user_id
        |ORDER BY p.event_id""".stripMargin,

    "q82_error_proximity" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), p AS (
        |  SELECT event_id, us AS p_us FROM ev WHERE event_type = 'purchase'
        |), e AS (
        |  SELECT us AS e_us FROM ev WHERE event_type = 'error'
        |)
        |SELECT p.event_id, COUNT(*) AS n_errors,
        |       MIN(ABS(e.e_us - p.p_us)) AS min_gap_us
        |FROM p JOIN e ON ABS(e.e_us - p.p_us) <= 300000000
        |GROUP BY p.event_id
        |ORDER BY p.event_id""".stripMargin
  )
}
