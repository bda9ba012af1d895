package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-SEQUENCE analytics over the events table — the two reports
  * that need ORDER, which the existing events family (counts q32,
  * sessions q58, retention q201, baskets q203) never consumes:
  *
  *   - q216 funnel: first-touch staged conversion view → click →
  *     purchase. Stage k's timestamp is the user's earliest qualifying
  *     event AT OR AFTER stage k−1's — the standard product-analytics
  *     funnel (each stage conditions on actually having passed the
  *     previous one, not mere co-occurrence). Report: per stage, users
  *     reaching it + conversion vs the stage-1 base as exact ppm
  *     (integer DIV from counts — the q178 rate rule).
  *   - q217 transition matrix: per consecutive event PAIR within a
  *     user's (ts, event_id)-ordered stream, the (from, to) counts and
  *     row-normalized ppm — the behavioral Markov matrix, the events
  *     twin of q196's text bigram conditioning.
  *
  * Determinism: funnel stages are MINs over timestamps (no tie
  * hazard); the transition order ties break on event_id; every rate
  * is an integer ppm DIV from raw counts.
  *
  * Scale shape: q216 is three staged user-keyed conditional
  * aggregations (each a map-side-combined shuffle over one event-type
  * slice; AQE co-partitions the joins) into a 3-row report (1-row
  * base fold crossed — the q114 shape). q217 is ONE user-keyed
  * window (partitioned — never global) into a ≤|types|²-key
  * aggregate. Nothing holds per-user state beyond the aggregation.
  */
object EventSequences extends graft.QueryModule {

  /** The staged first-touch funnel times — (users at stage 1 with t1,
    * stage 2 with t2, stage 3 with t3); q216 counts them, q222 takes
    * per-transition time-to-convert quantiles over them.
    */
  private def stageFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") >= col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") >= col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    (v, c, p)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q216_event_funnel" -> ((s, d) => {
      val (v, c, p) = stageFrames(s, d)
      val counts =
        v.agg(count(lit(1)).as("n_users")).select(lit(1).as("stage"),
            lit("view").as("event_type"), col("n_users"))
          .unionByName(c.agg(count(lit(1)).as("n_users"))
            .select(lit(2).as("stage"), lit("click").as("event_type"), col("n_users")))
          .unionByName(p.agg(count(lit(1)).as("n_users"))
            .select(lit(3).as("stage"), lit("purchase").as("event_type"), col("n_users")))
      val base = v.agg(count(lit(1)).as("n_base"))
      counts.crossJoin(base)
        .select(col("stage"), col("event_type"), col("n_users"),
          expr("n_users * 1000000 DIV n_base").as("conv_ppm"))
        .orderBy("stage")
    }),

    // q222: per-transition TIME-TO-CONVERT quantiles over q216's stage
    // timestamps — the product-analytics sibling the funnel counts
    // lack (how LONG a conversion takes, not just whether it happens).
    // Deltas are exact integer microseconds (unix_micros of the staged
    // MIN timestamps); p25/p50/p75 are the EXACT interpolating
    // percentile (q44's machinery) — quarter-fraction interpolation
    // over integer µs is exact in doubles, so the oracle's
    // quantile_cont replays bit-equal. Scale shape: the staged
    // user-keyed aggs q216 already prices + one ≤3-key percentile
    // aggregate; the percentile buffer is per-transition over user
    // counts — bounded by conversion volume, not events.
    "q222_funnel_time_to_convert" -> ((s, d) => {
      val (v, c, p) = stageFrames(s, d)
      def leg(name: String, a: DataFrame, ta: String,
              b: DataFrame, tb: String): DataFrame =
        a.join(b, "user_id").select(lit(name).as("transition"),
          (unix_micros(col(tb)) - unix_micros(col(ta)))
            .cast("double").as("dt_us"))
      leg("1_view_to_click", v, "t1", c, "t2")
        .unionByName(leg("2_click_to_purchase", c, "t2", p, "t3"))
        .unionByName(leg("3_view_to_purchase", v, "t1", p, "t3"))
        .groupBy("transition")
        .agg(count(lit(1)).as("n_users"),
          expr("percentile(dt_us, array(0.25D, 0.5D, 0.75D))").as("ps"))
        .select(col("transition"), col("n_users"),
          col("ps")(0).as("p25_us"), col("ps")(1).as("p50_us"),
          col("ps")(2).as("p75_us"))
        .orderBy("transition")
    }),

    "q217_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("from_type").agg(sum(col("n")).as("n_from"))
      tr.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          expr("n * 1000000 DIV n_from").as("p_ppm"))
        .orderBy("from_type", "to_type")
    }))

  val oracleSql: Map[String, String] = Map(
    "q216_event_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.t1 GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY 1
        |), counts AS MATERIALIZED (
        |  SELECT 1 AS stage, 'view' AS event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        |  UNION ALL
        |  SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM p
        |)
        |SELECT CAST(stage AS INTEGER) AS stage, event_type, n_users,
        |       n_users * 1000000
        |         // (SELECT n_users FROM counts WHERE stage = 1) AS conv_ppm
        |FROM counts ORDER BY stage""".stripMargin,

    "q222_funnel_time_to_convert" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.t1 GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY 1
        |), legs AS MATERIALIZED (
        |  SELECT '1_view_to_click' AS transition,
        |         CAST(epoch_us(c.t2) - epoch_us(v.t1) AS DOUBLE) AS dt_us
        |  FROM c JOIN v USING (user_id)
        |  UNION ALL
        |  SELECT '2_click_to_purchase',
        |         CAST(epoch_us(p.t3) - epoch_us(c.t2) AS DOUBLE)
        |  FROM p JOIN c USING (user_id)
        |  UNION ALL
        |  SELECT '3_view_to_purchase',
        |         CAST(epoch_us(p.t3) - epoch_us(v.t1) AS DOUBLE)
        |  FROM p JOIN v USING (user_id)
        |)
        |SELECT transition, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       quantile_cont(dt_us, 0.25) AS p25_us,
        |       quantile_cont(dt_us, 0.5) AS p50_us,
        |       quantile_cont(dt_us, 0.75) AS p75_us
        |FROM legs GROUP BY transition
        |ORDER BY transition""".stripMargin,
    "q217_event_transitions" ->
      """WITH tr AS MATERIALIZED (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT event_type,
        |           LEAD(event_type) OVER (
        |             PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |    FROM events
        |  ) WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM tr GROUP BY 1
        |)
        |SELECT tr.from_type, tr.to_type, tr.n, t.n_from,
        |       tr.n * 1000000 // t.n_from AS p_ppm
        |FROM tr JOIN tot t USING (from_type)
        |ORDER BY tr.from_type, tr.to_type""".stripMargin)
}
