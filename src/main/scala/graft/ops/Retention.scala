package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Weekly cohort-retention matrix — the classic engagement read the
  * events family was missing next to q95's funnel and q58's
  * sessions: users cohort by their FIRST signup week; per
  * (cohort_week, week_offset) the matrix counts how many of them
  * were active (any event) that many weeks later, as a ppm of the
  * cohort. Retention decaying faster in late cohorts = the
  * engagement regression a product dashboard alarms on.
  *
  * Determinism: weeks are pure integer arithmetic — Monday-aligned
  * epoch-week = (epoch_days + 3) DIV 7 (both engines diff the same
  * DATE against 1970-01-01; no date_trunc('week') whose locale/ISO
  * conventions could diverge); cohort sizes, activity counts, and
  * the retention ppm are exact counts and one nonnegative DIV.
  * Microsecond-vs-nanosecond timestamp flavor is irrelevant at DATE
  * grain.
  *
  * Scale shape: one (user) min-signup aggregate and one
  * (user, week) DISTINCT activity pass, both map-side combined; the
  * cohort label joins activity on the user key (hash join) and the
  * matrix is a (cohort, offset) aggregate of weeks² rows; cohort
  * sizes join back at matrix size. Users who never signed up carry
  * no cohort and are excluded by the inner join — the documented
  * population.
  */
object Retention extends graft.QueryModule {

  /** Monday-aligned epoch week as INTEGER arithmetic on the column
    * literally named `ts` — `div`, never `/` (Column./ is double
    * division, the Tables.normalizeTs lesson).
    */
  private val WeekExpr =
    "CAST((datediff(to_date(ts), DATE '1970-01-01') + 3) DIV 7 AS BIGINT)"

  private def weekOf(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    require(ts.toString.contains("ts"), "weekOf reads the raw ts column")
    expr(WeekExpr)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(weekOf(col("ts"))).as("cohort_week"))
        .localCheckpoint()
      val sizes = cohorts.groupBy("cohort_week")
        .agg(count(lit(1)).as("cohort_size"))
      val activity = ev
        .select(col("user_id"), weekOf(col("ts")).as("week"))
        .distinct()
      cohorts.join(activity, Seq("user_id"))
        .filter(col("week") >= col("cohort_week"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, Seq("cohort_week"))
        .select(col("cohort_week"), col("cohort_size"), col("week_offset"),
          col("n_active"),
          expr("n_active * 1000000 DIV cohort_size").as("retention_ppm"))
        .orderBy("cohort_week", "week_offset")
    }))

  val oracleSql: Map[String, String] = Map(
    "q201_cohort_retention" ->
      """WITH cohorts AS MATERIALIZED (
        |  SELECT user_id,
        |         MIN((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) // 7)
        |           AS cohort_week
        |  FROM events WHERE event_type = 'signup'
        |  GROUP BY user_id
        |), sizes AS (
        |  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |  FROM cohorts GROUP BY cohort_week
        |), activity AS (
        |  SELECT DISTINCT user_id,
        |         (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) // 7 AS week
        |  FROM events
        |), matrix AS (
        |  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |         CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM cohorts c JOIN activity a USING (user_id)
        |  WHERE a.week >= c.cohort_week
        |  GROUP BY 1, 2
        |)
        |SELECT m.cohort_week, s.cohort_size, m.week_offset, m.n_active,
        |       m.n_active * 1000000 // s.cohort_size AS retention_ppm
        |FROM matrix m JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin)
}
