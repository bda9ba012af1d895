package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Year-over-year growth per brand — the period-comparison report
  * closing the BI family (q62 smooths within a series, q63 slices,
  * q205 ranks; this COMPARES adjacent periods): revenue cents per
  * (brand, ship-year) with the previous year alongside and the
  * signed growth rate. The first year of a brand carries NULL
  * prev/growth — an explicit "no baseline", not a zero.
  *
  * Determinism: cents quantize per lineitem (ROUND(x·100), identical
  * IEEE) before summing; years are integer date parts; growth is
  * SIGNED and uses the q185 signed-ROUND-on-doubles convention (one
  * pinned cast-sub-mul-div-ROUND, exact inputs ≪ 2⁵³) rather than
  * integer division — a style choice for the signed path, not a
  * necessity: Spark DIV and DuckDB integer // both truncate toward
  * zero (the q147 pin), so either convention would hash-match.
  *
  * Scale shape: lineitem joins the part dim on the part key (the dim
  * broadcasts — the q20 shape), folds map-side to (brand, year)
  * cells, and the lag runs in a window PARTITIONED by brand over the
  * ≤ brands × years frame. Nothing after the fold scales with
  * lineitem.
  */
object YoyGrowth extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_yoy_brand_growth" -> ((s, d) => {
      val cells = Tables.lineitem(s, d)
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      cells
        .withColumn("prev_cents",
          lag(col("cents"), 1).over(Window.partitionBy("brand").orderBy("yr")))
        .select(col("brand"), col("yr"), col("cents"), col("prev_cents"),
          expr("CASE WHEN prev_cents IS NULL THEN NULL" +
            " ELSE CAST(ROUND(CAST(cents - prev_cents AS DOUBLE) * 1000000.0" +
            " / CAST(prev_cents AS DOUBLE)) AS BIGINT) END").as("yoy_ppm"))
        .orderBy("brand", "yr")
    }))

  val oracleSql: Map[String, String] = Map(
    "q206_yoy_brand_growth" ->
      """WITH cells AS (
        |  SELECT p.p_brand AS brand,
        |         CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS yr,
        |         CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  GROUP BY 1, 2
        |), lagged AS (
        |  SELECT brand, yr, cents,
        |         LAG(cents) OVER (PARTITION BY brand ORDER BY yr) AS prev_cents
        |  FROM cells
        |)
        |SELECT brand, yr, cents, prev_cents,
        |       CASE WHEN prev_cents IS NULL THEN NULL
        |            ELSE CAST(ROUND(CAST(cents - prev_cents AS DOUBLE) * 1000000.0
        |              / CAST(prev_cents AS DOUBLE)) AS BIGINT) END AS yoy_ppm
        |FROM lagged
        |ORDER BY brand, yr""".stripMargin)
}
