package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** ABC / Pareto classification — the inventory-analytics standard the
  * BI layer was missing: parts ranked by revenue, classified A while
  * the running revenue share is under 80%, B under 95%, C after, and
  * reported as the 3-row class summary (the "20% of parts carry 80%
  * of revenue" read that decides stocking and curation priorities
  * alike). The interesting machinery is the DISTRIBUTED EXACT PREFIX
  * SUM: a global running total without a single-partition window —
  * the q176 range exchange, per-partition cumulative windows
  * (PARTITIONED by shard), and a collected ≤32-entry per-partition
  * offset model added back as a literal.
  *
  * Determinism: revenue quantizes per lineitem to cents
  * (ROUND(x·100), identical IEEE both engines) before any sum; the
  * rank order (revenue desc, part asc) is total; class thresholds
  * compare cum·100 ≤ limit·total in EXACT integer cross-multiplied
  * form — no division, no float, no boundary ULP hazard (cum·100 ≤
  * 6·10¹⁷ at sf0.1; hierarchy past that per the q192 note). The
  * boundary convention is pinned: a part whose running share hits
  * exactly 80% is still A (≤, not <).
  *
  * Scale shape: one (part) map-side-combined revenue fold; the
  * prefix sum costs one range exchange + one tiny collect — never a
  * global window; the 1-row total fold crosses at the model edge
  * (documented BNLJ) and the output is 3 class rows. share_ppm is
  * the one float step (cents·10⁶ overflows int64) — the q182/q194
  * pinned cast-mul-div-ROUND.
  */
object AbcPareto extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q205_abc_classification" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("part"))
        .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      // two-phase exact prefix sum over (cents desc, part): range
      // exchange + per-partition cumulative + collected offsets
      val parted = rev.repartitionByRange(32, col("cents").desc, col("part").asc)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val partSums = parted.groupBy("pid").agg(sum(col("cents")).as("ps"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = (0 until 32).scanLeft(0L)((acc, p) => acc + partSums.getOrElse(p, 0L))
      val offCol = element_at(
        typedLit((0 until 32).map(p => p -> offsets(p)).toMap), col("pid"))
      val w = Window.partitionBy("pid")
        .orderBy(col("cents").desc, col("part").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = parted.withColumn("cum", sum(col("cents")).over(w) + offCol)
      val total = rev.agg(sum(col("cents")).as("total"))
      cum.crossJoin(total)
        .withColumn("cls",
          when(expr("cum * 100 <= 80 * total"), "A")
            .when(expr("cum * 100 <= 95 * total"), "B")
            .otherwise("C"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"),
          max(col("total")).as("total"))
        .select(col("cls"), col("n_parts"), col("cents"),
          expr("CAST(ROUND(CAST(cents AS DOUBLE) * 1000000.0" +
            " / CAST(total AS DOUBLE)) AS BIGINT)").as("share_ppm"))
        .orderBy("cls")
    }))

  val oracleSql: Map[String, String] = Map(
    "q205_abc_classification" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT l_partkey AS part,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1
        |), cum AS (
        |  SELECT part, cents,
        |         CAST(SUM(cents) OVER (ORDER BY cents DESC, part
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(SUM(cents) OVER () AS BIGINT) AS total
        |  FROM rev
        |)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |       CAST(SUM(cents) AS BIGINT) AS cents,
        |       CAST(ROUND(CAST(SUM(cents) AS DOUBLE) * 1000000.0
        |         / CAST(MAX(total) AS DOUBLE)) AS BIGINT) AS share_ppm
        |FROM (SELECT *, CASE WHEN cum * 100 <= 80 * total THEN 'A'
        |                     WHEN cum * 100 <= 95 * total THEN 'B'
        |                     ELSE 'C' END AS cls
        |      FROM cum)
        |GROUP BY cls
        |ORDER BY cls""".stripMargin)
}
