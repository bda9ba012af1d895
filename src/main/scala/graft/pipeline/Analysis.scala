package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's 7 analysis queries (SQL/03_analysis_queries.sql) as
  * DataFrame pipelines over the star schema. Null ordering is explicit
  * (`co2_per_mwh` is the one nullable measure, 01_create_schema.sql:51).
  */
object Analysis {

  /** Q1 — labeled row counts, UNION ALL (sql:4-10). */
  def q1TableCounts(star: EnergyStar): DataFrame =
    star.tables.map { case (n, df) =>
      df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("table_name"), col("n_rows"))
    }.reduce(_ union _)

  private def ciJoined(star: EnergyStar): DataFrame =
    star.factCarbonIntensity
      .join(broadcast(star.dimRegion), "region_id")
      .join(broadcast(star.dimTime), "time_id")

  /** Q2 — monthly carbon intensity by region (sql:14-24). */
  def q2MonthlyIntensity(star: EnergyStar): DataFrame =
    ciJoined(star)
      .select("region_name", "year", "month", "total_energy_mwh",
        "total_co2_tonnes", "co2_per_mwh")
      .orderBy("region_name", "year", "month")

  /** Q3 — top-5 highest-intensity months per region via ROW_NUMBER
    * (sql:28-45). DESC NULLS LAST explicit; (year, month) tie-break keeps
    * ranks deterministic.
    */
  def q3TopIntensityMonths(star: EnergyStar): DataFrame = {
    val w = Window.partitionBy("region_name")
      .orderBy(col("co2_per_mwh").desc_nulls_last, col("year"), col("month"))
    ciJoined(star)
      .select("region_name", "year", "month", "co2_per_mwh")
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 5)
      .orderBy("region_name", "rn")
  }

  /** Q4 — average monthly consumption per source, rounded (sql:49-55). */
  def q4AvgConsumptionPerSource(star: EnergyStar): DataFrame =
    star.factEnergyMonthly
      .join(broadcast(star.dimEnergySource), "source_id")
      .groupBy("source_name")
      .agg(round(avg(col("avg_consumption_mwh")), 2).as("avg_monthly_consumption_mwh"))
      .orderBy(col("avg_monthly_consumption_mwh").desc_nulls_last)

  /** Q5 — emissions vs energy by time then region (sql:59-69). */
  def q5EmissionsVsEnergy(star: EnergyStar): DataFrame =
    ciJoined(star)
      .select("region_name", "year", "month", "total_energy_mwh",
        "total_co2_tonnes", "co2_per_mwh")
      .orderBy("year", "month", "region_name")

  /** Q6 — null-intensity audit (sql:73-76). */
  def q6NullIntensityCount(star: EnergyStar): DataFrame =
    star.factCarbonIntensity
      .filter(col("co2_per_mwh").isNull)
      .agg(count(lit(1)).as("null_intensity_rows"))

  /** Q7 — 2024 intensity ranking (sql:80-89). */
  def q7IntensityRanking2024(star: EnergyStar): DataFrame =
    ciJoined(star)
      .filter(col("year") === 2024)
      .select("region_name", "year", "month", "co2_per_mwh")
      .orderBy(col("co2_per_mwh").desc_nulls_last, col("region_name"), col("month"))
}
