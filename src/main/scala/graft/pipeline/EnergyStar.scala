package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference warehouse star schema (SQL/01_create_schema.sql +
  * load_to_postgres.py) built from the gold marts: 4 dims, 3 facts,
  * surrogate keys applied via broadcast joins.
  *
  * All 7 frames are materialized (`localCheckpoint`): the warehouse load
  * and the analysis queries read the star's rows, not the gold scans,
  * `distinct` + global `row_number` dims and joins that derived them.
  * The rows are bounded by the dim cardinalities, not by bronze volume:
  * regions × sources × months, regions × sectors × months and
  * regions × months fact rows (960 + 720 + 240 for 4 regions, 4 sources
  * and 3 sectors over 60 months). The blocks live as long as the star
  * does: once it is unreachable, Spark's context cleaner frees them.
  */
case class EnergyStar(
    dimRegion: DataFrame, dimEnergySource: DataFrame, dimSector: DataFrame,
    dimTime: DataFrame, factEnergyMonthly: DataFrame,
    factEmissionsMonthly: DataFrame, factCarbonIntensity: DataFrame)

object EnergyStar {

  /** Build the full star from the three gold marts
    * (load_to_postgres.py:120-196, minus the Postgres round-trips: dict
    * lookups become broadcast joins, SERIAL becomes sorted row_number).
    * Each dim is materialized first and each fact joins the materialized
    * dims, so the gold marts are scanned only inside this call.
    */
  def build(energyMonthly: DataFrame, emissionsMonthly: DataFrame,
            carbonIntensity: DataFrame): EnergyStar = {
    val dimRegion = StarOps.buildDim(energyMonthly, "region_id", "region")
      .withColumnRenamed("region", "region_name").localCheckpoint()
    val dimSource = StarOps.buildDim(energyMonthly, "source_id", "energy_source")
      .withColumnRenamed("energy_source", "source_name").localCheckpoint()
    val dimSector = StarOps.buildDim(emissionsMonthly, "sector_id", "sector")
      .withColumnRenamed("sector", "sector_name").localCheckpoint()
    // dim_time unions all three marts' (year, month) domains
    // (load_to_postgres.py:138-141) — sorted, so ids are deterministic
    val times = Seq(energyMonthly, emissionsMonthly, carbonIntensity)
      .map(_.select("year", "month")).reduce(_ union _)
    val dimTime = times.distinct()
      .withColumn("time_id",
        row_number().over(StarOps.tinyGlobalWindow(
          col("year"), col("month"))).cast("int"))
      .localCheckpoint()

    def withRegion(df: DataFrame) = df.join(broadcast(dimRegion),
      df("region") === dimRegion("region_name"))
    def withTime(df: DataFrame) = df.join(broadcast(dimTime), Seq("year", "month"))

    val factEnergy = withTime(withRegion(energyMonthly))
      .join(broadcast(dimSource), col("energy_source") === dimSource("source_name"))
      .select("region_id", "source_id", "time_id", "avg_consumption_mwh",
        "max_consumption_mwh", "avg_temp_c", "records")
      .localCheckpoint()
    val factEmissions = withTime(withRegion(emissionsMonthly))
      .join(broadcast(dimSector), col("sector") === dimSector("sector_name"))
      .select("region_id", "sector_id", "time_id", "avg_co2_tonnes",
        "total_co2_tonnes", "records")
      .localCheckpoint()
    val factCi = withTime(withRegion(carbonIntensity))
      .select("region_id", "time_id", "total_energy_mwh", "total_co2_tonnes",
        "co2_per_mwh")
      .localCheckpoint()

    EnergyStar(dimRegion, dimSource, dimSector, dimTime,
      factEnergy, factEmissions, factCi)
  }

  /** Register all 7 tables as temp views so the analysis surface is also
    * reachable through `spark.sql`.
    */
  def registerViews(s: SparkSession, star: EnergyStar): Unit = {
    star.dimRegion.createOrReplaceTempView("dim_region")
    star.dimEnergySource.createOrReplaceTempView("dim_energy_source")
    star.dimSector.createOrReplaceTempView("dim_sector")
    star.dimTime.createOrReplaceTempView("dim_time")
    star.factEnergyMonthly.createOrReplaceTempView("fact_energy_monthly")
    star.factEmissionsMonthly.createOrReplaceTempView("fact_emissions_monthly")
    star.factCarbonIntensity.createOrReplaceTempView("fact_carbon_intensity")
  }
}
