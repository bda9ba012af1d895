package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.FrameMemo

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
  *
  * Because of that bound every frame is ONE partition, and its plan says
  * so (`SinglePartition`): the analysis queries' aggregations, windows
  * and sorts plan no exchange over it. Silver and gold scale with bronze
  * and keep their parallel writes; only the star is narrowed.
  */
case class EnergyStar(
    dimRegion: DataFrame, dimEnergySource: DataFrame, dimSector: DataFrame,
    dimTime: DataFrame, factEnergyMonthly: DataFrame,
    factEmissionsMonthly: DataFrame, factCarbonIntensity: DataFrame)

object EnergyStar {

  /** `df` as one materialized partition that its plan reports as
    * `SinglePartition`. A `localCheckpoint`ed frame plans as a bare RDD
    * scan with `UnknownPartitioning`, so every aggregation or window over
    * it would add an `Exchange SinglePartition`; the trailing narrow
    * `coalesce(1)` of the one-partition RDD restores the partitioning at
    * no cost.
    */
  private def materialize(df: DataFrame): DataFrame =
    df.coalesce(1).localCheckpoint().coalesce(1)

  /** Build the full star from the three gold marts
    * (load_to_postgres.py:120-196, minus the Postgres round-trips: dict
    * lookups become broadcast joins, SERIAL becomes sorted row_number).
    * Each gold mart is read as one partition, so the dims' `distinct` and
    * global `row_number` plan no exchange. The 4 dims materialize
    * concurrently, then the 3 facts, each joining the materialized dims,
    * also concurrently: each checkpoint is a small job that waits on the
    * driver far more than it computes, and one at a time they left the
    * cores idle. The joins keep their `broadcast` hints: a
    * `shuffle_hash` or `merge` hint makes `EnsureRequirements`
    * re-shuffle two single-partition sides up to
    * `spark.sql.shuffle.partitions`. The gold marts are scanned only
    * inside this call.
    */
  def build(energyMonthly: DataFrame, emissionsMonthly: DataFrame,
            carbonIntensity: DataFrame): EnergyStar = {
    val Seq(energy, emissions, ci) =
      Seq(energyMonthly, emissionsMonthly, carbonIntensity).map(_.coalesce(1))
    val Seq(dimRegion, dimSource, dimSector, dimTime) = FrameMemo.inParallel("energy-star-dim")(
      () => materialize(StarOps.buildDim(energy, "region_id", "region")
        .withColumnRenamed("region", "region_name")),
      () => materialize(StarOps.buildDim(energy, "source_id", "energy_source")
        .withColumnRenamed("energy_source", "source_name")),
      () => materialize(StarOps.buildDim(emissions, "sector_id", "sector")
        .withColumnRenamed("sector", "sector_name")),
      // dim_time unions all three marts' (year, month) domains
      // (load_to_postgres.py:138-141) — sorted, so ids are deterministic
      () => materialize(StarOps.buildDim(Seq(energy, emissions, ci)
        .map(_.select("year", "month")).reduce(_ union _).coalesce(1),
        "time_id", "year", "month")))

    def withRegion(df: DataFrame) = df.join(broadcast(dimRegion),
      df("region") === dimRegion("region_name"))
    def withTime(df: DataFrame) = df.join(broadcast(dimTime), Seq("year", "month"))

    val Seq(factEnergy, factEmissions, factCi) = FrameMemo.inParallel("energy-star-fact")(
      () => materialize(withTime(withRegion(energy))
        .join(broadcast(dimSource), col("energy_source") === dimSource("source_name"))
        .select("region_id", "source_id", "time_id", "avg_consumption_mwh",
          "max_consumption_mwh", "avg_temp_c", "records")),
      () => materialize(withTime(withRegion(emissions))
        .join(broadcast(dimSector), col("sector") === dimSector("sector_name"))
        .select("region_id", "sector_id", "time_id", "avg_co2_tonnes",
          "total_co2_tonnes", "records")),
      () => materialize(withTime(withRegion(ci))
        .select("region_id", "time_id", "total_energy_mwh", "total_co2_tonnes",
          "co2_per_mwh")))

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
