package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types._
import graft.datagen.EnergyGen

/** End-to-end medallion run (the reference's three entry points chained,
  * SURVEY §3): generate bronze CSV → silver parquet → gold parquet →
  * star schema → the 7 analysis queries. Usage:
  *   runMain graft.pipeline.RunMedallion /tmp/lakehouse
  *
  * Exercises the physical sources/sinks (S1-S4): bronze really goes
  * through CSV text (schema declared, `consumption_mwh` read as string so
  * "N/A" survives to silver — SURVEY §7.4.9), silver/gold through parquet.
  */
object RunMedallion {

  val EnergyBronzeSchema = StructType(Seq(
    StructField("date", StringType),
    StructField("region", StringType),
    StructField("energy_source", StringType),
    StructField("consumption_mwh", StringType), // dirty: doubles + "N/A" + null
    StructField("temperature_c", StringType)))

  val EmissionsBronzeSchema = StructType(Seq(
    StructField("date", StringType),
    StructField("region", StringType),
    StructField("sector", StringType),
    StructField("co2_tonnes", StringType)))

  def run(spark: SparkSession, root: String): EnergyStar = {
    // bronze (CSV, raw shape preserved)
    EnergyGen.energyBronze(spark).write.mode(SaveMode.Overwrite)
      .option("header", true).csv(s"$root/bronze/energy_raw")
    EnergyGen.emissionsBronze(spark).write.mode(SaveMode.Overwrite)
      .option("header", true).csv(s"$root/bronze/emissions_raw")

    // silver (clean, typed parquet) — explicit schema, never inferSchema
    val energyBronze = spark.read.schema(EnergyBronzeSchema)
      .option("header", true).csv(s"$root/bronze/energy_raw")
    val emissionsBronze = spark.read.schema(EmissionsBronzeSchema)
      .option("header", true).csv(s"$root/bronze/emissions_raw")
    Medallion.cleanEnergy(energyBronze).write.mode(SaveMode.Overwrite)
      .parquet(s"$root/silver/energy")
    Medallion.cleanEmissions(emissionsBronze).write.mode(SaveMode.Overwrite)
      .parquet(s"$root/silver/emissions")

    // gold (aggregated marts, partitioned by year so time-filtered reads
    // prune — the Spark analog of the reference's b-tree time_id indexes)
    val energySilver = spark.read.parquet(s"$root/silver/energy")
    val emissionsSilver = spark.read.parquet(s"$root/silver/emissions")
    Medallion.energyMonthly(energySilver).write.mode(SaveMode.Overwrite)
      .partitionBy("year").parquet(s"$root/gold/energy_monthly")
    Medallion.emissionsMonthly(emissionsSilver).write.mode(SaveMode.Overwrite)
      .partitionBy("year").parquet(s"$root/gold/emissions_monthly")
    Medallion.carbonIntensity(energySilver, emissionsSilver).write
      .mode(SaveMode.Overwrite).partitionBy("year")
      .parquet(s"$root/gold/carbon_intensity")

    // warehouse star
    val star = EnergyStar.build(
      spark.read.parquet(s"$root/gold/energy_monthly"),
      spark.read.parquet(s"$root/gold/emissions_monthly"),
      spark.read.parquet(s"$root/gold/carbon_intensity"))
    StarOps.assertNoNulls(star.factCarbonIntensity,
      Seq("region_id", "time_id", "total_energy_mwh", "total_co2_tonnes"),
      "fact_carbon_intensity load")
    EnergyStar.registerViews(spark, star)
    // JDBC warehouse load (S5/S6 + M5): stage + one-transaction MERGE
    // into embedded Derby — the reference's load_to_postgres entry point
    graft.sources.JdbcWarehouse.loadStar(
      graft.sources.JdbcStage.derbyUrl(s"$root/warehouse/derby"), star)
    star
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/lakehouse")
    val spark = graft.LocalSession.create()
    val star = run(spark, root)
    Seq(
      "q1" -> Analysis.q1TableCounts(star),
      "q2" -> Analysis.q2MonthlyIntensity(star),
      "q3" -> Analysis.q3TopIntensityMonths(star),
      "q4" -> Analysis.q4AvgConsumptionPerSource(star),
      "q5" -> Analysis.q5EmissionsVsEnergy(star),
      "q6" -> Analysis.q6NullIntensityCount(star),
      "q7" -> Analysis.q7IntensityRanking2024(star)
    ).foreach { case (n, df) => println(s"$n: ${df.count()} rows") }
    spark.stop()
  }
}
