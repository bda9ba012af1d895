package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bronze→Silver→Gold medallion transforms (reference
  * `src/10_silver/bronze_to_silver.py` and `src/20_gold/silver_to_gold.py`),
  * as lazily-composed `DataFrame => DataFrame` stages: the whole chain is
  * ONE Catalyst plan per mart, so filters/pruning push into the bronze scan
  * and nothing materializes until the sink.
  */
object Medallion {

  /** String→date with null-on-error, ANSI-safe: plain `to_date` THROWS
    * under ANSI mode (Spark 4 default) on unparseable input — the
    * pandas-`errors="coerce"` contract needs the try_ variant.
    */
  private def tryToDate(c: org.apache.spark.sql.Column) =
    try_to_timestamp(c, lit("yyyy-MM-dd")).cast("date")

  /** Pandas `.str.strip()` removes ALL whitespace; Spark `trim` removes
    * only spaces. Mirror the reference's semantics.
    */
  private def strip(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^\\s+|\\s+$", "")

  /** Silver cleaning for energy (bronze_to_silver.py:17-45): full-row
    * dedup on raw values, string→date/double coercion with null-on-error
    * (`try_cast` ≡ pandas `errors="coerce"`), trim, range validation
    * (NULL fails `between`, matching pandas NaN-comparison-is-False),
    * not-null date, median imputation (observable no-op — the range
    * filter already dropped nulls; kept for capability parity).
    *
    * The reference drops null dates after imputing; here the date filter
    * runs first. The output is the same: the range filter has already
    * dropped every null measure, so the median fills nothing, and the
    * rows it sees are exactly the rows kept. Filtering first gives the
    * median branch and the main branch one identical subtree, so AQE
    * reuses its exchange and bronze is scanned and deduplicated once.
    */
  def cleanEnergy(bronze: DataFrame): DataFrame =
    bronze
      .dropDuplicates()
      .select(
        tryToDate(col("date")).as("date"),
        strip(col("region")).as("region"),
        strip(col("energy_source")).as("energy_source"),
        expr("try_cast(consumption_mwh AS double)").as("consumption_mwh"),
        expr("try_cast(temperature_c AS double)").as("temperature_c"))
      .filter(col("temperature_c").between(-40, 60))
      .filter(col("consumption_mwh").between(0, 2000000))
      .filter(col("date").isNotNull)
      .transform(imputeMedian("consumption_mwh"))

  /** Silver cleaning for emissions (bronze_to_silver.py:48-75), with
    * the same filter order as [[cleanEnergy]].
    */
  def cleanEmissions(bronze: DataFrame): DataFrame =
    bronze
      .dropDuplicates()
      .select(
        tryToDate(col("date")).as("date"),
        strip(col("region")).as("region"),
        strip(col("sector")).as("sector"),
        expr("try_cast(co2_tonnes AS double)").as("co2_tonnes"))
      .filter(col("co2_tonnes").between(0, 5000000))
      .filter(col("date").isNotNull)
      .transform(imputeMedian("co2_tonnes"))

  /** `fillna(median)` (C4/A4): exact interpolating median (Spark `median`,
    * not `percentile_approx`) broadcast onto every row via a 1-row cross
    * join — no driver round-trip, stays one distributed plan.
    */
  def imputeMedian(c: String)(df: DataFrame): DataFrame = {
    val med = df.agg(median(col(c)).as("__median"))
    df.crossJoin(broadcast(med))
      .withColumn(c, coalesce(col(c), col("__median")))
      .drop("__median")
  }

  /** Gold mart: monthly energy stats by (region, source, year, month)
    * (silver_to_gold.py:37-45). `records` is `count(*)` — pandas `size`
    * counts all rows including nulls.
    */
  def energyMonthly(silver: DataFrame): DataFrame =
    silver
      .groupBy(col("region"), col("energy_source"),
        year(col("date")).as("year"), month(col("date")).as("month"))
      .agg(
        avg(col("consumption_mwh")).as("avg_consumption_mwh"),
        max(col("consumption_mwh")).as("max_consumption_mwh"),
        avg(col("temperature_c")).as("avg_temp_c"),
        count(lit(1)).as("records"))

  /** Gold mart: monthly emissions by (region, sector, year, month)
    * (silver_to_gold.py:50-57).
    */
  def emissionsMonthly(silver: DataFrame): DataFrame =
    silver
      .groupBy(col("region"), col("sector"),
        year(col("date")).as("year"), month(col("date")).as("month"))
      .agg(
        avg(col("co2_tonnes")).as("avg_co2_tonnes"),
        sum(col("co2_tonnes")).as("total_co2_tonnes"),
        count(lit(1)).as("records"))

  /** Gold mart: carbon intensity per (region, year, month)
    * (silver_to_gold.py:64-84). Pre-aggregates BOTH sides before the
    * 3-key equi-join — the join input is |regions × months| rows, the
    * shape a cost-based optimizer would pick, and the one that scales.
    * Divide-by-zero yields NULL explicitly (P9).
    */
  def carbonIntensity(energySilver: DataFrame, emissionsSilver: DataFrame): DataFrame = {
    val e = energySilver
      .groupBy(col("region"), year(col("date")).as("year"), month(col("date")).as("month"))
      .agg(sum(col("consumption_mwh")).as("total_energy_mwh"))
    val m = emissionsSilver
      .groupBy(col("region"), year(col("date")).as("year"), month(col("date")).as("month"))
      .agg(sum(col("co2_tonnes")).as("total_co2_tonnes"))
    e.join(m, Seq("region", "year", "month"), "inner")
      .withColumn("co2_per_mwh",
        col("total_co2_tonnes") /
          when(col("total_energy_mwh") === 0, lit(null))
            .otherwise(col("total_energy_mwh")))
  }
}
