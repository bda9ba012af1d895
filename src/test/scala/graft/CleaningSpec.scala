package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Medallion

/** Silver-cleaning semantics on handcrafted dirty rows — each case
  * mirrors one injection from the reference generator
  * (generate_energy_emissions.py:61-66,88-89,113-116) plus edge cases
  * the generator can't produce (bad dates, whitespace, out-of-range).
  */
class CleaningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bronze(rows: (String, String, String, String, String)*) =
    rows.toDF("date", "region", "energy_source", "consumption_mwh", "temperature_c")

  test("N/A and null consumption rows are dropped (coerce -> range filter)") {
    val df = bronze(
      ("2023-01-01", "North", "Gas", "100.5", "10.0"),
      ("2023-01-02", "North", "Gas", "N/A", "10.0"),
      ("2023-01-03", "North", "Gas", null, "10.0"))
    val out = Medallion.cleanEnergy(df)
    assert(out.count() == 1)
    assert(out.select("consumption_mwh").as[Double].collect().toSeq == Seq(100.5))
  }

  test("exact duplicate rows collapse to one") {
    val df = bronze(
      ("2023-01-01", "North", "Gas", "100.5", "10.0"),
      ("2023-01-01", "North", "Gas", "100.5", "10.0"))
    assert(Medallion.cleanEnergy(df).count() == 1)
  }

  test("invalid date strings become null and are dropped") {
    val df = bronze(
      ("not-a-date", "North", "Gas", "100.5", "10.0"),
      ("2023-13-45", "North", "Gas", "100.5", "10.0"),
      ("2023-02-01", "North", "Gas", "100.5", "10.0"))
    val out = Medallion.cleanEnergy(df)
    assert(out.count() == 1)
    assert(out.select(date_format(col("date"), "yyyy-MM-dd")).as[String]
      .collect().toSeq == Seq("2023-02-01"))
  }

  test("categorical whitespace is trimmed") {
    val df = bronze(("2023-01-01", "  North ", " Gas\t", "1.0", "5.0"))
    val r = Medallion.cleanEnergy(df).select("region", "energy_source").collect()(0)
    assert(r.getString(0) == "North" && r.getString(1) == "Gas")
  }

  test("range rules: temperature and consumption bounds are inclusive") {
    val df = bronze(
      ("2023-01-01", "N", "G", "0.0", "-40.0"),      // boundary: kept
      ("2023-01-02", "N", "G", "2000000.0", "60.0"), // boundary: kept
      ("2023-01-03", "N", "G", "-0.01", "10.0"),     // below: dropped
      ("2023-01-04", "N", "G", "2000000.01", "10.0"), // above: dropped
      ("2023-01-05", "N", "G", "1.0", "-40.5"),      // temp below: dropped
      ("2023-01-06", "N", "G", "1.0", "60.5"))       // temp above: dropped
    assert(Medallion.cleanEnergy(df).count() == 2)
  }

  test("types after cleaning: date/double schema") {
    val out = Medallion.cleanEnergy(bronze(("2023-01-01", "N", "G", "1", "2")))
    val types = out.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("date") == "date")
    assert(types("consumption_mwh") == "double")
    assert(types("temperature_c") == "double")
  }

  test("emissions cleaning: same contract on the 4-column shape") {
    val df = Seq(
      ("2023-01-01", "North", "Industry", "500.0"),
      ("2023-01-01", "North", "Industry", "500.0"), // dup
      ("2023-01-02", "North", "Industry", null),     // null co2 dropped
      ("bad", "North", "Industry", "1.0"))           // bad date dropped
      .toDF("date", "region", "sector", "co2_tonnes")
    assert(Medallion.cleanEmissions(df).count() == 1)
  }
}
