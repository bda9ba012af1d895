package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The Verify subset form: trailing query names restrict both the
  * parquet dumps and the oracle_sql.json keys, so tools/check.py runs
  * unchanged on the output. Calls `dump` on the shared test session —
  * never `main`, which would stop it.
  */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def tempDir(): java.nio.file.Path =
    java.nio.file.Paths.get(org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-verify-spec"))

  test("dump with one name writes exactly that query and its oracle key") {
    val out = tempDir()
    val name = "q16_dim_region"
    assert(SparkEntry.oracleSql.contains(name))
    Verify.dump(spark, sf, out.toString, Seq(name))
    assert(out.toFile.list().toSet == Set(name, "oracle_sql.json"))
    val parquet = out.resolve(name).toFile.list().filter(_.endsWith(".parquet"))
    assert(parquet.nonEmpty, s"no parquet part under $out/$name")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("oracle_sql.json").toFile)
    assert(json.fieldNames().asScala.toSeq == Seq(name))
    assert(json.get(name).asText() == SparkEntry.oracleSql(name))
  }

  test("a name that matches no registered query fails before writing") {
    val out = tempDir()
    intercept[IllegalArgumentException](
      Verify.dump(spark, sf, out.toString, Seq("q9999")))
    assert(out.toFile.list().isEmpty)
  }

  test("select matches full names and qNN stems, never a longer number") {
    // q220–q228 share the "q22" prefix; only q22_* may match the stem
    assert(SparkEntry.select(Set("q22")).keySet == Set("q22_text_quality"))
    assert(SparkEntry.select(Set("q16_dim_region")).keySet == Set("q16_dim_region"))
  }
}
