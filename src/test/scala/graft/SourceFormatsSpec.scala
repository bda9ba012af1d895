package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The remaining built-in columnar/text formats beyond the registered
  * CSV/Parquet/JDBC surface: ORC (the other columnar lake format) and
  * JSON lines (the interchange format event buses emit). Both read with
  * EXPLICIT schemas — schema inference over 100 TB is a full extra scan,
  * and JSON inference can silently widen types between runs.
  */
class SourceFormatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"
  private lazy val tmp = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-formats")

  test("ORC sink/scan round-trips the orders table exactly") {
    val src = Tables.orders(spark, d)
    val path = s"$tmp/graft_orders_orc"
    src.write.mode("overwrite").orc(path)
    val back = spark.read.schema(src.schema).orc(path)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // ORC scans take pushed filters like parquet scans do
    val p = back.filter(col("o_orderkey") === 1L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("o_orderkey"),
      s"expected pushdown into the ORC scan:\n$p")
  }

  test("JSON-lines sink/scan round-trips events with an explicit schema") {
    val src = Tables.events(spark, d)
      .select("event_id", "user_id", "event_type", "value", "ts")
    val path = s"$tmp/graft_events_json"
    // default JSON timestampFormat truncates to milliseconds — at µs
    // event precision that is silent data loss; pin the format on both
    // sides of the boundary
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    src.write.mode("overwrite").option("timestampFormat", tsFmt).json(path)
    val back = spark.read.schema(src.schema)
      .option("timestampFormat", tsFmt).json(path)
    assert(back.schema == src.schema)
    // timestamps survive the text round-trip at full microsecond
    // precision, so the frames are row-identical
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("malformed JSON rows are isolated, not fatal (PERMISSIVE + corrupt column)") {
    import java.nio.file.{Files, Paths}
    val path = s"$tmp/graft_bad_json"
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, "part-0.json"),
      """{"event_id": 1, "value": 2.5}
        |not json at all
        |{"event_id": 3, "value": 7.0}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, value DOUBLE, _corrupt_record STRING")
    // Spark refuses corrupt-column-only queries over raw JSON (the
    // column exists only while the row is being parsed) — materialize
    // the full rows once, then assert in memory
    val rows = spark.read.schema(schema).json(path)
      .select("event_id", "value", "_corrupt_record").collect()
    assert(rows.length == 3)
    assert(rows.count(r => !r.isNullAt(2)) == 1)
    assert(rows.filter(_.isNullAt(2)).map(_.getDouble(1)).sum == 9.5)
  }
}
