package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the NORMALIZED schema every query sees for all 9 testdata
  * tables, and the loader's tolerance to parquet timestamp-flavor drift.
  * The driver regenerates testdata between rounds and the flavor has
  * already moved once (timestamp[ns] → timestamp[us] no-tz, r11 — broke
  * every `unix_micros(ts)` query at analysis time): schema assumptions
  * live in `Tables`, never per-query, and this spec is the tripwire
  * that localizes the next drift to one file.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def fields(name: String): Seq[(String, DataType)] = {
    val df = name match {
      case "events"   => Tables.events(spark, d)
      case "orders"   => Tables.orders(spark, d)
      case "lineitem" => Tables.lineitem(spark, d)
      case other      => Tables.table(spark, d, other)
    }
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)
  }

  test("all 9 tables load and every timestamp column is session-TZ TimestampType") {
    // whatever parquet flavor the driver generated (ns/µs, tz/no-tz),
    // the loader must present plain TimestampType — watermarks and
    // unix_micros both reject TIMESTAMP_NTZ
    assert(fields("events").toMap.apply("ts") == TimestampType)
    assert(fields("orders").toMap.apply("o_orderdate") == TimestampType)
    assert(fields("lineitem").toMap.apply("l_shipdate") == TimestampType)
  }

  test("normalized schemas are pinned for all 9 tables") {
    assert(fields("region") == Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType))
    assert(fields("nation") == Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assert(fields("customer") == Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    assert(fields("supplier") == Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assert(fields("part") == Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
    assert(fields("orders") == Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType))
    assert(fields("lineitem") == Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType))
    assert(fields("events") == Seq(
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType))
    assert(fields("documents") == Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    assert(fields("embeddings") == Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))
  }

  test("normalizeTs maps all three scanned flavors to the same instant") {
    import spark.implicits._
    // one instant, three arrival shapes: epoch-nanos long (legacy
    // nanosAsLong scan), TIMESTAMP_NTZ (parquet timestamp[us] no-tz,
    // the r11 regeneration), TimestampType (already normalized)
    val instant = Timestamp.valueOf("1997-06-15 12:34:56.789012")
    val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(instant)

    val asNanos = Seq(micros * 1000L).toDF("ts")
    val asTz = Seq(instant).toDF("ts")
    val asNtz = asTz.withColumn("ts", col("ts").cast(TimestampNTZType))
    assert(asNtz.schema("ts").dataType == TimestampNTZType)

    val outs = Seq(asNanos, asNtz, asTz).map(Tables.normalizeTs(_, "ts"))
    outs.foreach(o => assert(o.schema("ts").dataType == TimestampType))
    // session TZ is pinned UTC, so NTZ wall-clock == UTC instant and all
    // three flavors land on identical micros
    outs.foreach { o =>
      assert(o.select(unix_micros(col("ts"))).head().getLong(0) == micros)
    }
  }

  test("events round-trips exactly through the normalized loader vs a raw NTZ-as-UTC read") {
    // value-level pin, not just schema: the normalized ts must be the
    // raw parquet wall-clock interpreted as UTC
    val raw = Tables.table(spark, d, "events")
    val viaLoader = Tables.events(spark, d)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val expected = raw.schema("ts").dataType match {
      case LongType => raw.select(col("event_id"), expr("ts div 1000").as("us"))
      case _ => raw.select(col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("us"))
    }
    assert(viaLoader.exceptAll(expected).isEmpty &&
      expected.exceptAll(viaLoader).isEmpty)
  }

  test("reopening a snapshot table starts no job") {
    def openAll(): Unit = Seq[(SparkSession, String) => DataFrame](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
      Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings
    ).foreach(_(spark, d))
    openAll()
    val (_, jobs) = SparkTestSession.jobsDuring(openAll())
    assert(jobs == 0, s"$jobs jobs reopening the 10 tables")
  }

  test("a non-snapshot dir reads a rewritten table's new schema") {
    import spark.implicits._
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-reopen")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((2, 0.5, "b")).toDF("x", "y", "z").write.mode("overwrite").parquet(s"$dir/region.parquet")
    val second = Tables.region(spark, dir)
    assert(second.schema.fields.toSeq.map(f => f.name -> f.dataType) ==
      Seq("x" -> IntegerType, "y" -> DoubleType, "z" -> StringType))
    assert(second.collect().toSeq.map(_.toSeq) == Seq(Seq(2, 0.5, "b")))
  }

  test("two opens of one table self-join by column reference") {
    val (a, b) = (Tables.orders(spark, d), Tables.orders(spark, d))
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == a.count())
    // Spark re-points a trivially true `x = x` at both sides, but not `<`:
    // this one needs each open's own attribute ids
    val (e1, e2) = (Tables.events(spark, d), Tables.events(spark, d))
    val pairs = e1.join(e2,
      e1("user_id") === e2("user_id") && e1("event_id") < e2("event_id")).count()
    val expected = e1.groupBy("user_id").count().collect()
      .map { r => val n = r.getLong(1); n * (n - 1) / 2 }.sum
    assert(pairs == expected && expected > 0, s"$pairs same-user pairs, expected $expected")
  }
}
