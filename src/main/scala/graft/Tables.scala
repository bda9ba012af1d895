package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's read-only parquet testdata
  * (`/root/testdata/sf*`; see TESTDATA.md). All engine queries are
  * `DataFrame`-in/`DataFrame`-out over these tables so Catalyst sees one
  * end-to-end logical plan per query (scan → ... → sink) and can push
  * filters/projections into the parquet scan.
  *
  * Opening a table starts no Spark job once its schema is known. Without
  * a schema, `spark.read.parquet` runs one schema-inference job per call,
  * so [[table]] resolves each table's parquet schema once per (session,
  * snapshot dir, table) through `FrameMemo.value` (key `schema:<name>`)
  * and every call then reads with that explicit schema. The schema is
  * memoized, not the frame: each open must be a new relation with fresh
  * attribute ids, so that two opens of one table self-join by column
  * reference exactly as two inferring reads do. A non-snapshot dir (a
  * test fixture that may be rewritten between opens) is not retained by
  * `FrameMemo`, so it still infers on every call.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = graft.ops.FrameMemo.value(spark, dir, s"schema:$name")(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "lineitem"), "l_shipdate")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark has no native
    * type for. With `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    * `LocalSession` and `SparkTestSession`) it scans as LongType nanos;
    * normalize to a microsecond TimestampType column here so downstream
    * code sees one schema. Day/hour/month truncations are unaffected by
    * the ns→µs cut.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"), "ts")

  /** The driver regenerates testdata between rounds and the parquet flavor of
    * `events.ts` has drifted (timestamp[ns] → timestamp[us] no-tz). Normalize
    * every flavor to session-TZ TimestampType at the loader so no query ever
    * branches on it:
    *  - LongType epoch nanos (legacy, via nanosAsLong=true): integer `div`,
    *    NOT `/` — Column./ is DOUBLE division and epoch nanos (~1.7e18) exceed
    *    double's 2^53 mantissa; `(ts / 1000L).cast("long")` came back ±1µs on
    *    ~12% of rows (caught by q58's session bounds).
    *  - TimestampNTZType (parquet timestamp[us] without tz): cast to
    *    TimestampType. Session TZ is pinned UTC everywhere (set by
    *    `LocalSession` and `SparkTestSession`), so the instant is
    *    unchanged and matches DuckDB's `CAST(ts AS TIMESTAMP)` oracle
    *    semantics.
    *  - TimestampType: pass through.
    */
  private[graft] def normalizeTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(c).dataType match {
      case LongType         => df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast("timestamp"))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
