package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.FrameMemo
import graft.ops.StarSchema.sumMoney

/** Physical table layout for scale: partitioned and bucketed parquet.
  *
  * The reference writes flat single-file parquet per gold table
  * (`src/20_gold/silver_to_gold.py:36-40` — fine at laptop scale); at
  * 100 TB layout IS the optimizer:
  *
  *   - '''partitioning''' (hive-style `partitionBy` directories) turns
  *     time/tenant predicates into directory pruning — a scan of 7 days
  *     out of 10 years reads 7 directories, not 3650, before a single
  *     row group opens;
  *   - '''bucketing''' pre-shuffles a table ONCE at write time into a
  *     fixed hash layout, so every subsequent join or aggregation on
  *     the bucket key runs with zero exchange — the shuffle a fact⋈fact
  *     join would otherwise pay per-query is paid once, at load.
  *
  * Both writers repartition by the layout key first so each output
  * task owns its whole bucket/partition: one file per bucket (which
  * also lets the scan publish per-bucket sort order — `sortBy` survives
  * only when buckets are single-file), no small-file explosion from
  * task x partition fan-out.
  */
object Layout extends graft.QueryModule {

  /** Write `df` as a bucketed+sorted single-file-per-bucket parquet
    * table registered in the catalog (bucket metadata lives in the
    * catalog, so reads must go through `spark.table`). `sortBy` buys
    * row-group min/max locality and near-linear local re-sorts — Spark
    * >=3 no longer feeds bucket sort order to the planner (SPARK-28583),
    * so joins still place a partition-local SortExec above the scan; the
    * exchange elimination is the part that matters at scale.
    */
  def writeBucketed(s: SparkSession, df: DataFrame, name: String,
                    path: String, buckets: Int, key: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    // repartition on the bucket key with numPartitions = numBuckets uses
    // the same murmur3-pmod layout as the bucket-id function, so each
    // task holds exactly one bucket -> exactly one file per bucket
    df.repartition(buckets, col(key))
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(name)
  }

  /** The co-bucketed customer/orders layout of `d`: both tables written
    * in the same 16-bucket hash layout on custkey, one file per bucket,
    * under a fresh directory of the session's scratch root and
    * registered in the catalog as [[bucketedTable]]. Returns the
    * directory.
    */
  def bucketedLayout(s: SparkSession, d: String): String =
    FrameMemo.layout(s, d, "bucketedLayout") { root =>
      writeBucketed(s, Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        bucketedTable(root, "customer"), s"$root/customer", 16, "c_custkey")
      writeBucketed(s, Tables.orders(s, d).select("o_custkey", "o_totalprice"),
        bucketedTable(root, "orders"), s"$root/orders", 16, "o_custkey")
    }

  /** Catalog name of `table` in the bucketed layout at `root`. It is
    * named from the layout's directory: sessions of one context share
    * the catalog, so a fixed name would let one session replace
    * another's table.
    */
  private def bucketedTable(root: String, table: String): String =
    s"graft_${table}_b" + root.replaceAll("[^A-Za-z0-9]", "_")

  /** customer⋈orders + per-customer rollup over the co-bucketed layout:
    * the join AND the aggregation run with zero shuffle exchange (only
    * partition-local sorts) — LayoutSpec pins that plan shape. The
    * orderBy is presentation-only (oracle hash contract).
    */
  def bucketedOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val root = bucketedLayout(s, d)
    val c = s.table(bucketedTable(root, "customer"))
    val o = s.table(bucketedTable(root, "orders"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("total_spent"))
  }

  /** Events re-laid-out hive-partitioned by event day (the gold-layer
    * layout for an append-only fact: each day's load lands in its own
    * directory, prunable independently), written under
    * a fresh directory of the session's scratch root. Returns it.
    */
  def writeEventsPartitioned(s: SparkSession, d: String): String =
    FrameMemo.layout(s, d, "eventsPartitioned") { root =>
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(root)
    }

  /** Daily totals over a date slice of the partitioned layout. The
    * range predicate on the partition column never touches row data:
    * it prunes directories at planning time (LayoutSpec asserts the
    * scan selects exactly the 7 matching partitions of 30).
    */
  def prunedDailyTotals(s: SparkSession, root: String,
                        from: String, to: String): DataFrame =
    s.read.parquet(root)
      .filter(col("event_date")
        .between(lit(from).cast("date"), lit(to).cast("date")))
      .groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_bucketed_join" -> ((s, d) =>
      bucketedOrdersPerCustomer(s, d).orderBy("c_custkey")),

    "q57_partition_pruned" -> ((s, d) => {
      val root = writeEventsPartitioned(s, d)
      prunedDailyTotals(s, root, "2024-01-08", "2024-01-14")
        .orderBy("event_date", "event_type")
    }),

    // DYNAMIC partition pruning: q57's pruning works because the date
    // range is a literal the planner sees; here the date set comes from
    // a JOIN against a calendar dim filtered at runtime (weekends), so
    // static pruning is impossible — Spark instead plants a dynamic
    // pruning subquery on the fact's partition column: the dim's
    // broadcast result prunes the fact's directories at execution time.
    // At 100 TB this is the difference between scanning 10 years of an
    // event fact and scanning the ~28% of directories the dim selects
    // — without the query author enumerating dates. LayoutSpec pins the
    // dynamicpruning expression in the plan.
    "q92_dpp_weekend_totals" -> ((s, d) => {
      val root = writeEventsPartitioned(s, d)
      val cal = calendarDim(s, "2024-01-01", 31)
        .filter(col("is_weekend"))
        .select(col("cal_date"))
      s.read.parquet(root)
        .join(cal, col("event_date") === col("cal_date"))
        .groupBy("event_date", "event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
        .orderBy("event_date", "event_type")
    })
  )

  /** Generated calendar dim: `days` consecutive dates from `start` with
    * a weekend flag — the runtime-filterable side of the q92 DPP join.
    */
  def calendarDim(s: SparkSession, start: String, days: Int): DataFrame =
    s.range(days)
      .select(date_add(lit(start).cast("date"), col("id").cast("int")).as("cal_date"))
      .withColumn("is_weekend", dayofweek(col("cal_date")).isin(1, 7))

  val oracleSql: Map[String, String] = Map(
    "q56_bucketed_join" ->
      """SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin,

    "q92_dpp_weekend_totals" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
        |  AND dayofweek(CAST(ts AS DATE)) IN (0, 6)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q57_partition_pruned" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
  )
}
