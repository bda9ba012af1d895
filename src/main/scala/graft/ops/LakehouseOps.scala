package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Warehouse-lifecycle operators beyond the reference's one-shot load
  * (`load_to_postgres.py` rebuilds dims in full each run): SCD
  * type-2 history tracking and incremental gold maintenance — the two
  * operations that replace "recompute everything" once the fact history
  * is too large to rescan.
  */
object LakehouseOps extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SCD type-2 dimension history: run-length encode each customer's
    // order-priority over time into (valid_from, valid_to, is_current)
    // intervals — the history a type-2 dim keeps where the reference's
    // dims overwrite in place. Gaps-and-islands: a lag over
    // (custkey | odate, orderkey) flags change points, a running sum
    // numbers the runs, one partition-local aggregate collapses each run,
    // and a lead closes the intervals. Scale shape: ONE shuffle on
    // custkey — the run aggregate groups on (custkey, version) and the
    // lead window re-partitions on custkey, both satisfied by the lag
    // window's hash partitioning, so all four steps share one exchange.
    "q80_scd2_history" -> ((s, d) =>
      scd2Runs(Tables.orders(s, d).select(
        col("o_custkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_orderkey"),
        col("o_orderpriority").as("priority")))
        .orderBy("custkey", "version")),

    // Incremental SCD2 maintenance — the production path for q80's
    // history once the fact is too large to rescan: a new batch of
    // orders reworks ONLY the customers it touches (their full order
    // history re-runs the run-length encoding — key-granular
    // recomputation), while every untouched customer's history rows
    // pass through verbatim from the stored table (here: the
    // pre-cutoff build standing in for the stored history, as in q87).
    // The splice equals the full rebuild exactly — the oracle IS q80's
    // full-history SQL — because SCD2 history is per-customer
    // independent: a batch for customer A can never change customer
    // B's intervals. Scale shape: the anti/semi splits broadcast the
    // touched-customer id set (batch-sized, small by definition), so
    // the stored side never shuffles.
    "q99_scd2_incremental" -> ((s, d) => {
      val cutoff = lit("2001-01-01").cast("date")
      val all = Tables.orders(s, d).select(
        col("o_custkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_orderkey"),
        col("o_orderpriority").as("priority"))
      val touched = all.filter(col("odate") >= cutoff)
        .select(col("o_custkey")).distinct()
      // stored history (pre-cutoff build), minus touched customers
      val untouched = scd2Runs(all.filter(col("odate") < cutoff))
        .join(broadcast(touched), col("custkey") === touched("o_custkey"),
          "left_anti")
      // touched customers: recompute from their own full order history
      val reworked = scd2Runs(
        all.join(broadcast(touched), Seq("o_custkey"), "left_semi"))
      untouched.unionByName(reworked)
        .orderBy("custkey", "version")
    }),

    // Point-in-time dimension snapshots — the CONSUMER side of q80's
    // SCD2 history, and the reason type-2 history exists at all: "what
    // did the dimension look like on date D" without replaying facts.
    // Each probe date lands in at most one validity interval per
    // customer, so the census per (snapshot, priority) is a plain
    // count. Customers whose history starts after the probe date are
    // correctly absent. Scale shape: the 3-row probe frame broadcasts
    // into a nested-loop join that is effectively a per-row flatMap
    // (each interval emits <= 3 snapshot rows), then ONE shuffle for
    // the census count — the history is never re-sorted or rebuilt per
    // probe date.
    "q109_dim_snapshot" -> ((s, d) => {
      val history = scd2Runs(Tables.orders(s, d).select(
        col("o_custkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_orderkey"),
        col("o_orderpriority").as("priority")))
      val snapshots = s.range(1).select(explode(array(
        Seq("1996-01-01", "1998-01-01", "2000-01-01")
          .map(x => lit(x).cast("date")): _*)).as("snap"))
      history.join(broadcast(snapshots),
          col("snap") >= col("valid_from") &&
            (col("valid_to").isNull || col("snap") < col("valid_to")))
        .groupBy("snap", "priority")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("snap", "priority")
    }),

    // Snapshot CDC diff: the keyed change set between two table states —
    // what a replication/audit pipeline computes to ship (or verify) a
    // delta instead of a full copy. Snapshot A = per-order fulfillment
    // state as of the cutoff; snapshot B = current state with returned
    // lines dropped, so all three change types arise naturally: orders
    // first shipped after the cutoff (insert), orders whose quantities
    // grew (update), and all-returned orders that vanished (delete).
    // Measures are DECIMAL sums, so "changed" is exact equality, not a
    // float tolerance. Scale shape: each side partial-aggregates
    // map-side on l_orderkey, then ONE co-partitioned full-outer
    // sort-merge join on that same key — two scans, one exchange per
    // side, no broadcast of fact-sized data, and the unchanged majority
    // is filtered right after the join so only the delta flows on.
    "q102_snapshot_diff" -> ((s, d) => {
      val a = orderState(s, d,
        col("l_shipdate") <= lit("1998-06-30 23:59:59").cast("timestamp"))
      val b = orderState(s, d, col("l_returnflag") =!= "R")
      // change detection is exact DECIMAL equality inside snapshotDiff;
      // only the REPORTED old/new values cast to double (DuckDB's .df()
      // hands DECIMAL back as float64, so the compare needs one dtype)
      val out = snapshotDiff(a, b, "okey", Seq("ship_qty", "ship_value"))
      out.select(out.columns.map(c =>
        if (c.startsWith("old_") || c.startsWith("new_"))
          col(c).cast("double").as(c)
        else col(c)): _*)
        .orderBy("change_type", "okey")
    }),

    // Order-independent table fingerprint: per source, COUNT plus the
    // mod-2^64 sum of each row's 64-bit content hash (lower half of the
    // row md5). The replication-consistency check for a lakehouse: two
    // replicas agree iff (n_rows, fingerprint) agree per slice, w.h.p.
    // Addition mod 2^64 is commutative/associative, so the fingerprint
    // is ROW-ORDER INVARIANT and MERGEABLE: partitions (or days, or
    // replicas' shards) fingerprint independently and the slice value is
    // the mod-sum — verify 100 TB without ever colocating it. Scale
    // shape: narrow per-row hashing, one partial-aggregated shuffle on
    // the (tiny) source key. Mergeability/permutation/sensitivity pinned
    // in LakehouseSpec; the DuckDB oracle computes the same value via
    // md5_number_lower, so the hash-compare crosses engines.
    "q103_table_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("fp", rowFingerprint64(fingerprintInput(Seq(
          col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text")))))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          // string, not numeric: a 64-bit value loses precision in the
          // float64 the oracle compare coerces DECIMALs to
          (sum(col("fp")) % lit(Mod64)).cast("decimal(38,0)")
            .cast("string").as("fingerprint"))
        .orderBy("source")),

    // Incremental gold maintenance: the monthly revenue gold table is
    // NOT recomputed from scratch when a new batch of orders lands —
    // the stored gold (here: everything before the cutoff) merges with
    // the batch's partial aggregate via a full-outer coalesce-and-add.
    // Exact because the measures are algebraic: DECIMAL sums and counts
    // merge losslessly, so merged == full recompute bit-for-bit (the
    // oracle IS the full recompute; LakehouseSpec pins the engine-side
    // differential too). At 100 TB this is the difference between
    // scanning one day and scanning ten years: history is touched only
    // through its k-row aggregate.
    "q87_incremental_gold" -> ((s, d) => {
      val cutoff = lit("2001-01-01").cast("date")
      val stored = goldMonthly(s, d, col("o_orderdate") < cutoff)
      val batch = goldMonthly(s, d, col("o_orderdate") >= cutoff)
      mergeGold(stored, batch)
        .orderBy("region_name", "year", "month")
    })
  )

  /** 2^64 as the DECIMAL modulus for the mergeable fingerprint sum. */
  private[graft] val Mod64 = BigDecimal(BigInt(1) << 64)

  /** INJECTIVE row serialization for fingerprinting: each field is
    * escaped (backslash doubled, then the separator escaped) and NULL
    * becomes the bare marker `\N` — which no escaped non-null value can
    * produce — then fields join on `|`. A naive concat_ws would let
    * ("a|b", "c") collide with ("a", "b|c") and silently SKIP nulls,
    * letting genuinely divergent replicas fingerprint as equal; the
    * oracle reproduces this exact encoding (see `encFieldSql`).
    */
  private[graft] def fingerprintInput(cols: Seq[Column]): Column = {
    val enc = cols.map { c =>
      when(c.isNull, lit("\\N")).otherwise(
        replace(replace(c.cast("string"), lit("\\"), lit("\\\\")),
          lit("|"), lit("\\|")))
    }
    concat(enc.flatMap(e => Seq(lit("|"), e)).tail: _*)
  }

  /** The same injective field encoding as DuckDB SQL (single-quoted SQL
    * strings are escape-free, so `\` is one backslash).
    */
  private def encFieldSql(f: String): String =
    s"CASE WHEN $f IS NULL THEN '\\N' " +
      s"ELSE replace(replace(CAST($f AS VARCHAR), '\\', '\\\\'), '|', '\\|') END"

  /** The lower 64 bits of md5(s) as an unsigned DECIMAL(38,0) — the SAME
    * value DuckDB's `md5_number_lower` returns (little-endian over md5
    * bytes 8..15), so a Spark fingerprint and a DuckDB fingerprint of
    * identical content are equal, making the check portable across
    * engines/replicas. Pure codegen'd string/arithmetic expressions —
    * no UDF in the per-row path.
    */
  private[graft] def rowFingerprint64(s: Column): Column = {
    val hex = md5(s)
    (0 to 7).map { i =>
      // md5 hex chars 17..32 are bytes 8..15; byte 8+i at char 17+2i
      conv(substring(hex, 17 + 2 * i, 2), 16, 10).cast("decimal(38,0)") *
        lit(BigDecimal(BigInt(1) << (8 * i)))
    }.reduce(_ + _).cast("decimal(38,0)")
  }

  /** Per-order fulfillment state over the lineitem slice matching
    * `pred`: exact DECIMAL quantity/value sums keyed by l_orderkey. The
    * predicate reaches the parquet scan; the aggregate partial-combines
    * map-side before its one exchange on the key.
    */
  private[graft] def orderState(s: SparkSession, d: String,
                                pred: Column): DataFrame =
    Tables.lineitem(s, d)
      .filter(pred)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("ship_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("ship_value"))

  /** Keyed CDC diff of two snapshots sharing a grain: full-outer on
    * `key`, rows classified insert/delete/update by presence and exact
    * measure equality; the unchanged majority is dropped so only the
    * delta survives. Old/new measure values are carried side by side
    * (null where the row is absent on that side).
    */
  private[graft] def snapshotDiff(a: DataFrame, b: DataFrame, key: String,
                                  measures: Seq[String]): DataFrame = {
    val joined = a.as("a").join(b.as("b"),
      col(s"a.$key") === col(s"b.$key"), "full_outer")
    // null-safe: `=!=` yields NULL (not true) when one side is NULL, so
    // a null-to-value transition would silently classify as unchanged
    val changed = measures.map(m => !(col(s"a.$m") <=> col(s"b.$m")))
      .reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col(s"a.$key").isNull, "insert")
          .when(col(s"b.$key").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change_type").isNotNull)
      .select(Seq(coalesce(col(s"a.$key"), col(s"b.$key")).as(key),
        col("change_type")) ++
        measures.flatMap(m => Seq(col(s"a.$m").as(s"old_$m"),
          col(s"b.$m").as(s"new_$m"))): _*)
  }

  /** Run-length encode (o_custkey | odate, o_orderkey, priority) rows
    * into SCD2 intervals. All four steps — lag, running change count,
    * (custkey, version) run aggregate, interval-closing lead — hash-
    * partition on custkey alone, so Catalyst plans ONE exchange for the
    * chain (pinned in LakehouseSpec).
    */
  private[graft] def scd2Runs(ordered: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    val runs = ordered
      .withColumn("prev_p", lag(col("priority"), 1).over(w))
      .withColumn("chg",
        when(col("prev_p").isNull || col("prev_p") =!= col("priority"), 1)
          .otherwise(0))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("int"))
      .groupBy(col("o_custkey").as("custkey"), col("version"))
      // priority is constant within a run by construction (any change
      // starts a new version), so max() is just the run's value
      .agg(max(col("priority")).as("priority"),
        min(col("odate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val byVersion = Window.partitionBy("custkey").orderBy("version")
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to").isNull)
      .select("custkey", "version", "priority", "valid_from", "valid_to",
        "n_orders", "is_current")
  }

  /** Monthly gold partial over the orders slice matching `pred`:
    * (region, year, month) | exact DECIMAL revenue + order count. The
    * predicate reaches the parquet scan (pushed filter on o_orderdate),
    * and the region enrichment joins the DIMS onto the filtered slice
    * directly (customer on custkey, nation/region broadcast) — NOT
    * through `orderRegion`, whose internal unfiltered orders scan would
    * make the "incremental" batch pay a full fact scan anyway.
    */
  private[graft] def goldMonthly(s: SparkSession, d: String,
                                 pred: Column): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(pred)
      .select(col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"))
    val dim = StarSchema.custRegion(s, d)
    o.join(dim, o("o_custkey") === dim("c_custkey"))
      .groupBy("region_name", "year", "month")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Additive merge of two partial-aggregate frames sharing a grain:
    * full-outer on `keys`, measure columns coalesce-added. Types come
    * from the stored side, and the result is cast BACK to them so the
    * stored schema never drifts across merges (decimal addition widens
    * precision by one per merge otherwise); ANSI mode turns a true
    * overflow into a loud error, not a silent wrap. Exact for DECIMAL
    * and integral measures — the algebraic-aggregate property that
    * makes incremental view maintenance equal the full recompute.
    */
  private[graft] def mergeAdditive(stored: DataFrame, batch: DataFrame,
                                   keys: Seq[String],
                                   measures: Seq[String]): DataFrame = {
    val types = measures.map(m => m -> stored.schema(m).dataType).toMap
    stored.as("a").join(batch.as("b"), keys, "full_outer")
      .select(keys.map(col) ++ measures.map { m =>
        val zero = lit(0).cast(types(m))
        (coalesce(col(s"a.$m"), zero) + coalesce(col(s"b.$m"), zero))
          .cast(types(m)).as(m)
      }: _*)
  }

  /** q87's merge: additive on the monthly grain, then ONE presentation
    * cast to double.
    */
  private[graft] def mergeGold(stored: DataFrame, batch: DataFrame): DataFrame =
    mergeAdditive(stored, batch, Seq("region_name", "year", "month"),
      Seq("revenue", "n_orders"))
      .withColumn("revenue", col("revenue").cast("double"))

  /** One-pass full recompute of the q87 gold — the differential twin
    * LakehouseSpec compares the incremental merge against.
    */
  private[graft] def goldFull(s: SparkSession, d: String): DataFrame =
    goldMonthly(s, d, lit(true))
      .select(col("region_name"), col("year"), col("month"),
        col("revenue").cast("double").as("revenue"), col("n_orders"))

  /** The full SCD2 rebuild in SQL — the oracle for BOTH q80 (direct
    * build) and q99 (incremental splice): the two must agree row for
    * row, which is the whole correctness claim of the incremental path.
    */
  private val Scd2Sql =
    """WITH ordered AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS odate, o_orderkey,
        |         o_orderpriority AS priority
        |  FROM orders
        |), flagged AS (
        |  SELECT *, CASE WHEN LAG(priority) OVER w IS NULL
        |                   OR LAG(priority) OVER w <> priority
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM ordered
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY odate, o_orderkey)
        |), versioned AS (
        |  SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
        |              ORDER BY odate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS INTEGER) AS version
        |  FROM flagged
        |), runs AS (
        |  SELECT o_custkey AS custkey, version, MAX(priority) AS priority,
        |         MIN(odate) AS valid_from, COUNT(*) AS n_orders
        |  FROM versioned
        |  GROUP BY o_custkey, version
        |)
        |SELECT custkey, version, priority, valid_from,
        |       LEAD(valid_from) OVER w AS valid_to, n_orders,
        |       LEAD(valid_from) OVER w IS NULL AS is_current
        |FROM runs
        |WINDOW w AS (PARTITION BY custkey ORDER BY version)
        |ORDER BY custkey, version""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q80_scd2_history" -> Scd2Sql,
    "q99_scd2_incremental" -> Scd2Sql,

    // the oracle probes the SAME interval semantics against the full
    // q80 history definition
    "q109_dim_snapshot" ->
      s"""SELECT s.snap, h.priority, COUNT(*) AS n_customers
         |FROM ($Scd2Sql) h
         |JOIN (SELECT UNNEST([DATE '1996-01-01', DATE '1998-01-01',
         |                     DATE '2000-01-01']) AS snap) s
         |  ON s.snap >= h.valid_from
         | AND (h.valid_to IS NULL OR s.snap < h.valid_to)
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    "q102_snapshot_diff" ->
      """WITH a AS (
        |  SELECT l_orderkey AS okey,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ship_qty,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS ship_value
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-06-30 23:59:59'
        |  GROUP BY l_orderkey
        |), b AS (
        |  SELECT l_orderkey AS okey,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS ship_qty,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS ship_value
        |  FROM lineitem
        |  WHERE l_returnflag <> 'R'
        |  GROUP BY l_orderkey
        |)
        |SELECT COALESCE(a.okey, b.okey) AS okey,
        |       CASE WHEN a.okey IS NULL THEN 'insert'
        |            WHEN b.okey IS NULL THEN 'delete'
        |            ELSE 'update' END AS change_type,
        |       CAST(a.ship_qty AS DOUBLE) AS old_ship_qty,
        |       CAST(b.ship_qty AS DOUBLE) AS new_ship_qty,
        |       CAST(a.ship_value AS DOUBLE) AS old_ship_value,
        |       CAST(b.ship_value AS DOUBLE) AS new_ship_value
        |FROM a FULL OUTER JOIN b ON a.okey = b.okey
        |WHERE a.okey IS NULL OR b.okey IS NULL
        |   OR a.ship_qty IS DISTINCT FROM b.ship_qty
        |   OR a.ship_value IS DISTINCT FROM b.ship_value
        |ORDER BY change_type, okey""".stripMargin,

    // the oracle computes the SAME 64-bit row hash via md5_number_lower,
    // so the fingerprint comparison itself crosses engines — exactly the
    // replication-verification use the operator exists for
    "q103_table_fingerprint" ->
      s"""SELECT source, COUNT(*) AS n_rows,
        |       CAST(CAST(SUM(CAST(md5_number_lower(
        |              ${encFieldSql("doc_id")}
        |              || '|' || ${encFieldSql("lang")}
        |              || '|' || ${encFieldSql("source")}
        |              || '|' || ${encFieldSql("n_chars")}
        |              || '|' || ${encFieldSql("text")}) AS HUGEINT))
        |            % CAST('18446744073709551616' AS HUGEINT)
        |            AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // the oracle is the FULL recompute — the merge must equal it exactly
    "q87_incremental_gold" ->
      """SELECT r.r_name AS region_name,
        |       CAST(year(o.o_orderdate) AS INTEGER) AS year,
        |       CAST(month(o.o_orderdate) AS INTEGER) AS month,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_orders
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY region_name, year, month
        |ORDER BY region_name, year, month""".stripMargin
  )
}
