package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.FrameMemo

/** Z-order clustering + file-stats manifest skipping — the data-skipping
  * machinery for predicates the directory layout can't serve.
  *
  * Layout.scala covers the one-dimensional cases: hive partitioning
  * (q57) and DPP (q92) prune on THE partition column; bucketing (q56)
  * pre-shuffles on THE join key. But a 100 TB flat fact queried by two
  * independent dimensions can't partition by either alone — sorting by x
  * packs files tight in x and leaves every file spanning all of y, so a
  * y-predicate reads the whole table. The fix is the lakehouse pair:
  *
  *   - '''z-order''' (Morton interleave) sorts by a key that alternates
  *     the bits of both dimensions, so consecutive z values stay inside
  *     small (x, y) tiles and every file's min/max bounding box is tight
  *     in BOTH dimensions at once;
  *   - a '''manifest''' of per-file (min, max, count) column stats — the
  *     table-format trick (Delta/Iceberg keep exactly this) — lets the
  *     reader intersect a predicate with each file's bounding box and
  *     open only the files that can match, no directory scheme needed.
  *
  * Both halves are engine-honest: the z value is pure codegen'd bit
  * arithmetic (reproduced expression-for-expression in the DuckDB oracle
  * — the math crosses engines), and the manifest is built from Spark's
  * `_metadata.file_path` hidden column, read back as a driver-side file
  * list of the survivors. At 100 TB the manifest is ~1 row per file
  * (maintained incrementally at write time); intersecting it is a
  * kilobyte-scale planning step that replaces a full scan.
  */
object DataSkipping extends graft.QueryModule {

  // ------------------------------------------------------------ z-order

  import org.apache.spark.sql.graft.ColumnBridge.{column => asCol, expression => asExpr}

  /** Morton code of (x, y): bit i of x lands at bit 2i, bit i of y at
    * bit 2i+1, with a loud [0, 2^16) domain guard. Monotone locality: a
    * contiguous z range covers a small set of (x, y) tiles, which is
    * what makes per-file min/max tight in both dimensions after a z
    * sort. A native codegen'd expression (`expressions.ZOrder16`) — see
    * its Scaladoc for why the composed-Column form is a plan-size trap.
    */
  def zorder16(x: Column, y: Column): Column =
    asCol(graft.expressions.ZOrder16(
      asExpr(x.cast("long")), asExpr(y.cast("long"))))

  /** The same spread ladder as ANSI SQL over a column expression `e`
    * (DuckDB side of the oracle). Kept structurally identical to
    * `spread16` via chained CTE steps in `zCellsSql` below.
    */
  private def spreadSqlSteps(in: String, out: String): Seq[String] = Seq(
    s"($in | ($in << 8)) & 16711935 AS ${out}1",       // 0x00FF00FF
    s"(${out}1 | (${out}1 << 4)) & 252645135 AS ${out}2", // 0x0F0F0F0F
    s"(${out}2 | (${out}2 << 2)) & 858993459 AS ${out}3", // 0x33333333
    s"(${out}3 | (${out}3 << 1)) & 1431655765 AS ${out}4" // 0x55555555
  )

  /** Grid coordinates for the lineitem demo: odd-multiplier mod-1024
    * bijections of the two independent keys. An odd multiplier is
    * invertible mod 2^10, so the mapping covers the full 1024-cell range
    * at every SF (raw l_partkey spans only 0..199 at sf0.001 — a bare
    * `% 1024` would leave the y dimension degenerate there; measured,
    * see testdata notes). Stands in for the rank/scale transform a
    * production z-writer applies to map raw domains onto the grid, and
    * is reproducible verbatim in the oracle's integer arithmetic.
    */
  private def gridXY(df: DataFrame): DataFrame = df
    .withColumn("gx", pmod(col("l_orderkey") * 37, lit(1024)))
    .withColumn("gy", pmod(col("l_partkey") * 41, lit(1024)))

  // --------------------------------------------------- manifest skipping

  /** Per-file column-stats manifest of a parquet directory: one row per
    * physical file with row count and (min, max) for `cols`. Grouping on
    * the `_metadata.file_path` hidden column keeps this a single narrow
    * scan; at scale the same rows are appended incrementally by each
    * writer task instead of recomputed.
    */
  def buildManifest(s: SparkSession, path: String,
                    cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    s.read.parquet(path).groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Read only the files whose [min, max] box can intersect the given
    * per-column closed ranges. The manifest filter is conservative
    * (stats overlap != rows match), so callers re-apply the exact
    * predicate on the surviving rows — same contract as parquet
    * row-group skipping, one level up.
    */
  def skippingRead(s: SparkSession, layoutPath: String, manifest: DataFrame,
                   ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "skippingRead needs at least one range")
    val survives = ranges.map { case (c, lo, hi) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    }.reduce(_ && _)
    // the manifest is small by construction (one row per file); the
    // collect is the planning step, not a data move. distinct: a
    // duplicate manifest row (a stats row written twice for one file)
    // would otherwise list the file twice and double every row it
    // contains in the scan
    val files = manifest.filter(survives)
      .select("file").distinct().collect().map(_.getString(0)).toSeq
    if (files.isEmpty) s.read.parquet(layoutPath).filter(lit(false))
    else s.read.parquet(files: _*)
  }

  /** Z-ordered flat lineitem layout: (gx, gy, z, measures) range-
    * partitioned into 8 files by z and sorted by z within each, plus a
    * stats manifest over (gx, gy), written under a fresh directory of
    * the session's scratch root. Returns (layout dir, manifest dir).
    */
  def zorderedLineitem(s: SparkSession, d: String): (String, String) = {
    val root = FrameMemo.layout(s, d, "zorderedLineitem") { out =>
      gridXY(Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"))
        .withColumn("z", zorder16(col("gx"), col("gy")))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions("z")
        .write.parquet(s"$out/data")
      buildManifest(s, s"$out/data", Seq("gx", "gy"))
        .coalesce(1).write.parquet(s"$out/manifest")
    }
    (s"$root/data", s"$root/manifest")
  }

  // --------------------------------------------------- schema evolution

  /** Events re-written as two load epochs with DIFFERENT file schemas —
    * the day a `value` measure was added to a live table: `batch=1`
    * files (first half of January) lack the column entirely; `batch=2`
    * files carry it. The hive-style `batch=` naming keeps the epochs
    * independently prunable (a crude as-of read: `batch <= k` is the
    * table before the change). Written under a fresh directory of the
    * session's scratch root; returns it.
    */
  def evolvedEventsLayout(s: SparkSession, d: String): String =
    FrameMemo.layout(s, d, "evolvedEvents") { root =>
      val cutoff = lit("2024-01-16").cast("date")
      val ev = Tables.events(s, d)
      ev.filter(to_date(col("ts")) < cutoff)
        .select("event_id", "user_id", "event_type", "ts")
        .write.parquet(s"$root/batch=1")
      ev.filter(to_date(col("ts")) >= cutoff)
        .select("event_id", "user_id", "event_type", "ts", "value")
        .write.parquet(s"$root/batch=2")
    }

  // ------------------------------------------------------------ queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Morton-tile aggregation: rows land in 64x64 (x, y) tiles via
    // z >> 12 — the 2-D histogram shape a spatial/grid rollup uses, and
    // the cross-engine proof of the interleave math (the oracle rebuilds
    // the identical bit ladder in SQL). Narrow per-row arithmetic + one
    // partial-aggregated shuffle on the tile id.
    "q104_zorder_cells" -> ((s, d) =>
      gridXY(Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_quantity"))
        .withColumn("tile", shiftright(zorder16(col("gx"), col("gy")), 12))
        .groupBy("tile")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("tile")),

    // Manifest-skipped 2-D slice over the z-ordered layout: the quadrant
    // gx < 256 AND gy < 256 is a z-curve prefix, so of the 8 z-range
    // files only the one(s) whose box intersects survive the manifest
    // intersection — the other ~7/8 of the table is never opened. The
    // exact predicate re-applies after the skip (stats are
    // conservative); result equals the plain filtered aggregate, which
    // is exactly what the oracle computes from the raw table.
    "q105_manifest_skip" -> ((s, d) => {
      val (data, man) = zorderedLineitem(s, d)
      val manifest = s.read.parquet(man)
      skippingRead(s, data, manifest, Seq(("gx", 0L, 255L), ("gy", 0L, 255L)))
        .filter(col("gx") <= 255 && col("gy") <= 255)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Schema evolution read: `mergeSchema` unions the per-file schemas,
    // so pre-evolution rows surface the added column as null — no
    // rewrite of old files, which at 100 TB is the only affordable
    // answer to a column addition. The aggregate separates row counts
    // from measure coverage (n vs n_with_value) exactly as a consumer
    // of an evolved table must. The oracle recomputes from the raw
    // table with the epoch rule spelled out — the merged read must be
    // indistinguishable from it.
    "q106_schema_evolution" -> ((s, d) => {
      val root = evolvedEventsLayout(s, d)
      s.read.option("mergeSchema", "true").parquet(root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          sum(coalesce(col("value").cast("decimal(18,2)"), lit(0)))
            .cast("double").as("total_value"))
        .orderBy("event_type")
    })
  )

  /** DuckDB oracle for q104: the same 4-step spread ladder, chained
    * through CTE stages so each step appears once (textual expression
    * nesting would copy the ladder 2^4 times).
    */
  private def zCellsSql: String = {
    val steps = (spreadSqlSteps("gx", "sx") zip spreadSqlSteps("gy", "sy"))
      .map { case (a, b) => s"$a, $b" }
    s"""WITH t0 AS (
       |  SELECT (l_orderkey * 37) % 1024 AS gx,
       |         (l_partkey * 41) % 1024 AS gy,
       |         l_quantity
       |  FROM lineitem
       |), t1 AS (SELECT *, ${steps(0)} FROM t0
       |), t2 AS (SELECT *, ${steps(1)} FROM t1
       |), t3 AS (SELECT *, ${steps(2)} FROM t2
       |), t4 AS (SELECT *, ${steps(3)} FROM t3)
       |SELECT (sx4 | (sy4 << 1)) >> 12 AS tile, COUNT(*) AS n,
       |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM t4
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q104_zorder_cells" -> zCellsSql,

    // the oracle never sees the layout: it filters the raw table — the
    // skip + re-filter must be invisible in the result
    "q105_manifest_skip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE (l_orderkey * 37) % 1024 <= 255
        |  AND (l_partkey * 41) % 1024 <= 255
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // the epoch rule made explicit: value exists only from the cutoff
    // on. n_with_value counts NON-NULL values inside the epoch (CASE ...
    // THEN value, not THEN 1) so both engines agree even if the datagen
    // ever emits a null value for a post-cutoff row
    // COALESCE on the sum (an all-null group sums to NULL in SQL, 0.0 in
    // the Spark coalesce form) and ts IS NOT NULL (a null-ts row lands
    // in NEITHER layout epoch, so the raw-table oracle must not count
    // it) keep the compare robust to hostile datagen, not just today's
    "q106_schema_evolution" ->
      """SELECT event_type, COUNT(*) AS n,
        |       COUNT(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |                  THEN value END) AS n_with_value,
        |       CAST(COALESCE(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |                     THEN CAST(value AS DECIMAL(18,2))
        |                     ELSE CAST(0 AS DECIMAL(18,2)) END), 0)
        |            AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts IS NOT NULL
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
  )
}
