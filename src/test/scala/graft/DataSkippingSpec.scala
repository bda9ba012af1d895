package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.DataSkipping

/** Z-order + manifest skipping: interleave math vs an independent JVM
  * Morton encoder, the loud domain guard, bounding-box tightness of the
  * z layout vs a single-column sort, and actual file pruning with exact
  * result equality.
  */
class DataSkippingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Independent reference: bit-at-a-time Morton interleave. */
  private def mortonRef(x: Int, y: Int): Long =
    (0 until 16).map { i =>
      (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))
    }.sum

  test("zorder16 matches the bit-at-a-time reference, including edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = Seq((0, 0), (65535, 65535), (65535, 0), (0, 65535),
      (1, 2), (43690, 21845)) ++
      Seq.fill(200)((rnd.nextInt(1 << 16), rnd.nextInt(1 << 16)))
    val got = cases.toDF("x", "y")
      .select(DataSkipping.zorder16(col("x"), col("y")).as("z"))
      .as[Long].collect()
    assert(got.toSeq == cases.map { case (x, y) => mortonRef(x, y) })
  }

  test("zorder16 raises on out-of-domain input instead of folding") {
    import spark.implicits._
    for (bad <- Seq(-1, 1 << 16)) {
      val e = intercept[Exception] {
        Seq((bad, 3)).toDF("x", "y")
          .select(DataSkipping.zorder16(col("x"), col("y"))).collect()
      }
      assert(e.getMessage.contains("zorder16 input outside"),
        s"expected loud guard for $bad, got: ${e.getMessage}")
    }
  }

  test("z buckets bound BOTH dimensions; an x sort leaves y unbounded") {
    // deterministic by bit structure, no file I/O: the top 3 bits of a
    // 10-bit-per-side z value are (y9, x9, y8), so each z-eighth spans
    // at most 512 in x and 256 in y; an x-eighth spans 128 in x but all
    // of y. This is the whole case for z-order: skipping power in both
    // dimensions instead of all of it in one.
    val grid = Tables.lineitem(spark, sf)
      .select(pmod(col("l_orderkey") * 37, lit(1024)).as("gx"),
        pmod(col("l_partkey") * 41, lit(1024)).as("gy"))
      .withColumn("z", DataSkipping.zorder16(col("gx"), col("gy")))
    val zBoxes = grid.groupBy(shiftright(col("z"), 17).as("b"))
      .agg((max("gx") - min("gx")).as("xspan"), (max("gy") - min("gy")).as("yspan"))
      .collect()
    assert(zBoxes.length == 8)
    zBoxes.foreach { r =>
      assert(r.getAs[Long]("xspan") <= 512 && r.getAs[Long]("yspan") <= 256,
        s"z bucket ${r.get(0)} box too wide: $r")
    }
    val xBoxes = grid.groupBy(shiftright(col("gx"), 7).as("b"))
      .agg((max("gx") - min("gx")).as("xspan"), (max("gy") - min("gy")).as("yspan"))
      .collect()
    assert(xBoxes.length == 8)
    xBoxes.foreach { r =>
      assert(r.getAs[Long]("xspan") <= 128, s"x bucket box: $r")
      assert(r.getAs[Long]("yspan") >= 900,
        s"x-sorted bucket should span ~all of y, got: $r")
    }
  }

  test("manifest skipping opens a strict file subset and loses no rows") {
    val (data, man) = DataSkipping.zorderedLineitem(spark, sf)
    val manifest = spark.read.parquet(man)
    val totalFiles = manifest.count()
    assert(totalFiles == 8, s"expected the 8 z-range files, got $totalFiles")
    // manifest row counts must account for every data row
    val manifestRows = manifest.agg(sum("n_rows")).head().getLong(0)
    val dataRows = spark.read.parquet(data).count()
    assert(manifestRows == dataRows)
    // the z-curve-prefix quadrant: only the leading z-range file(s) can
    // intersect; at least half the files must be skipped
    val skipped = DataSkipping.skippingRead(spark, data, manifest,
      Seq(("gx", 0L, 255L), ("gy", 0L, 255L)))
    val filesRead = skipped.select(col("_metadata.file_path")).distinct().count()
    assert(filesRead >= 1 && filesRead <= 4,
      s"quadrant slice should read a strict file subset, read $filesRead of $totalFiles")
    // conservative skip: exact filter after the skip equals a full scan
    val viaSkip = skipped.filter(col("gx") <= 255 && col("gy") <= 255)
      .agg(count(lit(1)), sum("l_quantity")).head()
    val viaFull = spark.read.parquet(data)
      .filter(col("gx") <= 255 && col("gy") <= 255)
      .agg(count(lit(1)), sum("l_quantity")).head()
    assert(viaSkip == viaFull)
    assert(viaSkip.getLong(0) > 0, "degenerate slice: no rows matched")
  }

  test("schema evolution: old files lack the column, merged read nulls it") {
    val root = DataSkipping.evolvedEventsLayout(spark, sf)
    // the epochs genuinely differ on disk
    assert(!spark.read.parquet(s"$root/batch=1").columns.contains("value"))
    assert(spark.read.parquet(s"$root/batch=2").columns.contains("value"))
    val merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert(merged.columns.contains("value"))
    // pre-evolution rows MUST be null (their files lack the column);
    // post-cutoff rows carry whatever the source had — don't assume the
    // datagen never emits a null value there
    val cutoff = lit("2024-01-16").cast("date")
    assert(merged.filter(to_date(col("ts")) < cutoff &&
      col("value").isNotNull).count() == 0)
    assert(merged.filter(to_date(col("ts")) >= cutoff &&
      col("value").isNotNull).count() > 0)
    // crude as-of: batch <= 1 is the table before the evolution
    val asOf = merged.filter(col("batch") === 1)
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")) < cutoff).count()
    assert(asOf.count() == expected && expected > 0)
  }

  test("an empty manifest intersection yields an empty, well-typed frame") {
    val (data, man) = DataSkipping.zorderedLineitem(spark, sf)
    val manifest = spark.read.parquet(man)
    val none = DataSkipping.skippingRead(spark, data, manifest,
      Seq(("gx", 5000L, 6000L)))
    assert(none.count() == 0)
    assert(none.columns.contains("l_returnflag"))
  }
}
