package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.datagen.EnergyGen
import graft.pipeline.{Analysis, EnergyStar, Medallion, RunMedallion, StarOps}

/** Reference-parity invariants (FIXTURES.md §A) over the deterministic
  * generated bronze data, on a reduced 6-month window for test speed.
  */
class MedallionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private val start = "2023-01-01"
  private val end = "2023-06-30"
  private val nDays = 181
  private lazy val energyBronze = EnergyGen.energyBronze(spark, start, end).cache()
  private lazy val emissionsBronze = EnergyGen.emissionsBronze(spark, start, end).cache()
  private lazy val energySilver = Medallion.cleanEnergy(energyBronze).cache()
  private lazy val emissionsSilver = Medallion.cleanEmissions(emissionsBronze).cache()

  /** The gold marts as the pipeline reads them: year-partitioned parquet,
    * so a lazy star would plan file scans. Reading them infers their
    * schemas, which starts jobs of its own.
    */
  private lazy val parquetGold: Seq[DataFrame] = {
    val root = ColumnBridge.tempDir("graft-gold")
    def gold(df: DataFrame, name: String): DataFrame = {
      df.write.partitionBy("year").parquet(s"$root/$name")
      spark.read.parquet(s"$root/$name")
    }
    Seq(gold(Medallion.energyMonthly(energySilver), "energy_monthly"),
      gold(Medallion.emissionsMonthly(emissionsSilver), "emissions_monthly"),
      gold(Medallion.carbonIntensity(energySilver, emissionsSilver), "carbon_intensity"))
  }

  /** The star built from [[parquetGold]], and the jobs the build started. */
  private lazy val (parquetStar: EnergyStar, parquetStarJobs: Int) = {
    val Seq(energy, emissions, ci) = parquetGold
    SparkTestSession.jobsDuring(EnergyStar.build(energy, emissions, ci))
  }

  private def analysisQueries(star: EnergyStar): Seq[(String, DataFrame)] = Seq(
    "q1" -> Analysis.q1TableCounts(star),
    "q2" -> Analysis.q2MonthlyIntensity(star),
    "q3" -> Analysis.q3TopIntensityMonths(star),
    "q4" -> Analysis.q4AvgConsumptionPerSource(star),
    "q5" -> Analysis.q5EmissionsVsEnergy(star),
    "q6" -> Analysis.q6NullIntensityCount(star),
    "q7" -> Analysis.q7IntensityRanking2024(star))

  private def starFrames(star: EnergyStar): Seq[DataFrame] = Seq(star.dimRegion,
    star.dimEnergySource, star.dimSector, star.dimTime, star.factEnergyMonthly,
    star.factEmissionsMonthly, star.factCarbonIntensity)

  /** A new Derby database in a temp dir deleted at JVM exit. */
  private def freshDerbyUrl(name: String): String =
    graft.sources.JdbcStage.derbyUrl(s"${ColumnBridge.tempDir("graft-derby")}/$name")

  /** The final adaptive plan of `df` after collecting it. */
  private def executed(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("bronze energy has expected shape and dirt profile") {
    val base = nDays * 4 * 4
    val n = energyBronze.count()
    assert(n > base && n < base * 1.03, s"expected ~1% dupes over $base, got $n")
    val na = energyBronze.filter(col("consumption_mwh") === "N/A").count()
    val nulls = energyBronze.filter(col("consumption_mwh").isNull).count()
    assert(na > 0 && na < base * 0.03)
    assert(nulls > 0 && nulls < base * 0.05)
    assert(energyBronze.columns.toSeq ==
      Seq("date", "region", "energy_source", "consumption_mwh", "temperature_c"))
  }

  test("bronze generation is deterministic (hash PRNG, not rand)") {
    val a = EnergyGen.energyBronze(spark, start, end)
    val b = EnergyGen.energyBronze(spark, start, end).repartition(7)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("silver: dedup removed injected duplicates; types coerced") {
    assert(energySilver.count() == energySilver.dropDuplicates().count())
    val sch = energySilver.schema
    assert(sch("date").dataType.typeName == "date")
    assert(sch("consumption_mwh").dataType.typeName == "double")
  }

  test("silver: no nulls (range filter drops them), ranges hold") {
    Seq("date", "region", "energy_source", "consumption_mwh", "temperature_c")
      .foreach { c =>
        assert(energySilver.filter(col(c).isNull).isEmpty, s"nulls in $c")
      }
    assert(energySilver.filter(!col("temperature_c").between(-40, 60)).isEmpty)
    assert(energySilver.filter(!col("consumption_mwh").between(0, 2000000)).isEmpty)
    assert(emissionsSilver.filter(!col("co2_tonnes").between(0, 5000000)).isEmpty)
  }

  test("gold marts: grain = dims x months; no null measures except co2_per_mwh") {
    val months = 6
    val em = Medallion.energyMonthly(energySilver)
    assert(em.count() == 4 * 4 * months)
    val mm = Medallion.emissionsMonthly(emissionsSilver)
    assert(mm.count() == 4 * 3 * months)
    val ci = Medallion.carbonIntensity(energySilver, emissionsSilver)
    assert(ci.count() == 4 * months)
    assert(ci.filter(col("total_energy_mwh").isNull ||
      col("total_co2_tonnes").isNull).isEmpty)
    // co2_per_mwh null iff zero energy
    assert(ci.filter(col("co2_per_mwh").isNull && col("total_energy_mwh") =!= 0).isEmpty)
  }

  test("median imputation: exact interpolating median fills nulls") {
    import spark.implicits._
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(10.0), None)
      .toDF("x")
    val imputed = Medallion.imputeMedian("x")(df)
    // median of (1,2,3,10) = 2.5 (interpolated, pandas-compatible)
    assert(imputed.filter(col("x") === 2.5).count() == 1)
    assert(imputed.filter(col("x").isNull).isEmpty)
  }

  test("star schema: dims deterministic, facts keyed, analysis queries run") {
    val star = EnergyStar.build(
      Medallion.energyMonthly(energySilver),
      Medallion.emissionsMonthly(emissionsSilver),
      Medallion.carbonIntensity(energySilver, emissionsSilver))
    // sorted natural keys -> East=1, North=2, South=3, West=4
    val regions = star.dimRegion.orderBy("region_id")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(regions.toSeq == Seq("East" -> 1, "North" -> 2, "South" -> 3, "West" -> 4))
    assert(star.factCarbonIntensity.count() == 4 * 6)
    StarOps.assertNoNulls(star.factCarbonIntensity,
      Seq("region_id", "time_id", "total_energy_mwh"), "test")
    assert(Analysis.q1TableCounts(star).count() == 7)
    val q3 = Analysis.q3TopIntensityMonths(star)
    assert(q3.count() == 4 * 5) // top 5 per region
    assert(q3.filter(col("rn") > 5).isEmpty)
    assert(Analysis.q4AvgConsumptionPerSource(star).count() == 4)
    assert(Analysis.q6NullIntensityCount(star).collect()(0).getLong(0) == 0L)
  }

  test("upsertDim: idempotent, ids continue after max") {
    import spark.implicits._
    val existing = Seq(("East", 1), ("North", 2)).toDF("region_name", "region_id")
    val incoming = Seq("North", "West", "South").toDF("region_name")
    val once = StarOps.upsertDim(existing, incoming, "region_id", "region_name")
    val got = once.orderBy("region_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq("East" -> 1, "North" -> 2, "South" -> 3, "West" -> 4))
    val twice = StarOps.upsertDim(once, incoming, "region_id", "region_name")
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("upsertFact: updates override, inserts append, idempotent") {
    import spark.implicits._
    val existing = Seq((1, 1, 10.0), (1, 2, 20.0)).toDF("rid", "tid", "v")
    val updates = Seq((1, 2, 99.0), (2, 1, 5.0)).toDF("rid", "tid", "v")
    val once = StarOps.upsertFact(existing, updates, Seq("rid", "tid"))
    val got = once.orderBy("rid", "tid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == Seq((1, 1, 10.0), (1, 2, 99.0), (2, 1, 5.0)))
    val twice = StarOps.upsertFact(once, updates, Seq("rid", "tid"))
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("S5/S6: JDBC staging round-trip through embedded Derby") {
    import graft.sources.JdbcStage
    val url = freshDerbyUrl("db")
    val star = EnergyStar.build(
      Medallion.energyMonthly(energySilver),
      Medallion.emissionsMonthly(emissionsSilver),
      Medallion.carbonIntensity(energySilver, emissionsSilver))
    // S5: full-replace staging write (to_sql if_exists="replace" analog);
    // written twice to pin replace-not-append semantics
    JdbcStage.writeStaging(star.dimRegion, url, "stg_dim_region",
      createTableColumnTypes = Some("region_name VARCHAR(64)"))
    JdbcStage.writeStaging(star.dimTime, url, "stg_dim_time")
    JdbcStage.writeStaging(star.dimRegion, url, "stg_dim_region",
      createTableColumnTypes = Some("region_name VARCHAR(64)"))
    // S6: read the dims back and compare exactly
    val back = JdbcStage.readTable(spark, url, "stg_dim_region")
    val got = back.orderBy("region_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq("East" -> 1, "North" -> 2, "South" -> 3, "West" -> 4))
    assert(JdbcStage.readTable(spark, url, "stg_dim_time").count() == 6)
    // S6 with pushdown: the predicate runs INSIDE Derby (column names
    // quoted: Spark's writer creates them case-sensitive lowercase,
    // Derby uppercases unquoted identifiers)
    val west = JdbcStage.readQuery(spark, url,
      """SELECT "region_id" FROM stg_dim_region WHERE "region_name" = 'West'""")
    assert(west.collect().map(_.getInt(0)).toSeq == Seq(4))
    // read-back dims re-key facts via broadcast join — the engine-side
    // collapse of the reference's dict map (load_to_postgres.py:152-161)
    val keyed = star.factCarbonIntensity.join(broadcast(back), "region_id")
    assert(keyed.count() == star.factCarbonIntensity.count())
  }

  test("M5: transactional warehouse load through Derby (idempotent, updating, atomic)") {
    import graft.sources.{JdbcStage, JdbcWarehouse}
    val url = freshDerbyUrl("warehouse")
    val star = EnergyStar.build(
      Medallion.energyMonthly(energySilver),
      Medallion.emissionsMonthly(emissionsSilver),
      Medallion.carbonIntensity(energySilver, emissionsSilver))
    JdbcWarehouse.loadStar(url, star)
    val once = JdbcStage.readTable(spark, url, "fact_carbon_intensity")
      .collect().toSet
    assert(once.size == 4 * 6)
    assert(JdbcStage.readTable(spark, url, "dim_region").count() == 4)
    // idempotent reload (the reference's stated design goal,
    // load_to_postgres.py:13)
    JdbcWarehouse.loadStar(url, star)
    assert(JdbcStage.readTable(spark, url, "fact_carbon_intensity")
      .collect().toSet == once)
    // MATCHED UPDATE: a changed measure overwrites in place, no dup rows
    val bumped = star.copy(factCarbonIntensity = star.factCarbonIntensity
      .withColumn("total_energy_mwh", col("total_energy_mwh") * 2))
    JdbcWarehouse.loadStar(url, bumped)
    val after = JdbcStage.readTable(spark, url, "fact_carbon_intensity")
    assert(after.count() == 4 * 6)
    val sumOnce = once.toSeq.map(_.getDouble(2)).sum
    val sumAfter = after.collect().map(_.getDouble(2)).sum
    assert(math.abs(sumAfter - 2 * sumOnce) < 1e-6 * sumOnce)
    // M5 atomicity: any failure inside the transaction rolls back ALL of it
    intercept[RuntimeException] {
      JdbcWarehouse.inTransaction(url) { conn =>
        conn.createStatement().executeUpdate("DELETE FROM dim_region")
        throw new RuntimeException("mid-load failure")
      }
    }
    assert(JdbcStage.readTable(spark, url, "dim_region").count() == 4)
  }

  test("M1 under source evolution: stored dim ids never renumber; facts land under stored ids") {
    // the id-lifecycle trap: per-load surrogate ids are row_number over
    // SORTED values, so a new region sorting FIRST shifts the whole
    // staged numbering. The warehouse must (a) keep every stored dim id
    // (insert-if-absent, reference load_to_postgres.py:29-35), (b) give
    // the new value an id past the stored max, and (c) re-key incoming
    // facts from staged ids to STORED ids — or history silently
    // re-points.
    import graft.sources.{JdbcStage, JdbcWarehouse}
    // fresh warehouse: this test's whole point is the two-load id
    // lifecycle, so a database where the evolved dim was already
    // inserted would shift the expectations
    val url = freshDerbyUrl("warehouse_evolve")
    val eM = Medallion.energyMonthly(energySilver)
    val sM = Medallion.emissionsMonthly(emissionsSilver)
    val ci = Medallion.carbonIntensity(energySilver, emissionsSilver)
    JdbcWarehouse.loadStar(url, EnergyStar.build(eM, sM, ci))
    val before = JdbcStage.readTable(spark, url, "dim_region").collect()
      .map(r => r.getAs[String]("region_name") -> r.getAs[Int]("region_id")).toMap

    // evolved source: one region's mart rows cloned under a name that
    // sorts before every existing one
    val donor = eM.select("region").orderBy("region").limit(1)
      .collect()(0).getString(0)
    val evolved = eM.unionByName(
      eM.filter(col("region") === donor).withColumn("region", lit("AAA_new")))
    JdbcWarehouse.loadStar(url, EnergyStar.build(evolved, sM, ci))

    val after = JdbcStage.readTable(spark, url, "dim_region").collect()
      .map(r => r.getAs[String]("region_name") -> r.getAs[Int]("region_id")).toMap
    before.foreach { case (name, id) =>
      assert(after(name) == id, s"stored id for $name renumbered $id -> ${after(name)}")
    }
    assert(after("AAA_new") == before.values.max + 1,
      "new dim id must continue after the stored max")
    // facts for the new region landed under the STORED id, not the
    // staged one (staged numbering had AAA_new first = id 1)
    val factRegions = JdbcStage.readTable(spark, url, "fact_energy_monthly")
      .select("region_id").distinct().collect().map(_.getInt(0)).toSet
    assert(factRegions.contains(after("AAA_new")),
      "evolved facts must carry the stored id for the new region")
    assert(factRegions.subsetOf(after.values.toSet),
      "every fact region id must resolve to a stored dim row")
  }

  test("warehouse tables carry the reference PK/UNIQUE constraints and reject collisions") {
    // CREATE TABLE AS ... WITH NO DATA copies no constraints; loadStar
    // must add them itself (SQL/01_create_schema.sql parity) so a
    // concurrent loader or dirty staging can't silently insert
    // colliding ids / duplicate natural keys that fan the fact rekey out
    import graft.sources.JdbcWarehouse
    val url = freshDerbyUrl("warehouse_constraints")
    JdbcWarehouse.loadStar(url, EnergyStar.build(
      Medallion.energyMonthly(energySilver),
      Medallion.emissionsMonthly(emissionsSilver),
      Medallion.carbonIntensity(energySilver, emissionsSilver)))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT \"region_name\" FROM dim_region FETCH FIRST 1 ROWS ONLY")
      rs.next(); val existing = rs.getString(1); rs.close()
      // duplicate NATURAL KEY under a fresh id: UNIQUE must reject (23505)
      val dupNk = intercept[java.sql.SQLException](
        conn.createStatement().executeUpdate(
          s"""INSERT INTO dim_region ("region_id", "region_name") VALUES (999, '$existing')"""))
      assert(dupNk.getSQLState == "23505", s"got ${dupNk.getSQLState}")
      // duplicate SURROGATE ID under a fresh name: PK must reject
      val dupId = intercept[java.sql.SQLException](
        conn.createStatement().executeUpdate(
          """INSERT INTO dim_region ("region_id", "region_name") VALUES (1, 'ZZZ_brand_new')"""))
      assert(dupId.getSQLState == "23505", s"got ${dupId.getSQLState}")
      // composite fact PK too
      val factDup = intercept[java.sql.SQLException](
        conn.createStatement().executeUpdate(
          """INSERT INTO fact_carbon_intensity SELECT * FROM fact_carbon_intensity FETCH FIRST 1 ROWS ONLY"""))
      assert(factDup.getSQLState == "23505", s"got ${factDup.getSQLState}")
    } finally conn.close()
  }

  test("star.build starts 15 jobs and leaves every frame one partition") {
    // 4 dim checkpoints + 8 dim broadcasts + 3 fact checkpoints: the
    // single-partition gold reads plan no exchange under the dims
    assert(parquetStarJobs == 15, s"expected 15 star.build jobs, got $parquetStarJobs")
    starFrames(parquetStar).foreach(f =>
      assert(f.rdd.getNumPartitions == 1, s"${f.columns.mkString(",")}: ${f.rdd.getNumPartitions} partitions"))
  }

  test("star frames are materialized: q1-q7 run without a file scan") {
    val star = parquetStar
    analysisQueries(star).foreach { case (n, df) =>
      val plan = executed(df)
      val scans = collect(plan) { case f: FileSourceScanExec => f }
      assert(scans.isEmpty, s"$n re-reads the gold parquet:\n$plan")
    }
  }

  test("star frames are single-partition: q1-q7 shuffle nothing and start 15 jobs") {
    val jobs = analysisQueries(parquetStar).map { case (n, df) =>
      val (plan, jobs) = SparkTestSession.jobsDuring(executed(df))
      val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"$n shuffles a single-partition star frame:\n$plan")
      jobs
    }
    // one result job per query plus one per dim broadcast (q2/q3/q5/q7
    // join two dims, q4 one); the fixture holds no 2024 rows, so q7's
    // filtered dim_time broadcast is empty and its join needs no result job
    assert(jobs == Seq(1, 3, 3, 2, 3, 1, 2), s"jobs per query q1-q7: $jobs")
  }

  test("loadStar starts one Spark job per staging write") {
    import graft.sources.JdbcWarehouse
    val url = freshDerbyUrl("warehouse_jobs")
    val (_, jobs) = SparkTestSession.jobsDuring(JdbcWarehouse.loadStar(url, parquetStar))
    assert(jobs == 7, s"expected 7 staging-write jobs, got $jobs")
  }

  test("a failed staging write surfaces after the other writes end, and no warehouse table changes") {
    import graft.sources.{JdbcStage, JdbcWarehouse}
    val url = freshDerbyUrl("warehouse_staging_failure")
    JdbcWarehouse.loadStar(url, parquetStar)
    val tables = Seq("dim_region", "dim_energy_source", "dim_sector", "dim_time",
      "fact_energy_monthly", "fact_emissions_monthly", "fact_carbon_intensity")
    def rows(t: String) = JdbcStage.readTable(spark, url, t).collect().toSet
    val before = tables.map(t => t -> rows(t)).toMap
    // a changed fact that would update the warehouse, and a dim whose
    // column name Derby rejects (longer than its 128-character limit)
    val bumped = parquetStar.factCarbonIntensity
      .withColumn("total_energy_mwh", col("total_energy_mwh") * 2)
    val broken = parquetStar.copy(factCarbonIntensity = bumped,
      dimSector = parquetStar.dimSector.withColumn("x" * 200, lit(1)))
    val e = intercept[java.sql.SQLException](JdbcWarehouse.loadStar(url, broken))
    assert(e.getSQLState == "42622", s"expected Derby's name-too-long error, got $e")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a staging write is still running after loadStar threw")
    // the other writes ran to the end: the bumped fact is fully staged
    assert(rows("stg_fact_carbon_intensity") == bumped.collect().toSet)
    tables.foreach(t => assert(rows(t) == before(t), s"$t changed"))
  }

  test("silver cleaning scans bronze once: the median branch reuses the dedup exchange") {
    val root = ColumnBridge.tempDir("graft-bronze")
    Seq[(String, DataFrame, org.apache.spark.sql.types.StructType, DataFrame => DataFrame)](
      ("energy", energyBronze, RunMedallion.EnergyBronzeSchema, Medallion.cleanEnergy),
      ("emissions", emissionsBronze, RunMedallion.EmissionsBronzeSchema, Medallion.cleanEmissions)
    ).foreach { case (n, bronze, schema, clean) =>
      bronze.write.option("header", true).csv(s"$root/$n")
      val plan = executed(clean(
        spark.read.schema(schema).option("header", true).csv(s"$root/$n")))
      val scans = collect(plan) { case f: FileSourceScanExec => f }
      val reused = collect(plan) { case r: ReusedExchangeExec => r }
      assert(scans.size == 1 && reused.nonEmpty,
        s"$n: ${scans.size} CSV scans, ${reused.size} reused exchanges:\n$plan")
    }
  }

  test("assertNoNulls fails fast on null keys") {
    import spark.implicits._
    val bad = Seq((Some(1), Some(1.0)), (None, Some(2.0))).toDF("k", "v")
    intercept[IllegalStateException] {
      StarOps.assertNoNulls(bad, Seq("k"), "test")
    }
  }
}
