package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.pipeline.{Analysis, EnergyStar, Medallion, RunMedallion, StarOps}
import graft.sources.{JdbcStage, JdbcWarehouse}

/** The benchmark's JVM side. It executes the plan `run.py` wrote (op
  * order per pass, pass count, set-up count, trace flag), times every op
  * from outside the engine through public entry points only, and writes
  * raw records as one JSON document. Metrics are derived in `run.py`.
  *
  * Usage: Harness <plan file> <result file>
  */
object Harness {

  /** `key=value` lines; `pass=` lines give one pass's op order each. */
  final case class Plan(kv: Map[String, String], passes: Seq[Seq[String]]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan has no $k"))
    def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    def int(k: String): Int = apply(k).toInt
  }

  object Plan {
    def read(path: String): Plan = {
      val lines = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
        .split("\n").map(_.trim).filter(l => l.nonEmpty && l.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      Plan(lines.filter(_._1 != "pass").toMap,
        lines.filter(_._1 == "pass").map(_._2.split(",").toSeq.filter(_.nonEmpty)).toSeq)
    }
  }

  /** One benchmark op: `construct` builds the frame (a registry query's
    * `fn(spark, dir)`), `exec` is the timed action on it.
    */
  final case class Op(name: String, layer: String,
                      construct: SparkSession => Option[DataFrame],
                      exec: (SparkSession, Option[DataFrame]) => Unit)

  /** Per-op record; the traced fields stay empty in an untraced window. */
  final case class OpRec(name: String, layer: String, pass: Int, constructS: Double,
                         execS: Double, error: Option[String],
                         traced: Seq[(String, Any)] = Nil) {
    def json: Json.Raw = Json.Raw(Json.obj(Seq("name" -> name, "layer" -> layer, "pass" -> pass,
      "construct_s" -> constructS, "exec_s" -> execS, "error" -> error) ++ traced))
  }

  /** In-memory span store, written once when the run ends. */
  final class Spans(baseNano: Long, baseEpochUs: Long) {
    private var next = 0L
    val rows = ArrayBuffer.empty[Json.Raw]
    def us(nano: Long): Long = baseEpochUs + (nano - baseNano) / 1000L
    def add(name: String, layer: String, parent: Long, op: String,
            startUs: Long, endUs: Long): Long = {
      next += 1
      rows += Json.Raw(Json.obj(Seq("id" -> next, "parent" -> parent, "name" -> name,
        "layer" -> layer, "op" -> op, "start_us" -> startUs, "end_us" -> endUs)))
      next
    }
  }

  /** Traced-window state: the listener and the span store. */
  final class Tracer(val rec: Recorder, val spans: Spans)

  private def errorOf(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  /** Adds the batch's jobs and stages as spans under `parent`, and
    * returns the layer counters of the batch.
    */
  private def recordBatch(t: Tracer, b: Recorder.Batch, parent: Long, op: String,
                          prefix: String): Seq[(String, Any)] = {
    val ends = b.jobEnds.toMap
    val stageToJob = scala.collection.mutable.Map.empty[Int, Long]
    b.jobs.foreach { j =>
      val id = t.spans.add(s"job ${j.id}", "job", parent, op, j.startMs * 1000L,
        ends.getOrElse(j.id, j.startMs) * 1000L)
      j.stageIds.foreach(s => stageToJob(s) = id)
    }
    b.stages.foreach { s =>
      t.spans.add(s"stage ${s.id}", "stage", stageToJob.getOrElse(s.id, parent), op,
        s.startMs * 1000L, s.endMs * 1000L)
    }
    val tasks = b.tasks
    Seq(
      s"${prefix}jobs" -> b.jobs.size,
      s"${prefix}stages" -> b.stages.size,
      s"${prefix}tasks" -> tasks.size,
      s"${prefix}task_run_s" -> tasks.map(_.runS).sum,
      s"${prefix}task_cpu_s" -> tasks.map(_.cpuS).sum,
      s"${prefix}task_gc_s" -> tasks.map(_.gcS).sum,
      s"${prefix}shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum,
      s"${prefix}spill_bytes" -> tasks.map(_.spillBytes).sum)
  }

  /** Catalyst phase spans and seconds from the batch's planning trackers. */
  private def recordPlans(t: Tracer, b: Recorder.Batch, parent: Long, op: String): Seq[(String, Any)] = {
    def phase(name: String, f: Recorder.PlanRec => (Long, Long)): (String, Any) = {
      val ms = b.plans.map(f).filter(_._2 > 0).map { case (s, e) =>
        t.spans.add(name, "catalyst", parent, op, s * 1000L, e * 1000L)
        e - s
      }.sum
      s"$name" + "_s" -> ms / 1000.0
    }
    Seq(phase("analysis", _.analysis), phase("optimization", _.optimization),
      phase("planning", _.planning))
  }

  /** Run one op in a closed loop step: construct, then exec. A throw is
    * a failed op whatever its elapsed time.
    */
  def runOp(spark: SparkSession, op: Op, pass: Int, index: Int,
            tracer: Option[Tracer], after: Option[DataFrame] => Unit = _ => ()): OpRec = {
    val sc = spark.sparkContext
    var constructS = 0.0
    var execS = 0.0
    val extra = ArrayBuffer.empty[(String, Any)]
    val tag = s"pb:$pass:$index"
    val t0 = System.nanoTime()
    try {
      tracer.foreach(_ => sc.setJobGroup(s"$tag:construct", op.name, interruptOnCancel = false))
      val df = op.construct(spark)
      val t1 = System.nanoTime()
      constructS = (t1 - t0) / 1e9
      val cBatch = tracer.map { t => Session.drain(spark); t.rec.take() }
      tracer.foreach(_ => sc.setJobGroup(s"$tag:exec", op.name, interruptOnCancel = false))
      val t2 = System.nanoTime()
      op.exec(spark, df)
      val t3 = System.nanoTime()
      execS = (t3 - t2) / 1e9
      tracer.foreach { t =>
        sc.clearJobGroup()
        Session.drain(spark)
        val eBatch = t.rec.take()
        val opSpan = t.spans.add(op.name, "op", 0L, tag, t.spans.us(t0), t.spans.us(t3))
        val cSpan = t.spans.add("construct", "construct", opSpan, tag, t.spans.us(t0), t.spans.us(t1))
        val eSpan = t.spans.add("exec", "exec", opSpan, tag, t.spans.us(t2), t.spans.us(t3))
        extra ++= recordBatch(t, cBatch.get, cSpan, tag, "construct_")
        extra ++= recordBatch(t, eBatch, eSpan, tag, "exec_")
        extra ++= recordPlans(t, eBatch, eSpan, tag)
        graft.streaming.StreamingMetrics.snapshot.get(op.name).foreach { r =>
          extra ++= Seq("stream_batches" -> r.batches, "stream_trigger_ms" -> r.triggerMs,
            "stream_state_commit_ms" -> r.stateCommitMs,
            "stream_state_update_ms" -> r.stateUpdateMs)
        }
      }
      after(df)
      OpRec(op.name, op.layer, pass, constructS, execS, None, extra.toSeq)
    } catch {
      case e: Throwable =>
        tracer.foreach { t => sc.clearJobGroup(); Session.drain(spark); t.rec.take() }
        val elapsed = (System.nanoTime() - t0) / 1e9
        OpRec(op.name, op.layer, pass, constructS, elapsed - constructS, Some(errorOf(e)))
    }
  }

  /** Query workloads: each op is one registry query. */
  def queryOps(plan: Plan): Map[String, Op] = {
    val sf = plan("sf")
    val all = graft.SparkEntry.queries
    (plan.passes.flatten ++ plan.list("warmup")).distinct.map { name =>
      val construct: SparkSession => Option[DataFrame] = all.get(name) match {
        case Some(fn) => s => Some(fn(s, sf))
        case None => _ => throw new NoSuchElementException(s"query $name is not registered")
      }
      name -> Op(name, plan("workload"), construct, (_, df) => graft.Bench.exec(df.get))
    }.toMap
  }

  /** The medallion cycle's state: paths, the star of the last star op,
    * and the warehouse url of the current set-up.
    */
  final class Lake(val root: String, var url: String) {
    var star: Option[EnergyStar] = None
    def p(rel: String): String = s"$root/$rel"
  }

  def medallionOps(lake: Lake): Seq[Op] = {
    def write(name: String, layer: String)(body: SparkSession => Unit): Op =
      Op(name, layer, _ => None, (s, _) => body(s))
    def csv(s: SparkSession, schema: org.apache.spark.sql.types.StructType, rel: String) =
      s.read.schema(schema).option("header", true).csv(lake.p(rel))
    def silver(df: DataFrame, rel: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(lake.p(rel))
    def gold(df: DataFrame, rel: String): Unit =
      df.write.mode(SaveMode.Overwrite).partitionBy("year").parquet(lake.p(rel))
    def star: EnergyStar = lake.star.getOrElse(sys.error("no star built"))
    Seq(
      write("silver.energy", "silver")(s => silver(
        Medallion.cleanEnergy(csv(s, RunMedallion.EnergyBronzeSchema, "bronze/energy_raw")),
        "silver/energy")),
      write("silver.emissions", "silver")(s => silver(
        Medallion.cleanEmissions(csv(s, RunMedallion.EmissionsBronzeSchema, "bronze/emissions_raw")),
        "silver/emissions")),
      write("gold.energy_monthly", "gold")(s => gold(
        Medallion.energyMonthly(s.read.parquet(lake.p("silver/energy"))), "gold/energy_monthly")),
      write("gold.emissions_monthly", "gold")(s => gold(
        Medallion.emissionsMonthly(s.read.parquet(lake.p("silver/emissions"))),
        "gold/emissions_monthly")),
      write("gold.carbon_intensity", "gold")(s => gold(
        Medallion.carbonIntensity(s.read.parquet(lake.p("silver/energy")),
          s.read.parquet(lake.p("silver/emissions"))), "gold/carbon_intensity")),
      write("star.build", "star") { s =>
        val st = EnergyStar.build(s.read.parquet(lake.p("gold/energy_monthly")),
          s.read.parquet(lake.p("gold/emissions_monthly")),
          s.read.parquet(lake.p("gold/carbon_intensity")))
        StarOps.assertNoNulls(st.factCarbonIntensity,
          Seq("region_id", "time_id", "total_energy_mwh", "total_co2_tonnes"),
          "fact_carbon_intensity load")
        EnergyStar.registerViews(s, st)
        lake.star = Some(st)
      },
      write("jdbc.load", "jdbc")(_ => JdbcWarehouse.loadStar(lake.url, star))) ++
    Seq[(String, EnergyStar => DataFrame)](
      "analysis.q1" -> Analysis.q1TableCounts,
      "analysis.q2" -> Analysis.q2MonthlyIntensity,
      "analysis.q3" -> Analysis.q3TopIntensityMonths,
      "analysis.q4" -> Analysis.q4AvgConsumptionPerSource,
      "analysis.q5" -> Analysis.q5EmissionsVsEnergy,
      "analysis.q6" -> Analysis.q6NullIntensityCount,
      "analysis.q7" -> Analysis.q7IntensityRanking2024
    ).map { case (n, q) => write(n, "analysis")(_ => graft.Bench.exec(q(star))) }
  }

  private val StarTables = Seq("dim_region", "dim_energy_source", "dim_sector", "dim_time",
    "fact_energy_monthly", "fact_emissions_monthly", "fact_carbon_intensity")

  private def starFrames(st: EnergyStar): Seq[DataFrame] = Seq(st.dimRegion,
    st.dimEnergySource, st.dimSector, st.dimTime, st.factEnergyMonthly,
    st.factEmissionsMonthly, st.factCarbonIntensity)

  private def derbyCounts(url: String): Seq[Long] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try StarTables.map { t =>
      val st = conn.createStatement()
      try { val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t"); rs.next(); rs.getLong(1) }
      finally st.close()
    } finally conn.close()
  }

  /** The medallion correctness gate after a cycle: gold row counts equal
    * regions × sources/sectors × months, and every warehouse table holds
    * exactly the star frame's rows. Returns (failing op, detail) pairs.
    */
  def medallionChecks(spark: SparkSession, lake: Lake, months: Long,
                      starCounts: Seq[Long]): Seq[(String, String)] = {
    import graft.datagen.EnergyGen._
    val gold = Seq(
      "gold.energy_monthly" -> Regions.size.toLong * Sources.size * months,
      "gold.emissions_monthly" -> Regions.size.toLong * Sectors.size * months,
      "gold.carbon_intensity" -> Regions.size.toLong * months)
    val goldBad = gold.flatMap { case (op, want) =>
      val got = spark.read.parquet(lake.p(op.replace('.', '/'))).count()
      if (got == want) None else Some(op -> s"$got rows, expected $want")
    }
    val wh = derbyCounts(lake.url)
    val whBad = StarTables.zip(wh).zip(starCounts).collect {
      case ((t, got), want) if got != want => "jdbc.load" -> s"$t holds $got rows, star has $want"
    }
    goldBad ++ whBad
  }

  private def dirBytes(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val out = try run(plan) catch {
      case t: Throwable =>
        t.printStackTrace()
        Json.obj(Seq("error" -> errorOf(t)))
    }
    Json.write(args(1), out)
    System.exit(0)
  }

  def run(plan: Plan): String = {
    val workload = plan("workload")
    val cores = plan.int("cores")
    val setups = plan.int("setups")
    val traced = plan("trace") == "1"
    val work = plan("work")
    val medallion = workload == "medallion_etl"
    val fields = ArrayBuffer.empty[(String, Any)]
    val setupRecs = ArrayBuffer.empty[Map[String, Any]]
    // correctness findings: (op, where, pass, detail)
    val checks = ArrayBuffer.empty[(String, String, Int, String)]
    val lake = new Lake(s"$work/lake", JdbcStage.derbyUrl(s"$work/warehouse/derby-1"))
    var starCounts = Seq.empty[Long]
    val months = if (medallion) plan.int("months").toLong else 0L

    // the first set-up writes each query's warm-up output for the
    // correctness gate right after the op (a later run of the same query
    // may replace the files its frame reads); set-up time excludes it
    val outputs = ArrayBuffer.empty[(String, String)]
    def writeOutput(n: String, df: Option[DataFrame]): Unit = df.foreach { d =>
      val path = s"$work/out/$n"
      try { d.write.mode(SaveMode.ErrorIfExists).parquet(path); outputs += n -> path }
      catch { case e: Throwable => checks += ((n, "output", -1, errorOf(e))) }
    }

    /** Creates a session, generates bronze once (untimed for set-up),
      * runs the warm-up pass; returns the session and warm-up records.
      */
    def setUp(k: Int): (SparkSession, Seq[OpRec], Map[String, Op]) = {
      val t0 = System.nanoTime()
      val spark = Session.create(cores)
      val tSession = (System.nanoTime() - t0) / 1e9
      var genS = 0.0
      if (medallion && k == 1) {
        genS = Clock.timed {
          val (start, end) = (plan("start"), plan("end"))
          graft.datagen.EnergyGen.energyBronze(spark, start, end).write.mode(SaveMode.ErrorIfExists)
            .option("header", true).csv(lake.p("bronze/energy_raw"))
          graft.datagen.EnergyGen.emissionsBronze(spark, start, end).write.mode(SaveMode.ErrorIfExists)
            .option("header", true).csv(lake.p("bronze/emissions_raw"))
        }._2
      }
      lake.url = JdbcStage.derbyUrl(s"$work/warehouse/derby-$k")
      val ops: Map[String, Op] =
        if (medallion) medallionOps(lake).map(o => o.name -> o).toMap else queryOps(plan)
      var outputS = 0.0
      val warm = plan.list("warmup").zipWithIndex.map { case (n, i) =>
        runOp(spark, ops(n), -1, i, None,
          df => if (k == 1) outputS += Clock.timed(writeOutput(n, df))._2)
      }
      val setupS = (System.nanoTime() - t0) / 1e9 - genS - outputS
      setupRecs += Map("session_s" -> tSession, "gen_s" -> genS, "setup_s" -> setupS)
      (spark, warm, ops)
    }

    val (spark, warm, ops) = setUp(1)
    fields += "warmup" -> warm.map(_.json)
    fields += "memo_warm" -> Host.blockResidency(spark).productIterator.toSeq
    if (medallion) {
      // a failed warm-up op is named by run.py; its cycle has no star to check
      if (warm.forall(_.error.isEmpty)) {
        starCounts = starFrames(lake.star.get).map(_.count())
        checks ++= medallionChecks(spark, lake, months, starCounts)
          .map { case (o, d) => (o, "warmup", -1, d) }
      }
      fields += "bronze_rows" -> Seq("bronze/energy_raw", "bronze/emissions_raw").map(p =>
        spark.read.option("header", true).csv(lake.p(p)).count()).sum
      fields += "bronze_bytes" -> dirBytes(lake.p("bronze"))
      fields += "sink_bytes" -> (dirBytes(lake.p("silver")) + dirBytes(lake.p("gold")))
      fields += "star_counts" -> starCounts
    }

    /** One timed window: every pass in order; medallion checks run after
      * each cycle with the window clock stopped.
      */
    def window(tracer: Option[Tracer], where: String): Seq[(String, Any)] = {
      val recs = ArrayBuffer.empty[OpRec]
      val tablesOpen = ArrayBuffer.empty[Json.Raw]
      val passWalls = ArrayBuffer.empty[Double]
      val gc0 = Host.gcSeconds()
      plan.passes.zipWithIndex.foreach { case (pass, p) =>
        val t0 = System.nanoTime()
        tracer.foreach { t =>
          plan.list("tables").foreach { name =>
            val g = s"pb:tables:$p:$name"
            spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
            val a = System.nanoTime()
            Tables.open(name, spark, plan("sf"))
            val b = System.nanoTime()
            spark.sparkContext.clearJobGroup()
            Session.drain(spark)
            val batch = t.rec.take()
            val sp = t.spans.add(s"Tables.$name", "tables", 0L, g, t.spans.us(a), t.spans.us(b))
            recordBatch(t, batch, sp, g, "")
            tablesOpen += Json.Raw(Json.obj(Seq("table" -> name, "s" -> (b - a) / 1e9,
              "jobs" -> batch.jobs.size)))
          }
        }
        pass.zipWithIndex.foreach { case (n, i) => recs += runOp(spark, ops(n), p, i, tracer) }
        passWalls += (System.nanoTime() - t0) / 1e9
        if (medallion) {
          val bad = medallionChecks(spark, lake, months, starCounts)
          checks ++= bad.map { case (o, d) => (o, where, p, d) }
        }
      }
      Seq("wall_s" -> passWalls.sum, "pass_walls_s" -> passWalls.toSeq, "ops" -> recs.map(_.json),
        "gc_s" -> (Host.gcSeconds() - gc0), "heap_used_mb" -> Host.heapUsedMb(),
        "tables_open" -> tablesOpen.toSeq)
    }

    fields += "load_pre" -> Host.loadAvg()
    fields += "window" -> Map(window(None, "window"): _*)
    fields += "load_post" -> Host.loadAvg()
    fields += "memo_end" -> Host.blockResidency(spark).productIterator.toSeq
    if (traced) {
      val t = new Tracer(Recorder.install(spark), new Spans(System.nanoTime(), Clock.nowUs()))
      val w = window(Some(t), "traced")
      Recorder.uninstall(spark, t.rec)
      fields += "traced" -> Map(w :+ ("spans" -> t.spans.rows.toSeq): _*)
    }

    fields += "outputs" -> Map(outputs.toSeq: _*)
    fields += "shuffle_partitions" -> Session.shufflePartitions(spark)
    spark.stop()

    (2 to setups).foreach { k =>
      val (s, w, _) = setUp(k)
      checks ++= w.flatMap(r => r.error.map(e => (r.name, s"setup$k", -1, e)))
      s.stop()
    }
    if (medallion)
      try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
      catch { case _: java.sql.SQLException => () }

    fields += "setups" -> setupRecs.toSeq
    fields += "checks" -> checks.map { case (o, w, p, d) =>
      Map("op" -> o, "where" -> w, "pass" -> p, "detail" -> d) }.toSeq
    fields += "registered" -> graft.SparkEntry.queries.keys.toSeq.sorted
    fields += "cores" -> cores
    fields += "max_heap_mb" -> Host.maxHeapMb()
    fields += "peak_rss_mb" -> Host.peakRssMb()
    fields += "error" -> None
    Json.obj(fields.toSeq)
  }
}

/** Direct `Tables.<t>` calls by table name, for the traced run's
  * table-open probe.
  */
object Tables {
  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> graft.Tables.region, "nation" -> graft.Tables.nation,
    "customer" -> graft.Tables.customer, "supplier" -> graft.Tables.supplier,
    "part" -> graft.Tables.part, "orders" -> graft.Tables.orders,
    "lineitem" -> graft.Tables.lineitem, "events" -> graft.Tables.events,
    "documents" -> graft.Tables.documents, "embeddings" -> graft.Tables.embeddings)

  def open(name: String, spark: SparkSession, dir: String): DataFrame =
    loaders.getOrElse(name, sys.error(s"no Tables loader for $name"))(spark, dir)
}
