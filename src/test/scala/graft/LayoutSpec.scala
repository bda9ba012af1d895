package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Layout
import graft.ops.FrameMemo
import graft.ops.StarSchema.sumMoney

/** Physical-layout guarantees: bucketed tables join and aggregate with
  * ZERO exchange and ZERO sort (the write-once-shuffle-never contract),
  * and partition-column predicates prune directories at planning time,
  * not rows at runtime. These are plan-shape pins — the correctness of
  * the same queries is oracle-checked (q56/q57).
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed join + agg plans with zero exchange, local-only sorts") {
    // broadcast off so the join can't dodge the question; AQE off so the
    // executed plan is static and typed-collectable
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = Layout.bucketedOrdersPerCustomer(spark, d)
      val plan = df.queryExecution.executedPlan
      val s = plan.toString
      assert(s.contains("SortMergeJoin"), s"expected a sort-merge join:\n$s")
      assert(s.contains("Bucketed: true"), s"scan must use the bucket layout:\n$s")
      assert(!s.contains("Exchange"),
        s"bucketed join must not shuffle (both sides share the hash layout):\n$s")
      // Spark >=3 dropped bucket-sort-order propagation (SPARK-28583), so
      // SMJ re-sorts — but partition-LOCALLY over already-sorted single-
      // file buckets; any global sort here would mean a hidden exchange
      assert(plan.collect { case e: SortExec => e }.forall(!_.global),
        s"only partition-local sorts allowed:\n$s")
    }
  }

  test("bucketed join result matches the plain unbucketed computation") {
    val bucketed = Layout.bucketedOrdersPerCustomer(spark, d)
      .orderBy("c_custkey").collect().toSeq
    val c = Tables.customer(spark, d).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(spark, d).select("o_custkey", "o_totalprice")
    val plain = c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("total_spent"))
      .orderBy("c_custkey").collect().toSeq
    assert(bucketed == plain)
  }

  test("partition-column predicate prunes directories at planning time") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val root = Layout.writeEventsPartitioned(spark, d)
      def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
        df.queryExecution.executedPlan
          .collectLeaves().collectFirst { case f: FileSourceScanExec => f }.get
      val all = scanOf(spark.read.parquet(root)
        .groupBy("event_type").count()).selectedPartitions.partitionCount
      val pruned = Layout.prunedDailyTotals(spark, root, "2024-01-08", "2024-01-14")
      val scan = scanOf(pruned)
      assert(scan.partitionFilters.nonEmpty,
        "the date range must reach the scan as a partition filter")
      assert(scan.selectedPartitions.partitionCount == 7 && all >= 28,
        s"expected 7 of $all day-directories selected")
      // pruned-layout totals == filtering the original events by day
      val expect = Tables.events(spark, d)
        .filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
        .orderBy("event_date", "event_type").collect().toSeq
      assert(pruned.orderBy("event_date", "event_type").collect().toSeq == expect)
    }
  }

  test("bucketed writes land exactly one file per bucket") {
    val root = Layout.bucketedLayout(spark, d)
    for (sub <- Seq("customer", "orders")) {
      val files = new java.io.File(s"$root/$sub")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 16, s"$sub: ${files.length} files for 16 buckets")
    }
  }

  test("layout builder fails loudly on a missing source table") {
    // an absent source must surface as a named error on every call, not
    // as an empty layout, and the failure must not be memoized
    def attempt() = intercept[org.apache.spark.sql.AnalysisException](
      Layout.bucketedLayout(spark, "/tmp/graft_no_such_dir_xyz"))
    for (e <- Seq(attempt(), attempt())) {
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      assert(e.getMessage.contains("graft_no_such_dir_xyz/customer.parquet"))
    }
  }

  /** The on-disk layouts of `SparkEntry.sharedArtifacts`, by name. */
  private val layouts = Seq("bucketedLayout", "eventsPartitioned", "zorderedLineitem",
    "evolvedEvents", "eventsStage", "lateSplitEvents")

  private def pathsOf(built: Any): Seq[String] = built match {
    case p: String => Seq(p)
    case (a: String, b: String) => Seq(a, b)
    case other => fail(s"not a layout path: $other")
  }

  test("each layout is a memoized path: a second call returns it and starts 0 jobs") {
    val s = spark.newSession()
    val builders = SparkEntry.sharedArtifacts.toMap
    for (name <- layouts) {
      val first = builders(name)(s, d)
      val (second, jobs) = SparkTestSession.jobsDuring(builders(name)(s, d))
      assert(second == first, s"$name: second call returned another path")
      assert(jobs == 0, s"$name: second call started $jobs jobs")
      pathsOf(first).foreach(p =>
        assert(p.startsWith(FrameMemo.scratchRoot(s) + "/") && new java.io.File(p).isDirectory,
          s"$name: $p is not a directory under the session's scratch root"))
    }
  }

  test("another session builds its own layouts under its own scratch root") {
    val (a, b) = (spark.newSession(), spark.newSession())
    assert(FrameMemo.scratchRoot(a) != FrameMemo.scratchRoot(b))
    for (name <- layouts) {
      val build = SparkEntry.sharedArtifacts.toMap.apply(name)
      val (pa, pb) = (pathsOf(build(a, d)), pathsOf(build(b, d)))
      assert(pa.forall(_.startsWith(FrameMemo.scratchRoot(a) + "/")), name)
      assert(pb.forall(_.startsWith(FrameMemo.scratchRoot(b) + "/")), name)
    }
    // the two sessions share one catalog: each reads its own bucketed tables
    val q56 = SparkEntry.queries("q56_bucketed_join")
    assert(q56(a, d).collect().toSeq == q56(b, d).collect().toSeq)
  }

  test("the scratch root is one fresh dir under java.io.tmpdir, not a content-tagged name") {
    val root = java.nio.file.Paths.get(FrameMemo.scratchRoot(spark))
    assert(root.getParent == java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    assert(!root.getFileName.toString.matches("graft_.*_[0-9a-f]+"), root.toString)
    assert(FrameMemo.scratchRoot(spark) == root.toString, "one root per session")
  }

  test("a fixture rewritten at the same path is re-staged: q215 reflects the new rows") {
    // a non-snapshot dir under the session's scratch root, gone at JVM exit
    val dir = FrameMemo.freshDir(spark, "restage-fixture")
    def q215() = SparkEntry.queries("q215_stream_state_audit")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // one row per event_id residue, all in one hour: a single cell in state
    StateAuditSpec.writeEvents(spark, dir, (0L to 3L).map(_ -> "2024-01-01T01:30:00Z"))
    val before = q215()
    assert(before == (0 to 3).map(i => (i, 1L, 1L, 0L)), before.mkString(", "))
    StateAuditSpec.writeEvents(spark, dir, StateAuditSpec.HandFixture)
    val after = q215()
    assert(after == StateAuditSpec.HandFixtureAudit, after.mkString(", "))
  }

  test("q92 plans a dynamic partition pruning subquery on the fact scan") {
    val p = SparkEntry.queries("q92_dpp_weekend_totals")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic pruning subquery on event_date:\n$p")
  }

  test("q92 weekend totals match the statically-pruned computation") {
    import org.apache.spark.sql.functions.{col, dayofweek}
    val root = Layout.writeEventsPartitioned(spark, d)
    val expected = Layout.prunedDailyTotals(spark, root, "2024-01-01", "2024-01-31")
      .filter(dayofweek(col("event_date")).isin(1, 7))
      .orderBy("event_date", "event_type")
    val got = SparkEntry.queries("q92_dpp_weekend_totals")(spark, d)
    assert(got.count() > 0)
    assert(got.except(expected).count() == 0)
    assert(expected.except(got).count() == 0)
  }
}
