package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.FrameMemo

/** The build-once contract behind the shared edge lists and driver-side
  * values: memoized only for immutable testdata roots, frames always
  * materialized, built exactly once per (session, dir, key) — in-flight
  * builds included — and pre-built by a bounded worker pool.
  */
class FrameMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  /** A memoizable (immutable testdata) dir. */
  private val snapshot = "/root/testdata/sf0.001"

  test("memoizable covers exactly the immutable roots, with path-separator boundaries") {
    assert(FrameMemo.memoizable("/root/testdata"))
    assert(FrameMemo.memoizable("/root/testdata/sf0.001"))
    // a SIBLING whose name extends the prefix is NOT immutable — treating
    // it as cached would serve stale bytes after a rewrite (the exact
    // hazard the guard exists for)
    assert(!FrameMemo.memoizable("/root/testdata_scratch"))
    assert(!FrameMemo.memoizable("/root/testdatax/sf0.001"))
    assert(!FrameMemo.memoizable("/tmp/graft_test"))
  }

  test("a memoizable dir builds once; later calls reuse the materialized frame") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val key = s"spec-${System.nanoTime()}" // unique per run: the memo is JVM-wide
    val first = FrameMemo.cached(spark, "/root/testdata/sf0.001", key)(build())
    val second = FrameMemo.cached(spark, "/root/testdata/sf0.001", key)(build())
    assert(builds == 1, "second call must not rebuild")
    assert(second eq first, "same materialized frame instance")
    // distinct key or dir = distinct artifact
    FrameMemo.cached(spark, "/root/testdata/sf0.01", key)(build())
    assert(builds == 2)
  }

  test("scratch intermediates are released once the enclosing build materializes") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.storage.StorageLevel
    // win path: the artifact survives, the build-local intermediate's
    // blocks do not (r19 ADVICE: losing builds released only their FINAL
    // frame; nested checkpoints stayed block-store resident — and winning
    // builds held theirs forever)
    var inner: org.apache.spark.sql.DataFrame = null
    val built = FrameMemo.cached(spark, "/root/testdata/sf0.001",
      s"scratch-spec-${System.nanoTime()}") {
      inner = FrameMemo.scratch(Seq(1, 2, 3).toDF("x"))
      inner.select((org.apache.spark.sql.functions.col("x") * 2).as("y"))
    }
    assert(built.count() == 3, "artifact must stay readable after scratch release")
    assert(ColumnBridge.checkpointStorageLevel(inner).contains(StorageLevel.NONE),
      "build-local intermediate must be unpersisted once the artifact materializes")
    assert(!ColumnBridge.checkpointStorageLevel(built).contains(StorageLevel.NONE),
      "the memoized artifact itself must stay resident")
    // outside any build: plain localCheckpoint, caller owns the lifetime
    val free = FrameMemo.scratch(Seq(4).toDF("x"))
    assert(!ColumnBridge.checkpointStorageLevel(free).contains(StorageLevel.NONE))
    assert(free.count() == 1)
    ColumnBridge.releaseCheckpoint(free)
    // a THROWING build must release its scratch chain too
    var leaky: org.apache.spark.sql.DataFrame = null
    intercept[RuntimeException] {
      FrameMemo.cached(spark, "/root/testdata/sf0.001",
        s"scratch-boom-${System.nanoTime()}") {
        leaky = FrameMemo.scratch(Seq(5).toDF("x"))
        throw new RuntimeException("boom")
      }
    }
    assert(ColumnBridge.checkpointStorageLevel(leaky).contains(StorageLevel.NONE),
      "a failed build must not leak its partial scratch chain")
  }

  test("a non-memoizable dir builds fresh each call but still returns a materialized frame") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val a = FrameMemo.cached(spark, "/tmp/graft_memo_scratch", "k")(build())
    val b = FrameMemo.cached(spark, "/tmp/graft_memo_scratch", "k")(build())
    assert(builds == 2, "scratch dirs must not be cached — they can be rewritten")
    assert(!(a eq b))
    // materialized: consumers may iterate without re-running lineage; a
    // localCheckpoint'ed frame plans as an ExistingRDD scan
    assert(a.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  /** Two threads call `memo` on one key while a latch holds the first
    * build of `make` open; returns the build count and both results.
    */
  private def raceOneKey[T <: AnyRef](make: () => T)(memo: (() => T) => T): (Int, T, T) = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def build(): T = {
      builds.incrementAndGet()
      entered.countDown()
      release.await(60, TimeUnit.SECONDS)
      make()
    }
    val got = new java.util.concurrent.ConcurrentHashMap[String, T]()
    def caller(tag: String) = new Thread(() => {
      got.put(tag, memo(() => build()))
      ()
    })
    val first = caller("first")
    first.start()
    assert(entered.await(60, TimeUnit.SECONDS), "first build never started")
    // the first build is now held open; the second caller must wait on
    // it (BLOCKED) rather than run a build of its own (WAITING on the latch)
    val second = caller("second")
    second.start()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (second.getState != Thread.State.BLOCKED &&
           second.getState != Thread.State.WAITING &&
           second.getState != Thread.State.TIMED_WAITING &&
           System.nanoTime() < deadline) Thread.sleep(5)
    release.countDown()
    first.join(60000)
    second.join(60000)
    (builds.get, got.get("first"), got.get("second"))
  }

  test("concurrent callers of one key share one build and one frame") {
    import spark.implicits._
    val key = s"concurrent-spec-${System.nanoTime()}"
    val (builds, first, second) = raceOneKey(() => Seq(1, 2, 3).toDF("x"))(
      build => FrameMemo.cached(spark, snapshot, key)(build()))
    assert(builds == 1, "an in-flight build must not be started twice")
    assert(second eq first, "both callers get the same frame instance")
  }

  test("a throwing build is not memoized: the next call builds again") {
    import spark.implicits._
    val key = s"throw-spec-${System.nanoTime()}"
    intercept[RuntimeException] {
      FrameMemo.cached(spark, snapshot, key)(throw new RuntimeException("boom"))
    }
    var builds = 0
    val df = FrameMemo.cached(spark, snapshot, key) {
      builds += 1; Seq(7).toDF("x")
    }
    assert(builds == 1, "the failed build must leave no entry behind")
    assert(df.count() == 1)
  }

  test("prebuild: per-entry timings in declared order, bounded workers, failures named") {
    import java.util.concurrent.atomic.AtomicInteger
    val running = new AtomicInteger(0)
    val highWater = new AtomicInteger(0)
    val finished = new AtomicInteger(0)
    def entry(name: String, fail: Boolean = false) =
      name -> ((_: org.apache.spark.sql.SparkSession, _: String) => {
        highWater.accumulateAndGet(running.incrementAndGet(), math.max)
        try {
          Thread.sleep(50)
          if (fail) throw new IllegalStateException(s"$name failed")
        } finally { running.decrementAndGet(); finished.incrementAndGet() }
      })
    val names = (1 to 12).map(i => s"a$i")
    FrameMemo.prebuild(spark, snapshot, names.map(entry(_))) match {
      case Right(secs) =>
        assert(secs.map(_._1) == names, "one timing per entry, in declared order")
        assert(secs.forall(_._2 >= 0.05))
      case Left(failed) => fail(s"no entry should fail: $failed")
    }
    assert(highWater.get <= FrameMemo.PrebuildWorkers,
      s"${highWater.get} builds ran at once; the pool has ${FrameMemo.PrebuildWorkers}")
    assert(highWater.get > 1, "entries must build concurrently")
    assert(running.get == 0 && finished.get == names.size,
      "every build has finished when prebuild returns")
    finished.set(0)
    val mixed = names.take(3).map(entry(_)) ++ Seq(entry("broken", fail = true)) ++
      names.drop(3).take(3).map(entry(_))
    FrameMemo.prebuild(spark, snapshot, mixed) match {
      case Left(Seq(("broken", e: IllegalStateException))) =>
        assert(e.getMessage == "broken failed", "the failure keeps its cause")
      case other => fail(s"expected only `broken` with its cause, got $other")
    }
    assert(running.get == 0 && finished.get == mixed.size,
      "the other entries still build, and none is running after the call")
    assert(highWater.get <= FrameMemo.PrebuildWorkers)
  }

  test("inParallel: results in order, and a failure is rethrown as itself once every task has ended") {
    import java.util.concurrent.atomic.AtomicInteger
    val running = new AtomicInteger(0)
    val highWater = new AtomicInteger(0)
    def task(i: Int, failure: Option[Throwable] = None) = () => {
      highWater.accumulateAndGet(running.incrementAndGet(), math.max)
      try { Thread.sleep(if (failure.isDefined) 10 else 100); failure.foreach(throw _); i }
      finally running.decrementAndGet()
    }
    assert(FrameMemo.inParallel("spec")((1 to 5).map(task(_)): _*) == (1 to 5))
    assert(highWater.get > 1, "tasks must run at the same time")
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException](FrameMemo.inParallel("spec")(
      task(1), task(2, Some(boom)), task(3)))
    assert(thrown eq boom, "the task's own exception, not a wrapper")
    assert(running.get == 0, "a task was still running when inParallel threw")
  }

  test("prebuild on a dir the memo does not retain builds nothing") {
    var builds = 0
    val entries = Seq("a" -> ((_: org.apache.spark.sql.SparkSession, _: String) => builds += 1))
    assert(FrameMemo.prebuild(spark, "/tmp/graft_memo_scratch", entries) == Right(Seq.empty))
    assert(builds == 0)
  }

  test("prebuild builds every declared shared artifact without streaming or touching the shuffle width") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // a plan Janino cannot compile still runs (interpreted, with
    // whole-stage codegen off for that stage), so the fallback shows
    // only in the log: CodeGenerator's ERROR and WholeStageCodegenExec's
    // WARN are the two lines it leaves
    val fallbacks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-fallback-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Failed to compile the generated Java code") ||
            msg.contains("Whole-stage codegen disabled"))
          fallbacks.add(s"${e.getLoggerName}: ${msg.take(200)}")
      }
    }
    val logs = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    logs.getConfiguration.getRootLogger.addAppender(appender, null, null)
    logs.updateLoggers()
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val built =
      try FrameMemo.prebuild(spark, snapshot, SparkEntry.sharedArtifacts)
      finally {
        org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
        spark.streams.removeListener(listener)
        logs.getConfiguration.getRootLogger.removeAppender(appender.getName)
        logs.updateLoggers()
        appender.stop()
      }
    info(f"prebuild of ${SparkEntry.sharedArtifacts.size} artifacts: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    built match {
      case Right(secs) => assert(secs.map(_._1) == SparkEntry.sharedArtifacts.map(_._1))
      case Left(failed) => fail(s"artifacts failed: ${failed.mkString(", ")}")
    }
    assert(started.get == 0, "a shared artifact started a streaming query")
    assert(fallbacks.isEmpty,
      s"shared artifacts fell back from codegen:\n${fallbacks.toArray.mkString("\n")}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == width,
      "a shared artifact changed the session's shuffle width")
  }

  test("value: concurrent callers of one key share one build and one instance") {
    val key = s"value-concurrent-spec-${System.nanoTime()}"
    val (builds, first, second) = raceOneKey(() => new Object)(
      build => FrameMemo.value(spark, snapshot, key)(build()))
    assert(builds == 1, "an in-flight build must not be started twice")
    assert(second eq first, "both callers get the same instance")
  }

  test("value: a throwing build is not memoized, and one that keeps throwing throws every time") {
    val key = s"value-throw-spec-${System.nanoTime()}"
    var attempts = 0
    def broken(): Int = { attempts += 1; throw new IllegalStateException("boom") }
    intercept[IllegalStateException](FrameMemo.value(spark, snapshot, key)(broken()))
    intercept[IllegalStateException](FrameMemo.value(spark, snapshot, key)(broken()))
    assert(attempts == 2, "a failed build must leave no entry behind")
    assert(FrameMemo.value(spark, snapshot, key)(7) == 7)
    assert(FrameMemo.value(spark, snapshot, key)(8) == 7, "a successful build is kept")
  }

  test("value: a non-memoizable dir builds on every call") {
    var builds = 0
    def build() = { builds += 1; new Object }
    val a = FrameMemo.value(spark, "/tmp/graft_memo_scratch", "v")(build())
    val b = FrameMemo.value(spark, "/tmp/graft_memo_scratch", "v")(build())
    assert(builds == 2)
    assert(!(a eq b))
  }

  test("FrameMemo declares exactly one ConcurrentHashMap field (perfbench Classify reads it)") {
    val fields = Class.forName("graft.ops.FrameMemo$").getDeclaredFields.filter(f =>
      classOf[java.util.concurrent.ConcurrentHashMap[_, _]].isAssignableFrom(f.getType))
    assert(fields.length == 1, fields.map(_.getName).mkString(", "))
  }
}
