package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventsStreaming

/** Structured Streaming over the events table: the streaming plans must
  * produce the same answers as their batch twins once the bounded source
  * is fully consumed.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** This suite's fixture root: a fresh dir, deleted at JVM exit. */
  private lazy val scratch =
    org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-stream")

  /** FileStreamSource needs a directory; stage the single testdata file
    * into one.
    */
  private lazy val dir: String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = Paths.get(scratch, "events")
    Files.createDirectories(d)
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  test("q116 registered streaming replay equals batch q32 exactly") {
    // the driver's oracle proves this at sf0.01; pin it locally too so a
    // regression (mode/watermark/staging) fails in-suite, not at the gate
    val got = SparkEntry.queries("q116_stream_hourly_replay")(
      spark, "/root/testdata/sf0.001")
    val batch = SparkEntry.queries("q32_events_hourly")(
      spark, "/root/testdata/sf0.001")
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "bounded streaming replay must reproduce the batch aggregation bit-for-bit")
  }

  test("stage dir is glob-visible and re-entrant: no hidden prefix, second invocation identical") {
    // the r16 bench tail logged "WARN DataSource: All paths were
    // ignored" per streaming query: the sanitized absolute path began
    // with "_", Spark's hidden-path convention. Pin the visible prefix
    // AND per-query re-entry (the stage dir is shared-by-design across
    // the 15 streaming queries of a bench/verify session — a stale or
    // state-corrupting listing would show up as a second-run drift).
    val d = "/root/testdata/sf0.001"
    val stage = streaming.StreamingQueries.stageEventsDir(spark, d)
    val name = java.nio.file.Paths.get(stage).getFileName.toString
    assert(!name.startsWith("_") && !name.startsWith("."),
      s"stage dir '$name' is hidden under Spark's path conventions")
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(stage).resolve("events.parquet")),
      "staged events.parquet missing or dangling")
    val first = SparkEntry.queries("q116_stream_hourly_replay")(spark, d)
    val second = SparkEntry.queries("q116_stream_hourly_replay")(spark, d)
    assert(first.count() > 0)
    assert(first.exceptAll(second).isEmpty && second.exceptAll(first).isEmpty,
      "re-entering the staged streaming source must be idempotent")
  }

  test("q119 append replay emits exactly the windows the final watermark seals") {
    // the oracle's predicate, mirrored engine-side: W = floor_ms(max ts)
    // - 2h (EventTimeWatermarkExec truncates micros to millis), sealed =
    // window_end <= W. The emitted set must equal it EXACTLY — this is
    // the state-EVICTION contract, not just aggregation correctness —
    // and must be a strict subset of the full q32 answer (the unsealed
    // tail is withheld in state).
    val got = SparkEntry.queries("q119_stream_hourly_append")(
      spark, "/root/testdata/sf0.001")
    val batch = SparkEntry.queries("q32_events_hourly")(
      spark, "/root/testdata/sf0.001")
    val maxUs = Tables.events(spark, "/root/testdata/sf0.001")
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    val wUs = maxUs / 1000 * 1000 - 7200000000L
    val sealedBatch = batch.filter(unix_micros(col("hour")) + 3600000000L <= wUs)
    assert(got.count() > 0)
    assert(got.count() < batch.count(),
      "some windows must remain unsealed, or eviction was never exercised")
    assert(got.exceptAll(sealedBatch).isEmpty && sealedBatch.exceptAll(got).isEmpty,
      "append-mode emission must equal the sealed-window predicate bit-for-bit")
  }

  test("q122 append session windows equal batch q58 restricted to sealed sessions") {
    val got = SparkEntry.queries("q122_stream_sessions_append")(
      spark, "/root/testdata/sf0.001")
    val batch = SparkEntry.queries("q58_session_window")(
      spark, "/root/testdata/sf0.001")
    val maxUs = Tables.events(spark, "/root/testdata/sf0.001")
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    val wUs = maxUs / 1000 * 1000 - 3600000000L
    val sealedBatch = batch.filter(unix_micros(col("session_end")) <= wUs)
    assert(got.count() > 0)
    assert(got.count() < batch.count(),
      "some sessions must remain unsealed, or eviction was never exercised")
    assert(got.exceptAll(sealedBatch).isEmpty && sealedBatch.exceptAll(got).isEmpty,
      "append-mode session emission must equal the sealed-session predicate bit-for-bit")
  }

  test("q123 stream-stream replay equals the batch interval join exactly") {
    val got = SparkEntry.queries("q123_stream_attribution_replay")(
      spark, "/root/testdata/sf0.001")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    val batch = purchases.join(clicks,
      col("buyer_id") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("buyer_id").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "bounded stream-stream replay must equal the batch interval join bit-for-bit")
  }

  test("q124 custom-state sessionize equals the islands derivation on closed runs") {
    val got = SparkEntry.queries("q124_stream_sessionize_custom")(
      spark, "/root/testdata/sf0.001")
    // engine-side mirror of the oracle: gap>30min islands in exact
    // micros, closed iff end + gap <= floor_ms(max ts) - 1h
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val wUs = (maxUs / 1000 - 3600000L) * 1000
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val runs = ev
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("new_run",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_run")).over(byUser.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_micros"),
        max(unix_micros(col("ts"))).as("end_micros"))
      .filter(col("end_micros") + 1800000000L <= wUs)
      .select("user_id", "n_events", "start_micros", "end_micros")
    assert(got.count() > 0 && got.count() < runs.count() + 10)
    assert(got.exceptAll(runs).isEmpty && runs.exceptAll(got).isEmpty,
      "custom-state closed runs must equal the islands derivation bit-for-bit")
  }

  test("q126 outer replay: null-extension gated by the MIN of the two side watermarks") {
    val got = SparkEntry.queries("q126_stream_attribution_outer")(
      spark, "/root/testdata/sf0.001")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // per-side watermark nodes see only THEIR filtered input; the query
    // watermark is the min across nodes (multipleWatermarkPolicy=min)
    val maxOf = (t: String) => ev.filter(col("event_type") === t)
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    val wUs = math.min(maxOf("click"), maxOf("purchase")) / 1000 * 1000 - 7200000000L
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
    val matched = purchases.join(clicks,
      col("c_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
    val nulls = purchases
      .join(matched.select("purchase_id"), Seq("purchase_id"), "left_anti")
      .filter(unix_micros(col("purchase_ts")) <= wUs)
      .select(col("purchase_id"), lit(null).cast("long").as("click_id"),
        col("user_id"), col("purchase_ts"),
        lit(null).cast("timestamp").as("click_ts"), col("value"))
    val expected = matched.unionByName(nulls)
    assert(got.filter(col("click_id").isNull).count() > 0,
      "state expiry must produce null-extended rows")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "outer replay must equal matched + watermark-expired nulls bit-for-bit")
  }

  test("streaming hourly counts match the batch aggregation") {
    val stream = EventsStreaming.readEvents(spark, dir)
    val got = EventsStreaming.runToMemory(
      spark, EventsStreaming.hourlyCounts(stream), "hourly_test")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
    // watermark append-mode emits only windows older than the watermark;
    // every emitted window must match its batch twin exactly
    val joined = got.as("g").join(batch.as("b"),
      col("g.hour") === col("b.hour") && col("g.event_type") === col("b.event_type"))
    assert(got.count() > 0)
    assert(joined.filter(col("g.n") =!= col("b.n")).isEmpty)
    assert(joined.count() == got.count())
  }

  test("stream-stream interval join matches the batch join exactly") {
    val stream = EventsStreaming.readEvents(spark, dir)
    val got = EventsStreaming.runToMemory(spark,
      EventsStreaming.purchaseAttribution(stream), "attribution_test")
    // batch twin: identical predicate over the bounded table
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    val batch = purchases.join(clicks,
      col("buyer_id") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"))
    val gotPairs = got.select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs.nonEmpty)
    assert(gotPairs == batchPairs)
  }

  test("streaming sessionization closes sessions the batch twin finds") {
    import org.apache.spark.sql.functions._
    val stream = EventsStreaming.readEvents(spark, dir)
    val got = EventsStreaming.runToMemory(spark,
      EventsStreaming.sessionize(spark, stream), "sessions_test")
    // AvailableNow on a bounded source: watermark advances to max(ts)
    // after the batch, so sessions ending >1h+gap before it are closed.
    // Each closed session's event count must match the batch q33 logic:
    // total closed-session events per user <= batch per-user counts
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val perUser = got.groupBy("user_id")
      .agg(sum(col("n_events")).as("closed_events"))
    val joined = perUser.join(batch, "user_id")
    assert(got.count() > 0)
    assert(joined.filter(col("closed_events") > col("n_events")).isEmpty)
    // session invariant: no zero/negative counts, start <= end
    assert(got.filter(col("n_events") <= 0 ||
      col("start_micros") > col("end_micros")).isEmpty)
  }

  /** Write `rows` as one parquet file named `name` inside `dir`, with a
    * controlled modification time (FileStreamSource processes oldest
    * first, so mod times order the micro-batches).
    */
  private def writeEventsFile(dir: String, name: String,
                              rows: Seq[(Long, String)], modTime: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val stage = s"$dir.stage_$name"
    rows.toDF("user_id", "tss")
      .withColumn("ts", to_timestamp(col("tss")))
      .select("user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = Paths.get(dir, name)
    Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(modTime)
  }

  test("left-outer stream-stream join emits unattributed purchases on state expiry") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = s"$scratch/attr_outer"
    Files.createDirectories(Paths.get(base))
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def writeFile(name: String, modTime: Long,
                  rows: Seq[(Long, Long, String, String, Double)]): Unit = {
      import spark.implicits._
      val stage = s"$base.stage_$name"
      rows.toDF("event_id", "user_id", "tss", "event_type", "value")
        .withColumn("ts", to_timestamp(col("tss")))
        .select("event_id", "user_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(base, name)
      Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(modTime)
    }
    // batch 1: an attributed purchase (user 1) and an unattributed one
    // (user 2 — no click). Nothing outer can emit yet: a click for user
    // 2 could still arrive within the watermark.
    writeFile("a.parquet", t0, Seq(
      (100L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (101L, 1L, "2024-01-01 10:30:00", "purchase", 5.0),
      (102L, 2L, "2024-01-01 10:30:00", "purchase", 7.0)))
    // later batches must advance BOTH event-time watermarks, so they
    // carry real clicks/purchases (a filtered-out event type never
    // reaches the watermark node — its timestamp doesn't count). The
    // expired unmatched row then surfaces one batch after the global
    // (min-of-both) watermark passes its purchase time.
    writeFile("b.parquet", t0 + 60000, Seq(
      (103L, 3L, "2024-01-01 20:00:00", "click", 0.0)))
    writeFile("c.parquet", t0 + 120000, Seq(
      (104L, 3L, "2024-01-01 20:30:00", "purchase", 9.0)))
    writeFile("d.parquet", t0 + 180000, Seq(
      (105L, 4L, "2024-01-01 22:00:00", "click", 0.0),
      (106L, 4L, "2024-01-01 22:00:00", "purchase", 3.0)))
    val outer = EventsStreaming.runToMemory(spark,
      EventsStreaming.purchaseAttribution(
        EventsStreaming.readEvents(spark, base, maxFilesPerTrigger = Some(1)),
        joinType = "left_outer"),
      "attr_outer_test")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(outer == Set((101L, 100L), (104L, 103L), (106L, 105L), (102L, -1L)),
      s"got $outer")
    // the inner variant over the same files keeps only the matched pairs
    val inner = EventsStreaming.runToMemory(spark,
      EventsStreaming.purchaseAttribution(
        EventsStreaming.readEvents(spark, base, maxFilesPerTrigger = Some(1))),
      "attr_inner_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inner == Set((101L, 100L), (104L, 103L), (106L, 105L)), s"got $inner")
  }

  test("sessionize across micro-batches: watermark gates emission, late events bridge") {
    import java.nio.file.{Files, Paths}
    val base = s"$scratch/sess_multi"
    Files.createDirectories(Paths.get(base))
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    // batch 1: user 1 run (00:00, 00:10); user 2 single event 00:05.
    // Watermark after it = 00:10 - 1h, so nothing is emitted yet.
    writeEventsFile(base, "a.parquet", Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (2L, "2024-01-01 00:05:00")), t0)
    // batch 2: user 1 event at 12:00 advances the watermark to 11:00;
    // user 2's 00:20 is LATE relative to that batch's max but above the
    // current watermark — it must bridge into the still-open 00:05 run,
    // which only works if that run was held in state, not emitted early.
    writeEventsFile(base, "b.parquet", Seq(
      (1L, "2024-01-01 12:00:00"), (2L, "2024-01-01 00:20:00")), t0 + 60000)
    val stream = EventsStreaming.readEvents(spark, base, maxFilesPerTrigger = Some(1))
    val got = EventsStreaming.runToMemory(spark,
      EventsStreaming.sessionize(spark, stream), "sessions_multi")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def us(iso: String) = java.time.Instant.parse(iso).toEpochMilli * 1000L
    // only runs with end + gap <= final watermark (11:00) close: user 1's
    // morning run and user 2's bridged 2-event run. User 1's 12:00 run
    // (12:30 > 11:00) stays open and must NOT be emitted.
    assert(got == Set(
      (1L, 2L, us("2024-01-01T00:00:00Z"), us("2024-01-01T00:10:00Z")),
      (2L, 2L, us("2024-01-01T00:05:00Z"), us("2024-01-01T00:20:00Z"))))
    // the emitted runs match the batch q33 semantics on the same events:
    // both are maximal gap-bridged runs, counted exactly once
  }

  test("sessionize boundary: ts == watermark is dropped as late, so equality-close is safe") {
    // Pins the Spark semantic the close predicate (end + gap <= wm)
    // depends on: the stateful-op late-row pre-filter drops ts <=
    // watermark (NOT strictly <). A bridging event needs
    // ts <= run_end + gap, so once run_end + gap <= wm every potential
    // bridge is already unreachable and emitting at equality can never
    // split a session. If a Spark upgrade ever relaxed the filter to
    // strict <, this test would fail with a bridged 2-event session —
    // the signal to flip the close predicate to strict.
    import java.nio.file.{Files, Paths}
    val base = s"$scratch/sess_boundary"
    Files.createDirectories(Paths.get(base))
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    // batch 1: user 5 run [00:00]; user 9 at 01:30 sets watermark to 00:30
    writeEventsFile(base, "a.parquet", Seq(
      (5L, "2024-01-01 00:00:00"), (9L, "2024-01-01 01:30:00")), t0)
    // batch 2: user 5 data arrival runs the close check at wm = 00:30,
    // where user 5's [00:00] run sits exactly at end + gap == wm
    writeEventsFile(base, "b.parquet", Seq(
      (5L, "2024-01-01 01:15:00")), t0 + 60000)
    // batch 3: an event at exactly ts == wm == 00:30 — the only event
    // that could still bridge the [00:00] run (ts - run_end == gap).
    // Spark drops it before the state function ever sees it.
    writeEventsFile(base, "c.parquet", Seq(
      (5L, "2024-01-01 00:30:00")), t0 + 120000)
    // batch 4: advance the watermark to 22:59 so closed runs flush
    writeEventsFile(base, "d.parquet", Seq(
      (9L, "2024-01-01 23:59:00")), t0 + 180000)
    val stream = EventsStreaming.readEvents(spark, base, maxFilesPerTrigger = Some(1))
    val got = EventsStreaming.runToMemory(spark,
      EventsStreaming.sessionize(spark, stream), "sessions_boundary")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def us(iso: String) = java.time.Instant.parse(iso).toEpochMilli * 1000L
    // the boundary event contributes to NO session (dropped as late):
    // [00:00] stays a 1-event session and no [00:30] session appears
    assert(got == Set(
      (5L, 1L, us("2024-01-01T00:00:00Z"), us("2024-01-01T00:00:00Z")),
      (5L, 1L, us("2024-01-01T01:15:00Z"), us("2024-01-01T01:15:00Z")),
      (9L, 1L, us("2024-01-01T01:30:00Z"), us("2024-01-01T01:30:00Z"))))
  }

  test("native streaming session windows match the batch q58 sessions exactly") {
    val stream = EventsStreaming.readEvents(spark, dir)
    val got = EventsStreaming.runToMemory(spark,
      EventsStreaming.sessionWindows(stream), "session_window_test")
    val batch = SparkEntry.queries("q58_session_window")(
      spark, "/root/testdata/sf0.001")
    // Append mode emits only sessions the final watermark (max ts - 1h)
    // has sealed; each emitted row must equal its batch twin EXACTLY
    // (same bounds, count, and decimal-summed value)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty,
      "every emitted streaming session must appear verbatim in batch q58")
    // the bounded source spans 30 days, so almost everything seals
    assert(got.count() >= (batch.count() * 9) / 10)
  }

  test("streaming dedup drops replayed events across micro-batches") {
    val d = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-stream-dedup")
    val base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .orderBy("event_id").limit(200)
    base.write.mode("overwrite").parquet(d)
    // replay half the events into a second file: a second micro-batch
    // re-ingesting data the state store has already seen
    base.limit(100).write.mode("append").parquet(d)
    val streamed = EventsStreaming.dedupEvents(
      EventsStreaming.readEvents(spark, d, maxFilesPerTrigger = Some(1)))
    val out = EventsStreaming.runToMemory(spark, streamed, "dedup_stream_test")
    assert(out.count() == 200, "each replayed event must be emitted exactly once")
    assert(out.select("event_id").distinct().count() == 200)
  }

  test("commitSwap publishes atomically and failures leave previous data readable") {
    import java.nio.file.{Files, Paths}
    val root = s"$scratch/swap"
    Files.createDirectories(Paths.get(root))
    val live = new java.io.File(s"$root/live")
    def writeDir(d: java.io.File, tag: String): Unit = {
      Files.createDirectories(d.toPath)
      Files.writeString(d.toPath.resolve("data.txt"), tag)
    }
    def readTag(d: java.io.File): String =
      Files.readString(d.toPath.resolve("data.txt"))
    // first publish: no live dir yet
    val tmp1 = new java.io.File(s"$root/t1")
    writeDir(tmp1, "v1")
    EventsStreaming.commitSwap(tmp1, live)
    assert(readTag(live) == "v1" && !tmp1.exists())
    // replace: v2 goes live, v1 cleaned up
    val tmp2 = new java.io.File(s"$root/t2")
    writeDir(tmp2, "v2")
    EventsStreaming.commitSwap(tmp2, live)
    assert(readTag(live) == "v2")
    assert(!new java.io.File(s"$root/live.old").exists())
    // failed swap (staged dir missing): throws, previous version intact
    val err = intercept[java.io.IOException] {
      EventsStreaming.commitSwap(new java.io.File(s"$root/missing"), live)
    }
    assert(err.getMessage.contains("live data untouched"))
    assert(readTag(live) == "v2")
    // crash between the two renames (live moved aside, new never landed):
    // recoverLive restores the previous version
    assert(live.renameTo(new java.io.File(s"$root/live.old")))
    EventsStreaming.recoverLive(live)
    assert(readTag(live) == "v2")
  }

  test("foreachBatch streaming upsert converges to the batch fact") {
    import org.apache.spark.sql.functions._
    val factDir = s"$scratch/fact_hourly"
    val stream = EventsStreaming.readEvents(spark, dir)
    val q = EventsStreaming.upsertHourlyFact(spark, stream, factDir)
    q.awaitTermination()
    val got = spark.read.parquet(factDir)
    val want = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.StarSchema.sumMoney(col("value")).as("total_value"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // idempotent: re-running the whole stream over the same input
    // converges to the same fact (upsert replaces by key)
    val q2 = EventsStreaming.upsertHourlyFact(spark,
      EventsStreaming.readEvents(spark, dir), factDir)
    q2.awaitTermination()
    val again = spark.read.parquet(factDir)
    assert(again.exceptAll(want).isEmpty && want.exceptAll(again).isEmpty)
  }

  test("stateful running user counts consume all events") {
    val stream = EventsStreaming.readEvents(spark, dir)
    val got = EventsStreaming.runningUserCounts(spark, stream)
    val res = EventsStreaming.runToMemory(spark, got, "usercounts_test",
      OutputMode.Update())
    // final state per user = total events per user (single AvailableNow batch)
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val latest = res.groupBy("user_id").agg(max("n_events").as("n_events"))
    assert(latest.exceptAll(batch).isEmpty && batch.exceptAll(latest).isEmpty)
  }

  test("stateless incremental gold converges to the batch recompute across micro-batches") {
    import org.apache.spark.sql.functions._
    val root = s"$scratch/inc_gold"
    // 4 source files -> maxFilesPerTrigger=1 forces 4 separate additive
    // merges; the final gold must still equal the one-shot recompute
    val src = s"$root/src"
    Tables.events(spark, "/root/testdata/sf0.001")
      .repartition(4).write.parquet(src)
    val goldDir = s"$root/gold"
    val q = EventsStreaming.incrementalDailyGold(spark,
      EventsStreaming.readEvents(spark, src, maxFilesPerTrigger = Some(1)), goldDir)
    q.awaitTermination()
    val got = spark.read.parquet(goldDir)
    val want = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("revenue"),
        count(lit(1)).as("n_events"))
    assert(got.count() == want.count())
    assert(got.except(want).count() == 0, "incremental gold diverged from recompute")
    assert(want.except(got).count() == 0)
    // the stored schema did not drift: revenue is still DECIMAL(18,2)
    assert(got.schema("revenue").dataType.simpleString == "decimal(18,2)",
      got.schema.treeString)
    // REPLAY idempotence: a fresh stream over the same source reruns
    // batches 0..3 (at-least-once delivery in miniature); the batch-id
    // ledger must turn every replayed merge into a no-op instead of
    // double-counting the additive measures
    val q2 = EventsStreaming.incrementalDailyGold(spark,
      EventsStreaming.readEvents(spark, src, maxFilesPerTrigger = Some(1)), goldDir)
    q2.awaitTermination()
    val replayed = spark.read.parquet(goldDir)
    assert(replayed.except(want).count() == 0 && want.except(replayed).count() == 0,
      "replayed batches were double-counted")
  }

  test("stream-static enrichment matches the batch dim join") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val stream = EventsStreaming.readEvents(spark, dir)
    val got = EventsStreaming.runToMemory(spark,
      EventsStreaming.enrichWithRegion(spark, stream, sf), "enrich_test")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, sf).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, sf)
      .select(col("r_regionkey"), col("r_name").as("region_name"))
    val dim = c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .select(col("c_custkey"), col("region_name"))
    val ev = Tables.events(spark, sf)
    val want = ev.join(dim, ev("user_id") === dim("c_custkey"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("region_name"))
    assert(got.count() > 0, "enrichment matched no events")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  private val Width = "spark.sql.shuffle.partitions"

  /** `name`'s replay checkpoint dirs now on tmpfs (see
    * `EventsStreaming.replay`); empty when the host has no /dev/shm. */
  private def checkpointDirs(name: String): Set[String] =
    Option(new java.io.File("/dev/shm/graft_ckpt").list()).toSet.flatten
      .filter(_.startsWith(name + "-"))

  test("replay rethrows a failed query and still restores the width and deletes its checkpoint") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val name = "replay_fail_test"
    val before = spark.conf.get(Width)
    assert(before != EventsStreaming.ReplayStatePartitions.toString,
      "the session must start at another width for this test to tell")
    val dirsBefore = checkpointDirs(name)
    val widthInBatch = new java.util.concurrent.atomic.AtomicReference[String]()
    val stream = EventsStreaming.readEvents(spark, dir)
    val err = intercept[StreamingQueryException](
      EventsStreaming.replay(spark, name) { ckpt =>
        val writer = stream.writeStream
          .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            widthInBatch.set(spark.conf.get(Width))
            throw new IllegalStateException("replay_fail_test batch failed")
          }
          .trigger(Trigger.AvailableNow())
        ckpt.fold(writer)(c => writer.option("checkpointLocation", c)).start()
      })
    assert(err.getMessage.contains("replay_fail_test batch failed"), err.getMessage)
    // pinned while the batch ran, restored once the query failed
    assert(widthInBatch.get == EventsStreaming.ReplayStatePartitions.toString)
    assert(spark.conf.get(Width) == before)
    assert(checkpointDirs(name) == dirsBefore, "failed replay left its checkpoint dir")
  }

  test("q127 through the registry records its replay, restores the width, leaves no checkpoint") {
    val name = "q127_stream_gold_additive"
    val before = spark.conf.get(Width)
    val dirsBefore = checkpointDirs(name)
    val previous = streaming.StreamingMetrics.snapshot.get(name)
    val got = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    val run = streaming.StreamingMetrics.snapshot.get(name)
    assert(run.isDefined && !previous.exists(_ eq run.get),
      "q127's replay recorded no StreamingMetrics entry")
    assert(run.get.batches >= 1, run.get)
    assert(spark.conf.get(Width) == before)
    assert(checkpointDirs(name) == dirsBefore, "q127 left its checkpoint dir")
    assert(got.count() > 0)
  }
}
