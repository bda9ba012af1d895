package graft.streaming

import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryProgress, Trigger}

/** Structured Streaming over the `events` table: the same aggregation
  * logic as the batch twins in graft.ops.EventsOps, expressed as
  * unbounded plans with watermarks. The reference is batch-only
  * (SURVEY §2.9); this is the engine's streaming extension.
  */
object EventsStreaming {

  /** Unbounded source from an events parquet directory (schema taken
    * from a batch read of the same path — streaming sources require an
    * explicit schema).
    */
  def readEvents(s: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame =
    eventsSource(s, dir, s.read.parquet(dir).schema, maxFilesPerTrigger)

  /** [[readEvents]] with the events `schema` already known. */
  private[graft] def eventsSource(s: SparkSession, dir: String,
                                  schema: org.apache.spark.sql.types.StructType,
                                  maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = s.readStream.schema(schema)
    // bounding files-per-trigger splits a bounded directory into several
    // micro-batches — the watermark then advances BETWEEN batches, which
    // is how tests exercise late-data/timeout paths
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
    // same flavor normalization as Tables.events (nanos-long / NTZ / TZ);
    // must happen BEFORE any withWatermark — watermarks reject NTZ
    graft.Tables.normalizeTs(raw, "ts")
  }

  /** Tumbling 1-hour windowed counts per event type with a 2-hour
    * watermark: late events beyond the watermark are dropped, state is
    * bounded — the streaming twin of q32_events_hourly.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // decimal-exact sum (q32's sumMoney discipline): a double sum's
      // result depends on partition arrival order, which would make the
      // streaming replay hash-unstable vs the batch/oracle twin
      .agg(count(lit(1)).as("n"),
        graft.ops.StarSchema.sumMoney(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Per-user running event count via mapGroupsWithState — the custom
    * stateful-processing hook (KeyValueGroupedDataset) a
    * sessionization/feature-store pipeline uses.
    */
  def runningUserCounts(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      .selectExpr("user_id", "event_id")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          (userId, total)
      }
      .toDF("user_id", "n_events")
  }

  /** One closed session per user: events bridged by ≤30-min gaps. */
  case class SessionSummary(user_id: Long, n_events: Long,
                            start_micros: Long, end_micros: Long)

  /** Gap-based sessionization via flatMapGroupsWithState with event-time
    * timeout — the streaming twin of the batch q33_sessionize: state per
    * user holds every still-open run; a run is closed and emitted ONLY
    * once the watermark guarantees no event can extend it
    * (run_end + gap <= watermark). This is the custom-state hook a
    * feature-store / attribution pipeline needs (bounded state,
    * late-data aware): an event arriving late-but-within-watermark can
    * still bridge or extend any run held in state, and is never matched
    * against a session that was already emitted.
    */
  def sessionize(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val gapMicros = 30.minutes.toMicros

    events
      .withWatermark("ts", "1 hour")
      // keep the watermarked ts column itself — projecting it into a
      // derived expression would drop the watermark and EventTimeTimeout
      // would be rejected
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        // state = ALL open runs, each (start_us, end_us, n_events); both
        // the data path and the timeout path run the same merge+close
        // logic (the timeout batch just has no incoming events)
        (userId: Long, batch: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[Seq[(Long, Long, Long)]]) => {
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          // exact micros (getTime truncates to millis — the batch twin
          // q33 compares full-precision event times)
          val incoming = batch
            .map(t => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaTimestamp(t._2))
            .toArray.sorted.map(t => (t, t, 1L))
          // fold open runs + sorted batch into gap-bridged runs
          val all = (state.getOption.getOrElse(Seq.empty) ++ incoming)
            .sortBy(_._1)
          var runs = List.empty[(Long, Long, Long)]
          all.foreach { case (st, en, c) =>
            runs match {
              case (ps, pe, pc) :: rest if st - pe <= gapMicros =>
                runs = (ps, math.max(pe, en), pc + c) :: rest
              case _ => runs = (st, en, c) :: runs
            }
          }
          // close = watermark has passed the point where a new event
          // could still bridge into the run. Equality is safe: Spark's
          // late-row pre-filter drops ts <= watermark (not strictly <),
          // and a bridging event needs ts <= run_end + gap <= wm — so by
          // the time equality holds here, no surviving event can extend
          // the run. Pinned by the StreamingSpec boundary test; a strict
          // close would only delay emission (and on bounded sources
          // suppress runs sitting exactly at end+gap == final wm).
          val (closed, open) = runs.reverse.partition(_._2 + gapMicros <= wmMicros)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // fire when the watermark passes the earliest open run's
            // close point; Spark requires the timeout to be strictly
            // beyond the current watermark, so clamp (a run whose close
            // point the watermark already passed was closed above)
            state.setTimeoutTimestamp(math.max(wmMicros / 1000 + 1,
              (open.head._2 + gapMicros) / 1000))
          }
          closed.iterator.map { case (st, en, c) =>
            SessionSummary(userId, c, st, en)
          }
        })
      .toDF()
  }

  /** Native session windows under streaming — the q58 batch plan
    * verbatim plus a watermark. Where `sessionize` above hand-rolls the
    * per-user run state through flatMapGroupsWithState (the hook for
    * custom semantics), this is the built-in operator: Spark keeps one
    * state row per open (user, session), merges sessions whose spans
    * overlap, and in Append mode emits a session only once the
    * watermark proves it can no longer grow — then evicts its state.
    * Bounded state, zero custom code, identical aggregation to the
    * oracle-matched batch q58 (StreamingSpec pins the agreement).
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.StarSchema.sumMoney(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Stream-stream interval join — purchase attribution: each purchase
    * event joined to the same user's click events from the preceding
    * hour. The missing join family member under streaming (the batch
    * side has equi/anti/semi/as-of): BOTH sides carry watermarks and
    * the join predicate bounds the event-time distance, which is
    * exactly what lets Spark evict buffered rows — a click older than
    * (click watermark − 1 h) can never match a future purchase, so its
    * state is dropped instead of accumulating forever. State on each
    * side is bounded by (watermark + interval) × arrival rate, not by
    * stream lifetime. Self-join of one source stream: the two sides are
    * two filters of the same `events` read, the planner runs them as
    * independent stateful inputs.
    *
    * `joinType = "left_outer"` keeps unattributed purchases: the row
    * emits null-extended once the click-side watermark passes the
    * purchase time — i.e. when NO future click can still match — the
    * state-expiry semantics that make streaming outer joins subtle
    * (pinned across micro-batches in StreamingSpec).
    */
  def purchaseAttribution(events: DataFrame,
                          joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("buyer_id") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"), joinType)
    // full_outer emits click-only rows whose purchase side is all null —
    // user_id must fall back to the click's key. Inner/left keep the
    // original projection (buyer_id is never null there) so their pinned
    // plans/outputs are untouched.
    if (joinType == "full_outer")
      joined.select(col("purchase_id"), col("click_id"),
        coalesce(col("buyer_id"), col("user_id")).as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
    else
      joined.select(col("purchase_id"), col("click_id"),
        col("buyer_id").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Dedup-on-ingest — the streaming member of the dedup family (batch
    * twin: q25's digest groupBy): drop replayed/duplicate events by key,
    * with state BOUNDED by the watermark. `dropDuplicatesWithinWatermark`
    * evicts a key's state once the watermark passes its event time, so
    * state scales with the watermark window, not the stream's lifetime —
    * the deliberate trade (a re-ingest arriving after the window
    * re-admits a copy) that makes streaming dedup feasible at all; an
    * unbounded `dropDuplicates` would accumulate every key forever.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Continuous warehouse maintenance: an Update-mode streaming
    * aggregation (state holds the running totals per key) feeds
    * `foreachBatch`, which MERGEs the corrected rows into the parquet
    * fact with the same idempotent upsert the batch loader uses
    * (StarOps.upsertFact) — the streaming version of
    * `load_to_postgres.py`'s `INSERT ... ON CONFLICT`. `foreachBatch` is
    * exactly the merge hook a Delta/Iceberg sink would formalize; on
    * plain parquet the commit is write-tmp-then-swap.
    */
  def upsertHourlyFact(s: SparkSession, events: DataFrame,
                       factDir: String,
                       checkpointDir: Option[String] = None): StreamingQuery = {
    val totals = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      // decimal-exact like hourlyCounts: the upserted fact is compared
      // bit-for-bit against batch recomputes, and a double sum's low
      // bits vary with partition arrival order
      .agg(count(lit(1)).as("n"),
        graft.ops.StarSchema.sumMoney(col("value")).as("total_value"))
    totals.writeStream
      .outputMode(OutputMode.Update) // emits only keys corrected this batch
      .foreachBatch { (updates: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val dst = new java.io.File(factDir)
        recoverLive(dst) // crash between swap renames: restore from .old
        val merged =
          if (dst.exists())
            graft.pipeline.StarOps.upsertFact(
              s.read.parquet(factDir), updates.toDF(), Seq("hour", "event_type"))
          else updates.toDF()
        // multi-file write: the fact keeps its natural partitioning (a
        // single-file coalesce would serialize the write and cap the
        // table at one task on read)
        val tmpDir = new java.io.File(factDir + ".tmp")
        merged.write.mode("overwrite").parquet(tmpDir.getPath)
        commitSwap(tmpDir, dst)
      }
      .trigger(Trigger.AvailableNow())
      .options(checkpointDir.map("checkpointLocation" -> _).toMap)
      .start()
  }

  /** Stream-STATIC join — the enrichment shape missing from the
    * stream-stream family: micro-batches of the unbounded event stream
    * join the bounded customer→region dim. No state store at all: the
    * planner broadcasts the dim when it fits (AQE-sized, not hinted —
    * customer cardinality grows with scale factor, the repo's
    * goldMonthly discipline) and the stream stays append-mode
    * row-per-row. NOTE the static side's parquet file listing is
    * snapshotted when the query STARTS — re-executed per batch, but
    * over the frozen file set, so a dim rewrite needs a query restart
    * (or a snapshot-resolving table format) to become visible. The dim
    * derivation is the shared `StarSchema.custRegion`, so batch and
    * streaming enrichment can never diverge.
    */
  def enrichWithRegion(s: SparkSession, events: DataFrame,
                       dir: String): DataFrame = {
    val dim = graft.ops.StarSchema.custRegion(s, dir)
    events.join(dim, events("user_id") === dim("c_custkey"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("region_name"))
  }

  /** STATELESS incremental gold maintenance — the streaming form of
    * q87's merge discipline. Unlike [[upsertHourlyFact]] (Update-mode
    * streaming aggregation whose state store holds every running total),
    * this keeps NO streaming state at all: each micro-batch is
    * aggregated as a plain batch frame and ADDED into the stored gold
    * (full-outer coalesce-add, DECIMAL-exact — LakehouseOps
    * .mergeAdditive), so after any number of batches the gold equals
    * the full recompute bit-for-bit (StreamingSpec pins it, including
    * a full-replay re-run: a batch-id ledger committed atomically with
    * the data makes the at-least-once foreachBatch merge idempotent).
    * The trade-off pair: upsert-with-state supports corrections/late
    * data within the watermark; additive-stateless assumes an
    * append-only source and in exchange scales to any key cardinality
    * — executor state is zero, the gold table itself is the state.
    */
  def incrementalDailyGold(s: SparkSession, events: DataFrame,
                           goldDir: String,
                           checkpointDir: Option[String] = None): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dst = new java.io.File(goldDir)
        recoverLive(dst)
        // an additive merge is NOT naturally idempotent (re-adding a
        // replayed batch double-counts — unlike the key-replacing
        // upsert twin), and foreachBatch is at-least-once. The merged
        // batch-id ledger lives INSIDE the swapped directory, so data
        // and ledger commit atomically: a replay of an already-merged
        // batchId is a no-op, a crash before the swap replays into the
        // previous consistent state.
        val ledger = new java.io.File(dst, MergedBatchLedger)
        import scala.jdk.CollectionConverters._
        val seen: Set[Long] =
          if (ledger.exists())
            java.nio.file.Files.readAllLines(ledger.toPath).asScala
              .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
          else Set.empty
        if (!seen.contains(batchId)) {
          val partial = batch
            .groupBy(to_date(col("ts")).as("day"), col("event_type"))
            // sum over decimal(18,2) widens to (28,2); pin the gold
            // schema back to its declared grain (ANSI: overflow = error)
            .agg(sum(col("value").cast("decimal(18,2)"))
              .cast("decimal(18,2)").as("revenue"),
              count(lit(1)).as("n_events"))
          val merged =
            if (dst.exists())
              graft.ops.LakehouseOps.mergeAdditive(s.read.parquet(goldDir),
                partial, Seq("day", "event_type"), Seq("revenue", "n_events"))
            else partial.toDF()
          val tmpDir = new java.io.File(goldDir + ".tmp")
          merged.write.mode("overwrite").parquet(tmpDir.getPath)
          java.nio.file.Files.write(
            new java.io.File(tmpDir, MergedBatchLedger).toPath,
            (seen + batchId).toSeq.sorted.mkString("\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          commitSwap(tmpDir, dst)
        }
      }
      .trigger(Trigger.AvailableNow())
      .options(checkpointDir.map("checkpointLocation" -> _).toMap)
      .start()

  /** Batch-id ledger filename inside the gold dir (underscore-prefixed:
    * parquet readers ignore it as a hidden sibling). */
  val MergedBatchLedger = "_merged_batches"

  /** Crash-safe publish of a staged directory: live → .old, tmp → live,
    * delete .old. Every rename result is CHECKED; a failure at any step
    * leaves either the previous or the new data intact and readable —
    * never neither (the delete-then-rename it replaces could destroy the
    * live table on a crash between the two calls).
    */
  def commitSwap(tmp: java.io.File, live: java.io.File): Unit = {
    import scala.reflect.io.Directory
    if (!tmp.exists())
      throw new java.io.IOException(
        s"commit failed: staged dir $tmp missing; live data untouched")
    val old = new java.io.File(live.getPath + ".old")
    if (old.exists()) new Directory(old).deleteRecursively()
    if (live.exists() && !live.renameTo(old))
      throw new java.io.IOException(
        s"commit failed: could not stage $live aside; live data untouched")
    if (!tmp.renameTo(live)) {
      // roll back so readers keep the previous fact
      if (old.exists() && !old.renameTo(live))
        throw new java.io.IOException(
          s"commit failed AND rollback failed: previous data is at $old")
      throw new java.io.IOException(
        s"commit failed: could not publish $tmp; previous data restored")
    }
    if (old.exists()) new Directory(old).deleteRecursively()
  }

  /** Recovery for a crash between commitSwap's two renames: the live dir
    * is gone but the previous version survives at `.old` — restore it.
    */
  def recoverLive(live: java.io.File): Unit = {
    val old = new java.io.File(live.getPath + ".old")
    if (!live.exists() && old.exists() && !old.renameTo(live))
      throw new java.io.IOException(s"recovery failed: could not restore $old -> $live")
  }

  /** State-partition count for the bounded-replay query family
    * (q116–q143/q209/q215): 8, r19's measured choice for the window-keyed
    * queries; the r22 A/B in OPTIMIZATION_r22.md measured 16 and 32 on
    * the large-state interval joins and rejected both. Why a replay pins
    * it at all is in the [[replay]] scaladoc.
    */
  private[graft] val ReplayStatePartitions = 8

  /** Drive a streaming frame to completion against the (bounded) parquet
    * source via a memory sink; returns the materialized result table.
    * Used by tests and local verification — production would write to a
    * real sink with `trigger(Trigger.ProcessingTime(...))`.
    */
  def runToMemory(s: SparkSession, streamed: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): DataFrame =
    runWithProgress(s, streamed, name, mode)._1

  /** [[runToMemory]] that also returns the per-trigger progress objects
    * — the engine's own observability counters (numInputRows,
    * numRowsDroppedByWatermark, the effective watermark). q209 builds
    * its late-data audit from these: the metrics ARE the product, not a
    * side channel, which is why this returns them instead of the query
    * re-deriving drop counts from data.
    */
  def runWithProgress(s: SparkSession, streamed: DataFrame, name: String,
                      mode: OutputMode = OutputMode.Append)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    val progress = replay(s, name) { ckpt =>
      val writer = streamed.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
      ckpt.fold(writer)(c => writer.option("checkpointLocation", c)).start()
    }
    (s.table(name), progress)
  }

  /** The one lifecycle of a bounded replay: pin the state width, make a
    * checkpoint dir, `start` the query on it, wait for it to finish,
    * then restore the width and delete the dir (also when the query
    * fails, whose `StreamingQueryException` is rethrown), and record
    * the run in [[StreamingMetrics]] (BENCH_DETAIL's streaming section:
    * batch count and state commit time per completed replay, so a slow
    * bench line self-reports whether the engine did abnormal work).
    *
    * State width: the stateful-operator partition count is fixed from
    * the session's shuffle width at FIRST query start (it's baked
    * into the checkpoint thereafter), and each state partition pays a
    * delta-file round trip per micro-batch regardless of how few keys it
    * holds — so it must track state-key CARDINALITY, not the session's
    * batch width (2×cores). The hourly replay holds ~3-4k window keys at
    * bench SF: 32 partitions measured 2× slower than 8 from pure
    * per-partition state-store overhead, and q128's Update-mode
    * aggregation at 64 partitions spent 12–88 s of state commits on ~24
    * hour keys (r21). At cluster scale the width is sized per query to
    * executors × cores. Results are unaffected: every replayed
    * aggregation is decimal-exact and every merge keyed.
    *
    * The width stays pinned for the whole run, not just `start`: q127's
    * foreachBatch merge write runs on this session too, at the replay
    * width. That mutates the session-global width — safe only while
    * bench/verify drive queries sequentially, which they do, and why no
    * replay is a `sharedArtifacts` entry (prebuild runs 4 threads). A
    * concurrent caller would run the replay on `s.cloneSession()`.
    */
  private[graft] def replay(s: SparkSession, name: String)(
      start: Option[String] => StreamingQuery): Seq[StreamingQueryProgress] = {
    val key = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, ReplayStatePartitions.toString)
    val ckpt = replayCheckpointDir(name)
    val progress =
      try {
        val q = start(ckpt)
        q.awaitTermination()
        q.recentProgress.toSeq
      } finally {
        s.conf.set(key, saved)
        ckpt.foreach(c => new scala.reflect.io.Directory(
          new java.io.File(c)).deleteRecursively())
      }
    StreamingMetrics.record(name, progress)
    progress
  }

  /** Throwaway checkpoint root for a bounded replay, on tmpfs when the
    * host has one: every micro-batch commits offset/commit-log files
    * plus one state delta PER STATE PARTITION to the checkpoint dir, and
    * the default temp location puts that on the same disk the parquet
    * scans contend for. The replay is bounded and the sink is memory —
    * durability of the checkpoint buys nothing here (a production query
    * puts it on shared storage for exactly-once recovery; these replays
    * rebuild from zero by design, that's the measured work). Deleted
    * after the run by [[replay]]; None (Spark's default temp dir) when
    * tmpfs is missing or unwritable.
    */
  private def replayCheckpointDir(name: String): Option[String] =
    try {
      val base = java.nio.file.Paths.get("/dev/shm/graft_ckpt")
      java.nio.file.Files.createDirectories(base)
      val dir = java.nio.file.Files.createTempDirectory(base, name + "-")
      Some(dir.toString)
    } catch { case _: Throwable => None }
}
