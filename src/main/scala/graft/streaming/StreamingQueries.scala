package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.FrameMemo

/** Driver-visible queries that execute through the Structured Streaming
  * engine (MicroBatchExecution + stateful aggregation), not the batch
  * planner. The nine streaming plans in [[EventsStreaming]] are pinned
  * batch-equal by StreamingSpec; this registers the flagship one as a
  * CORRECTNESS entry so the oracle checks the streaming engine itself:
  * an AvailableNow replay of the bounded events table through the
  * windowed-aggregation plan must land on exactly the batch q32 answer.
  */
object StreamingQueries extends graft.QueryModule {

  /** The events table staged for FileStreamSource, which reads a
    * directory while the testdata holds one parquet FILE per table: a
    * fresh directory of the session's scratch root holding a symlink to
    * `d`/events.parquet (no copy). Returns the directory.
    */
  private[graft] def stageEventsDir(s: SparkSession, d: String): String =
    FrameMemo.layout(s, d, "eventsStage") { stage =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(stage, "events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet").toAbsolutePath)
    }

  /** The staged events table as an unbounded source. Its schema is the
    * one `Tables.table` resolved for the snapshot's `events.parquet` (the
    * stage's only file), so a replay starts no schema-inference job.
    */
  private def stagedEvents(s: SparkSession, d: String): DataFrame =
    EventsStreaming.eventsSource(s, stageEventsDir(s, d),
      graft.Tables.table(s, d, "events").schema, maxFilesPerTrigger = None)

  /** The sink path of a maintenance-sink query (q127's gold, q128's
    * fact): `kind` inside a fresh directory of the session's scratch
    * root, so every run rebuilds from zero and the sink's `.tmp`/`.old`
    * swap siblings stay inside that directory.
    */
  private def scratchDir(s: SparkSession, kind: String): String =
    s"${FrameMemo.freshDir(s, kind)}/$kind"

  /** Micro-batch count for the q209 late-data replay. */
  private[graft] val LateBatches = 4

  /** K-file split of the events table for the q209/q215 late-data
    * replay, written under a fresh directory of the session's scratch
    * root: file `b<i>.parquet` holds rows with event_id % K == i (a
    * deterministic, ts-INTERLEAVED split — every batch spans the full
    * time range, so once batch 0 has advanced the watermark near
    * max(ts) − delay, batches 1..K−1 arrive mostly late: the worst-case
    * replay the audit quantifies). Mtimes are pinned to i minutes past
    * epoch so FileStreamSource (oldest-first) processes file i as
    * micro-batch i, deterministically. Returns the directory.
    */
  private[graft] def stageSplitEventsDir(s: SparkSession, d: String): String =
    FrameMemo.layout(s, d, "lateSplitEvents") { stage =>
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val ev = graft.Tables.events(s, d)
      (0 until LateBatches).foreach { i =>
        val part = Paths.get(stage, s"part$i")
        val batch = Paths.get(stage, s"b$i.parquet")
        ev.filter(pmod(col("event_id"), lit(LateBatches.toLong)) === i)
          .coalesce(1).write.parquet(part.toString)
        val listing = Files.list(part)
        val file =
          try listing.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no parquet part in $part"))
          finally listing.close()
        Files.move(file, batch)
        new scala.reflect.io.Directory(part.toFile).deleteRecursively()
        // q209/q215 number engine batches by zipWithIndex over NON-EMPTY
        // progress entries while their oracles number by event_id % K
        // residue — an empty residue class would silently shift the two
        // numberings (and the watermark recurrence) apart and the hash
        // gate would break confusingly downstream. Make the implicit
        // every-class-populated assumption a loud stage-time failure.
        require(s.read.parquet(batch.toString).limit(1).count() > 0,
          s"late-replay split b$i is empty: event_id residues mod $LateBatches " +
            "must all be populated or batch numbering diverges from the oracle")
        Files.setLastModifiedTime(batch,
          java.nio.file.attribute.FileTime.fromMillis(60000L * i))
      }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q209: watermark LATE-DATA QUANTIFICATION — the ops-side
    // observability every production streaming pipeline runs: how many
    // rows arrived past the watermark and were dropped, per micro-batch.
    // The events table replays as LateBatches ts-interleaved files
    // (worst-case lateness by construction) through the q116 windowed
    // aggregation (1h windows, 2h watermark), and the report rows come
    // from the ENGINE'S OWN counters (StreamingQueryProgress:
    // numInputRows, numRowsDroppedByWatermark, the effective
    // watermark) — a ≤LateBatches-row driver-side build, the one place
    // the metrics live. Oracle: the full watermark recurrence replayed
    // in SQL, including Spark's TWO-watermark semantic (3.4+,
    // SPARK-40925): the reported/eviction wm for batch i derives from
    // batches < i (max ts − 2h, initial 0), but LATE-ROW FILTERING
    // uses the PREVIOUS batch's wm (watermarkForLateEvents — batches
    // < i−1), so a row drops iff its WINDOW END ≤ wm(i−1); the
    // ≤-not-< boundary (window end exactly equal to the filter wm is
    // dropped) is pinned in LateAuditSpec on an exact-boundary event.
    // And the counter's UNIT: numRowsDroppedByWatermark counts rows at
    // the STATE OPERATOR's input — i.e. the map-side-combined PARTIAL
    // rows, one per late (window, event_type) CELL per input split —
    // not raw events. Batch files are single-split at the oracle SFs
    // (far below maxPartitionBytes), so the oracle counts DISTINCT late cells.
    // wm_ms is the engine-reported millisecond-floored watermark. So
    // the oracle proves the engine's observability counters — not a
    // re-derivation — match the documented drop semantics exactly.
    "q209_stream_late_audit" -> ((s, d) => {
      import s.implicits._
      val stage = stageSplitEventsDir(s, d)
      val stream = EventsStreaming.readEvents(s, stage, maxFilesPerTrigger = Some(1))
      val (_, progress) = EventsStreaming.runWithProgress(s,
        EventsStreaming.hourlyCounts(stream), "q209_stream_late_audit",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      val rows = progress.filter(_.numInputRows > 0).zipWithIndex.map {
        case (p, i) =>
          val wmMs = java.time.Instant.parse(p.eventTime.get("watermark"))
            .toEpochMilli
          (i, p.numInputRows, p.stateOperators.head.numRowsDroppedByWatermark,
            wmMs)
      }
      rows.toDF("batch", "n_input", "n_late_dropped", "wm_ms")
        .orderBy("batch")
    }),

    // q168's count-min sketch maintained ON INGEST — the streaming skew
    // sentinel: every event updates D counter cells keyed by its
    // user_id (a narrow per-row expansion into a 256-key stateful
    // aggregate — bounded state REGARDLESS of key cardinality, which is
    // the whole point: a plain streaming groupBy(user_id) grows state
    // with distinct users; the sketch never does). Complete mode on the
    // bounded replay makes the final state the batch sketch exactly;
    // the probe then scores the exact top-10 users against the STREAMED
    // matrix — estimate ≥ exact survives the stream because counter
    // merges are additive (the mergeable-sketch law, q168's spec).
    "q172_stream_hotkey_cms" -> ((s, d) => {
      import graft.ops.CountMin
      val stream = stagedEvents(s, d)
      val probes = stream.select(
        posexplode(array((0 until CountMin.D).map(r =>
          CountMin.bucket(col("user_id").cast("string"), lit(r))): _*))
          .as(Seq("r", "c")))
      val matrix = EventsStreaming.runToMemory(s,
        probes.groupBy("r", "c").agg(count(lit(1)).as("v")),
        "q172_stream_hotkey_cms", OutputMode.Complete,
        statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      val events = graft.Tables.events(s, d)
      val exact = events.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
      val pos = exact.select(col("user_id"), col("exact_n"),
        posexplode(array((0 until CountMin.D).map(r =>
          CountMin.bucket(col("user_id").cast("string"), lit(r))): _*))
          .as(Seq("r", "c")))
      pos.join(broadcast(matrix), Seq("r", "c"))
        .groupBy("user_id", "exact_n").agg(min(col("v")).as("cms_est"))
        .select(col("user_id"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overcount"))
        .orderBy(col("exact_n").desc, col("user_id"))
    }),

    // q215: state-store SIZE audit — q209's sibling (q209 quantifies
    // what the watermark DROPS; this quantifies what the state store
    // HOLDS): per micro-batch of the same deterministic 4-file replay,
    // the engine's own StateOperatorProgress counters — rows in state
    // after eviction (numRowsTotal), keys written this batch
    // (numRowsUpdated), keys evicted (numRowsRemoved). The oracle
    // replays the full state lifecycle in SQL: a (window, type) cell
    // is INSERTED by its first batch with a surviving (non-late) row,
    // UPDATED by every batch with surviving rows, and EVICTED at the
    // end of the first batch whose eviction watermark passes its
    // window end (late filter uses the LAGGED wm — q209's SPARK-40925
    // pin; eviction uses the CURRENT one). This is the capacity-
    // planning observability a production stateful pipeline runs, and
    // here it is hash-gated cross-engine, not just logged.
    "q215_stream_state_audit" -> ((s, d) => {
      import s.implicits._
      val stage = stageSplitEventsDir(s, d)
      val stream = EventsStreaming.readEvents(s, stage, maxFilesPerTrigger = Some(1))
      val (_, progress) = EventsStreaming.runWithProgress(s,
        EventsStreaming.hourlyCounts(stream), "q215_stream_state_audit",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      progress.filter(_.numInputRows > 0).zipWithIndex.map { case (p, i) =>
        val st = p.stateOperators.head
        (i, st.numRowsTotal, st.numRowsUpdated, st.numRowsRemoved)
      }.toSeq.toDF("batch", "n_state_total", "n_updated", "n_removed")
        .orderBy("batch")
    }),

    // q32 replayed through the streaming engine: same grouping, same
    // decimal-exact sum, but planned as an unbounded stateful
    // aggregation and driven to completion with Trigger.AvailableNow.
    // Complete output mode: on a bounded replay the final state IS the
    // batch answer (Append would withhold the windows the final
    // watermark hasn't sealed — that path, plus late-data drop and
    // state eviction, is exercised in StreamingSpec; here the contract
    // is exact oracle equality).
    "q116_stream_hourly_replay" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val replayed = EventsStreaming.runToMemory(s,
        EventsStreaming.hourlyCounts(stream), "q116_stream_hourly_replay",
        OutputMode.Complete, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      replayed.orderBy("hour", "event_type")
    }),

    // The same plan in APPEND mode: a window row is emitted exactly once,
    // when the watermark proves it can no longer change — and its state is
    // EVICTED. Where q116 checks the streaming engine reproduces the batch
    // aggregation (final state == batch answer), this checks the
    // watermark/eviction machinery itself: the emitted set must be
    // precisely the windows the final watermark seals. Spark's arithmetic
    // (EventTimeWatermarkExec truncates the max event time to MILLIS, then
    // StateStoreSaveExec evicts keys with window_end <= watermark): the
    // oracle reproduces it literally — W = floor_ms(max ts) - 2h,
    // emitted = hours with hour_end <= W. Late/unsealed windows (the last
    // ~3h of the table) stay in state and are withheld, so this answer is
    // a strict subset of q116's.
    "q119_stream_hourly_append" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val sealedWindows = EventsStreaming.runToMemory(s,
        EventsStreaming.hourlyCounts(stream), "q119_stream_hourly_append",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      sealedWindows.orderBy("hour", "event_type")
    }),

    // NATIVE session windows under streaming, Append mode: Spark merges
    // overlapping [ts, ts+gap) spans in the state store and emits a
    // session exactly once — when the watermark (1h) proves it can no
    // longer grow — then evicts its state. The emitted set must equal
    // batch q58's sessions restricted to session_end <= final watermark
    // (same millis-truncation arithmetic as q119). This is the
    // MERGING-state operator under the oracle gate (q119 covers
    // fixed-window state; sessions also merge windows).
    "q122_stream_sessions_append" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val sealedSessions = EventsStreaming.runToMemory(s,
        EventsStreaming.sessionWindows(stream), "q122_stream_sessions_append",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      sealedSessions.orderBy("user_id", "session_start")
    }),

    // Stream-STREAM interval join replayed bounded: clicks and purchases
    // are two watermarked filters of the same source, joined on user +
    // a 1h event-time interval. On a single-batch AvailableNow replay
    // every match emits (inner-join rows emit the batch they match;
    // the watermark only bounds buffered STATE), so the oracle is the
    // plain batch interval join — what the gate checks is that the
    // streaming join machinery (two stateful sides, interval-bounded
    // buffers) reproduces it bit-for-bit.
    "q123_stream_attribution_replay" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val joined = EventsStreaming.runToMemory(s,
        EventsStreaming.purchaseAttribution(stream),
        "q123_stream_attribution_replay",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      joined.orderBy("purchase_id", "click_id")
    }),

    // The CUSTOM arbitrary-state hook (flatMapGroupsWithState with
    // event-time timeout) under the gate: hand-rolled gap sessionization
    // holds every still-open run per user and emits a run only when the
    // watermark proves no event can extend it (end + gap <= watermark;
    // closes fire on the AvailableNow timeout batch). Oracle = q33's
    // islands derivation in exact epoch micros, restricted by the same
    // close predicate. q122 gates the BUILT-IN session operator; this
    // gates the user-defined state machine a feature-store pipeline
    // writes when the built-in semantics don't fit.
    "q124_stream_sessionize_custom" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val closed = EventsStreaming.runToMemory(s,
        EventsStreaming.sessionize(s, stream), "q124_stream_sessionize_custom",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      closed.orderBy("user_id", "start_micros")
    }),

    // foreachBatch STATELESS gold maintenance under the gate: the
    // micro-batch sink aggregates each batch and ADDs it into the
    // stored gold (decimal-exact additive merge, batch-id ledger for
    // at-least-once idempotence, crash-safe tmp→live swap), then the
    // query READS the produced table — so the oracle checks the whole
    // maintenance pipeline end-to-end, not a transform. Fresh scratch
    // dir per invocation: the rebuild IS the measured work.
    "q127_stream_gold_additive" -> ((s, d) => {
      val gold = scratchDir(s, "gold")
      val stream = stagedEvents(s, d)
      val ckpt = EventsStreaming.replayCheckpointDir("q127")
      // state-partition discipline (see withStatePartitions): the
      // foreachBatch batch aggregation + merge write run at 8, matching
      // the rest of the streaming family; results are key-exact
      EventsStreaming.withStatePartitions(s, 8) {
        val q = EventsStreaming.incrementalDailyGold(s, stream, gold, ckpt)
        try q.awaitTermination()
        finally ckpt.foreach(c => new scala.reflect.io.Directory(
          new java.io.File(c)).deleteRecursively())
        StreamingMetrics.record("q127_stream_gold_additive", q.recentProgress.toSeq)
      }
      s.read.parquet(gold)
        .select(col("day"), col("event_type"),
          col("revenue").cast("double").as("revenue"), col("n_events"))
        .orderBy("day", "event_type")
    }),

    // foreachBatch STATEFUL fact maintenance: Update-mode streaming
    // aggregation (state holds running totals) feeding the idempotent
    // key-replacing MERGE (StarOps.upsertFact) with the same crash-safe
    // swap — the streaming version of the reference's INSERT ... ON
    // CONFLICT loader. Oracle = the hourly totals the final fact must
    // converge to (q32's aggregation).
    "q128_stream_fact_upsert" -> ((s, d) => {
      val fact = scratchDir(s, "fact")
      val stream = stagedEvents(s, d)
      val ckpt = EventsStreaming.replayCheckpointDir("q128")
      // state-partition discipline (see withStatePartitions): the
      // Update-mode aggregation's state store otherwise inherits the
      // session's 64 batch shuffle partitions for ~24 hour keys — 64
      // per-batch store commits where 8 carry the same state
      EventsStreaming.withStatePartitions(s, 8) {
        val q = EventsStreaming.upsertHourlyFact(s, stream, fact, ckpt)
        try q.awaitTermination()
        finally ckpt.foreach(c => new scala.reflect.io.Directory(
          new java.io.File(c)).deleteRecursively())
        StreamingMetrics.record("q128_stream_fact_upsert", q.recentProgress.toSeq)
      }
      s.read.parquet(fact)
        .select(col("hour"), col("event_type"), col("n"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("hour", "event_type")
    }),

    // mapGroupsWithState (the SECOND custom-state hook — q124 gates
    // flatMapGroupsWithState): per-user running event counts in Update
    // mode; on a bounded replay the final update per user IS the total.
    "q129_stream_user_counts" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val counts = EventsStreaming.runToMemory(s,
        EventsStreaming.runningUserCounts(s, stream),
        "q129_stream_user_counts", OutputMode.Update, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      counts.orderBy("user_id")
    }),

    // Dedup-on-ingest (dropDuplicatesWithinWatermark): completes the
    // streaming family under the gate. The driver table has unique
    // event_ids, so the checked contract here is exact pass-through
    // (every row survives, none duplicated, values untouched) through
    // the watermark-bounded dedup state; the interesting cross-batch
    // re-ingest case (a replayed file dropped by state, a re-ingest
    // after the watermark window re-admitted) needs controlled
    // micro-batch fixtures and is pinned in StreamingSpec.
    "q130_stream_dedup_ingest" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val deduped = EventsStreaming.runToMemory(s,
        EventsStreaming.dedupEvents(stream), "q130_stream_dedup_ingest",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      deduped.orderBy("event_id")
    }),

    // Stream-STATIC enrichment: micro-batches of the event stream join
    // the bounded customer→region dim (no state store at all — the
    // static side's file listing is snapshotted at query start and the
    // join is planned per batch). Stateless, so the bounded replay must
    // equal the batch join verbatim.
    // LEFT OUTER stream-stream join: the subtle half of the streaming
    // join family. Matches emit eagerly (as in q123); an UNMATCHED
    // purchase emits null-extended only when the click-side watermark
    // passes its purchase time — the moment no future click can still
    // match (click_ts <= purchase_ts) — i.e. on state EXPIRY in the
    // final watermark batch. Oracle = batch left join where the null
    // rows are restricted to purchases the final watermark expired;
    // unmatched purchases in the last 2h stay withheld in state.
    "q126_stream_attribution_outer" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val joined = EventsStreaming.runToMemory(s,
        EventsStreaming.purchaseAttribution(stream, joinType = "left_outer"),
        "q126_stream_attribution_outer",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      joined.orderBy("purchase_id", "click_id")
    }),

    "q125_stream_enrich_replay" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val enriched = EventsStreaming.runToMemory(s,
        EventsStreaming.enrichWithRegion(s, stream, d),
        "q125_stream_enrich_replay",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      enriched.orderBy("event_id")
    }),

    // FULL OUTER stream-stream join — completes the streaming join-type
    // family (inner q123, left-outer q126). Matches emit eagerly; an
    // unmatched PURCHASE null-extends when its state expires (as q126);
    // an unmatched CLICK null-extends when the watermark passes
    // click_ts + 1h — the first moment no future purchase can satisfy
    // purchase_ts ∈ [click_ts, click_ts + 1h]. Clicks in the last 3h
    // (1h interval + 2h delay) stay withheld in state.
    "q143_stream_attribution_full" -> ((s, d) => {
      val stream = stagedEvents(s, d)
      val joined = EventsStreaming.runToMemory(s,
        EventsStreaming.purchaseAttribution(stream, joinType = "full_outer"),
        "q143_stream_attribution_full",
        OutputMode.Append, statePartitions = Some(EventsStreaming.ReplayStatePartitions))
      joined.orderBy("purchase_id", "click_id", "user_id")
    })
  )

  /** Same SQL as q32 — the point: the streaming engine must reproduce
    * the batch aggregation bit-for-bit on a bounded replay.
    */
  val oracleSql: Map[String, String] = Map(
    // q215: the state lifecycle replayed in SQL — eviction wm(i) from
    // batches < i, late-filter wm lagged one more (q209's pin); a cell
    // is in state after batch i iff it arrived (survived the late
    // filter) by batch i and its window end is still above the
    // eviction wm; removed(i) = cells crossing the eviction wm this
    // batch; updated(i) = cells with surviving rows this batch.
    "q215_stream_state_audit" ->
      s"""WITH e AS (
         |  SELECT event_id % $LateBatches AS b, ts, event_type FROM events
         |), mx AS (
         |  SELECT b, MAX(ts) AS mxts FROM e GROUP BY b
         |), wm AS MATERIALIZED (
         |  SELECT b,
         |         COALESCE(epoch_us(MAX(mxts) OVER (
         |             ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |           - 7200000000, 0) AS wm_evict,
         |         COALESCE(epoch_us(MAX(mxts) OVER (
         |             ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING))
         |           - 7200000000, 0) AS wm_late
         |  FROM mx
         |), cells AS MATERIALIZED (
         |  SELECT e.b, epoch_us(date_trunc('hour', e.ts)) + 3600000000 AS wend,
         |         e.event_type AS ty
         |  FROM e JOIN wm USING (b)
         |  WHERE epoch_us(date_trunc('hour', e.ts)) + 3600000000 > wm.wm_late
         |  GROUP BY 1, 2, 3
         |), first_arrival AS MATERIALIZED (
         |  SELECT wend, ty, MIN(b) AS b0 FROM cells GROUP BY 1, 2
         |), batches AS MATERIALIZED (
         |  SELECT b, wm_evict,
         |         LAG(wm_evict, 1, 0) OVER (ORDER BY b) AS wm_prev
         |  FROM wm
         |)
         |SELECT CAST(bt.b AS INTEGER) AS batch,
         |  CAST((SELECT COUNT(*) FROM first_arrival f
         |        WHERE f.b0 <= bt.b AND f.wend > bt.wm_evict) AS BIGINT)
         |    AS n_state_total,
         |  CAST((SELECT COUNT(*) FROM cells c WHERE c.b = bt.b) AS BIGINT)
         |    AS n_updated,
         |  CAST((SELECT COUNT(*) FROM first_arrival f
         |        WHERE f.b0 <= bt.b AND f.wend > bt.wm_prev
         |          AND f.wend <= bt.wm_evict) AS BIGINT) AS n_removed
         |FROM batches bt ORDER BY batch""".stripMargin,

    // q209: the watermark recurrence replayed in SQL. Reported/eviction
    // wm for batch i = max ts over batches < i minus the 2h delay
    // (initial 0 = epoch); LATE-ROW FILTERING uses the previous batch's
    // wm (SPARK-40925 watermarkForLateEvents: batches < i-1), so a row
    // drops iff its 1h-window END <= that lagged wm — counted as the
    // DISTINCT late (window, event_type) cells the state operator sees
    // (map-side-combined partials; batch files single-split at these
    // SFs); the reported wm_ms
    // is the engine's millisecond-floored progress value (positive
    // epochs, so // 1000 is the same floor).
    "q209_stream_late_audit" ->
      s"""WITH e AS (
         |  SELECT event_id % $LateBatches AS b, ts, event_type FROM events
         |), mx AS (
         |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_input, MAX(ts) AS mxts
         |  FROM e GROUP BY b
         |), wm AS (
         |  SELECT b, n_input,
         |         COALESCE(epoch_us(MAX(mxts) OVER (
         |             ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |           - 7200000000, 0) AS wm_us,
         |         COALESCE(epoch_us(MAX(mxts) OVER (
         |             ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING))
         |           - 7200000000, 0) AS wm_late_us
         |  FROM mx
         |), drops AS (
         |  SELECT e.b, CAST(COUNT(DISTINCT (date_trunc('hour', e.ts), e.event_type)) FILTER (
         |      WHERE epoch_us(date_trunc('hour', e.ts)) + 3600000000 <= w.wm_late_us
         |    ) AS BIGINT) AS n_late_dropped
         |  FROM e JOIN wm w USING (b)
         |  GROUP BY e.b
         |)
         |SELECT CAST(w.b AS INTEGER) AS batch, w.n_input,
         |       COALESCE(d.n_late_dropped, CAST(0 AS BIGINT)) AS n_late_dropped,
         |       w.wm_us // 1000 AS wm_ms
         |FROM wm w LEFT JOIN drops d USING (b)
         |ORDER BY batch""".stripMargin,

    // q172: the batch replay of the streamed sketch + the probe — the
    // whole chain is COUNT aggregates over md5-derived buckets, so the
    // oracle proves streamed-state ≡ batch-CMS ≡ SQL, the strongest
    // statement the mergeable-sketch family makes (q168's scaladoc).
    "q172_stream_hotkey_cms" ->
      s"""WITH h AS (
         |  SELECT user_id, CAST(s.r AS INTEGER) AS r,
         |         CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|' || s.r), 1, 8) AS UBIGINT) AS BIGINT)
         |           % ${graft.ops.CountMin.W} AS c
         |  FROM events, range(${graft.ops.CountMin.D}) s(r)
         |), cms AS MATERIALIZED (
         |  SELECT r, c, COUNT(*) AS v FROM h GROUP BY r, c
         |), exact AS (
         |  SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
         |  ORDER BY exact_n DESC, user_id LIMIT 10
         |), pos AS (
         |  SELECT e.user_id, e.exact_n, CAST(s.r AS INTEGER) AS r,
         |         CAST(CAST('0x' || substr(md5(CAST(e.user_id AS VARCHAR) || '|' || s.r), 1, 8) AS UBIGINT) AS BIGINT)
         |           % ${graft.ops.CountMin.W} AS c
         |  FROM exact e, range(${graft.ops.CountMin.D}) s(r)
         |)
         |SELECT p.user_id, p.exact_n, MIN(cms.v) AS cms_est,
         |       MIN(cms.v) - p.exact_n AS overcount
         |FROM pos p JOIN cms USING (r, c)
         |GROUP BY p.user_id, p.exact_n
         |ORDER BY exact_n DESC, user_id""".stripMargin,
    "q116_stream_hourly_replay" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    // q32's aggregation restricted to the windows the final watermark
    // seals. Spark truncates the max event time to millis before
    // subtracting the 2h delay (EventTimeWatermarkExec: micros/1000),
    // and Append-mode eviction emits keys with window_end <= watermark —
    // both reproduced here in integer micros so the boundary is
    // bit-identical, not approximately equal.
    "q119_stream_hourly_append" ->
      """WITH wm AS (
        |  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 7200000000 AS w_us
        |  FROM events
        |)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, wm
        |WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm.w_us
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    // q58's session derivation (same >= gap split on µs-truncated ts)
    // restricted to sessions the final 1h watermark seals:
    // session_end (= last event + 30min gap) <= floor_ms(max ts) - 1h.
    "q122_stream_sessions_append" ->
      """WITH wm AS (
        |  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 3600000000 AS w_us
        |  FROM events
        |), base AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events
        |), lagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM base
        |), ids AS (
        |  SELECT user_id, ts, value,
        |         SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM lagged
        |), sessions AS (
        |  SELECT user_id, MIN(ts) AS session_start,
        |         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM ids GROUP BY user_id, sid
        |)
        |SELECT user_id, session_start, session_end, n_events, total_value
        |FROM sessions, wm
        |WHERE epoch_us(session_end) <= wm.w_us
        |ORDER BY user_id, session_start""".stripMargin,

    // the batch interval join verbatim: a bounded single-batch replay
    // emits every matched pair (state eviction never fires before the
    // only batch completes), so streaming == batch exactly.
    "q123_stream_attribution_replay" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.user_id, p.ts AS purchase_ts, c.ts AS click_ts, p.value
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,

    // q33's gap-split islands (split at gap > 30 min, full-precision
    // micros) as (start, end, count) runs, restricted to runs the final
    // watermark closes: end + gap <= floor_ms(max ts) - 1h — the exact
    // close predicate of the state function (it compares micros built
    // from a millis watermark, hence the same truncation).
    "q124_stream_sessionize_custom" ->
      """WITH wm AS (
        |  SELECT ((epoch_us(MAX(ts)) // 1000) - 3600000) * 1000 AS w_us
        |  FROM events
        |), lagged AS (
        |  SELECT user_id, event_id, ts,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), ids AS (
        |  SELECT user_id, ts,
        |         SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM lagged
        |), runs AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |         epoch_us(MIN(ts)) AS start_micros,
        |         epoch_us(MAX(ts)) AS end_micros
        |  FROM ids GROUP BY user_id, sid
        |)
        |SELECT user_id, n_events, start_micros, end_micros
        |FROM runs, wm
        |WHERE end_micros + 1800000000 <= wm.w_us
        |ORDER BY user_id, start_micros""".stripMargin,

    // matched pairs emit unconditionally; null-extension only for
    // purchases whose state the final watermark expired. The watermark
    // here is NOT max(all events) - delay: each withWatermark node sits
    // on a FILTERED side and tracks only ITS max event time, and the
    // query-global watermark is the MIN across nodes (default
    // multipleWatermarkPolicy=min) — so W = floor_ms(min(max click ts,
    // max purchase ts)) - 2h, empirically pinned (a max-over-all-events
    // oracle over-expires by exactly the purchases between the two
    // watermarks). No click above W can satisfy click_ts <= purchase_ts
    // for a purchase at or below W.
    "q126_stream_attribution_outer" ->
      """WITH wm AS (
        |  SELECT LEAST(
        |    (SELECT (epoch_us(MAX(ts)) // 1000) * 1000
        |     FROM events WHERE event_type = 'click'),
        |    (SELECT (epoch_us(MAX(ts)) // 1000) * 1000
        |     FROM events WHERE event_type = 'purchase')) - 7200000000 AS w_us
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |), m AS (
        |  SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts,
        |         c.click_ts, p.value
        |  FROM p JOIN c ON c.c_user = p.user_id
        |   AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        |   AND c.click_ts <= p.purchase_ts
        |)
        |SELECT * FROM (
        |  SELECT * FROM m
        |  UNION ALL
        |  SELECT p.purchase_id, NULL AS click_id, p.user_id, p.purchase_ts,
        |         NULL AS click_ts, p.value
        |  FROM p, wm
        |  WHERE epoch_us(p.purchase_ts) <= wm.w_us
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
        |)
        |ORDER BY purchase_id, click_id""".stripMargin,

    // full outer = q126's matched + expired-unmatched-purchase rows PLUS
    // null-extended clicks whose state the final watermark expired: a
    // click can only match purchases in [click_ts, click_ts + 1h], so
    // eviction (and the one-time null emit) happens when click_ts + 1h
    // <= W, with the same min-across-nodes millis-truncated W as q126.
    "q143_stream_attribution_full" ->
      """WITH wm AS (
        |  SELECT LEAST(
        |    (SELECT (epoch_us(MAX(ts)) // 1000) * 1000
        |     FROM events WHERE event_type = 'click'),
        |    (SELECT (epoch_us(MAX(ts)) // 1000) * 1000
        |     FROM events WHERE event_type = 'purchase')) - 7200000000 AS w_us
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |), m AS (
        |  SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts,
        |         c.click_ts, p.value
        |  FROM p JOIN c ON c.c_user = p.user_id
        |   AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
        |   AND c.click_ts <= p.purchase_ts
        |)
        |SELECT * FROM (
        |  SELECT * FROM m
        |  UNION ALL
        |  SELECT p.purchase_id, NULL AS click_id, p.user_id, p.purchase_ts,
        |         NULL AS click_ts, p.value
        |  FROM p, wm
        |  WHERE epoch_us(p.purchase_ts) <= wm.w_us
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
        |  UNION ALL
        |  SELECT NULL AS purchase_id, c.click_id, c.c_user AS user_id,
        |         NULL AS purchase_ts, c.click_ts, NULL AS value
        |  FROM c, wm
        |  WHERE epoch_us(c.click_ts) + 3600000000 <= wm.w_us
        |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
        |)
        |ORDER BY purchase_id, click_id, user_id""".stripMargin,

    // the totals the maintained gold must converge to
    "q127_stream_gold_additive" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,

    // the totals the upserted fact must converge to (q32's aggregation)
    "q128_stream_fact_upsert" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    "q129_stream_user_counts" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // unique event_ids -> dedup-on-ingest must be an exact pass-through
    "q130_stream_dedup_ingest" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        |       value, props
        |FROM events ORDER BY event_id""".stripMargin,

    // the batch dim join verbatim (stateless enrichment)
    "q125_stream_enrich_replay" ->
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value, r.r_name AS region_name
        |FROM events e
        |JOIN customer c ON c.c_custkey = e.user_id
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |ORDER BY e.event_id""".stripMargin
  )
}
