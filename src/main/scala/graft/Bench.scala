package graft
import org.apache.spark.sql.SparkSession
import graft.ops.{FrameMemo}

/** Benchmark main: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout. Methodology: deterministic (sorted) query
  * order and median of 3 timed runs per query — a single-shot,
  * map-iteration-ordered harness cannot distinguish a real regression
  * from JIT/page-cache noise (identical-plan queries were swinging 5x
  * between rounds with zero code change).
  *
  * The timed action is a noop-format sink write, NOT `.count()`:
  * `count()` lets Catalyst prune every column and delete the projection
  * expressions and final sort of any select+orderBy query, so the
  * per-row work several queries exist to measure (text stats, langid,
  * fingerprints, JSON parse) was billed at parquet-scan cost. The noop
  * sink consumes every row of the registered plan (all columns
  * evaluated, order preserved through the sort) and discards it —
  * measured plan = registered plan. METHODOLOGY BREAK vs rounds ≤4:
  * totals are not comparable with BENCH_r04 and earlier; expression-
  * heavy queries report honestly higher times from round 5 on.
  *
  * Cross-SESSION variance caveat (r8→r9 investigation): median-of-3
  * absorbs within-session noise but not machine-level contention across
  * whole bench invocations — the r8 round file read q36–q44 at 1.5–2.8x
  * and q93/q108 at ~2.4–4.6x their steady-state times with zero code
  * change, and two full 111-query sessions the next round reproduced
  * none of it (same code, r7-level times). Treat a cross-round delta as
  * real only when it survives a re-run in a quiet session; within-run
  * ordering effects are already controlled (sorted order, untimed
  * warmup, inter-query GC).
  */
object Bench {

  /** Noop-format sink: consumes every row of the registered plan (all
    * columns evaluated, order preserved through the sort) and discards
    * it — measured plan = registered plan.
    */
  def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cached-block residency snapshot: (cached RDD count, MiB held across
    * memory+disk). Emitted before and after the timed loop: the r13
    * driver bench read 193 s where the quiet-session protocol read 97 s,
    * and without residency evidence a retention regression (q118's
    * unreleased checkpoints) is indistinguishable from machine
    * contention. With it: a fat `post` = the engine is hoarding blocks
    * (fix the operator); a lean `post` on a slow round = the machine was
    * busy (re-bench quiet).
    */
  def blockResidency(spark: SparkSession): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum >> 20)
  }

  /** Per-run timings per query (EXECUTION order, not sorted — the r16/r17
    * verdicts could not adjudicate whether the driver's inflated
    * gram-block medians were uniformly-slow runs (machine contention) or
    * bimodal (a first-run artifact) because only medians were committed;
    * raw per-run arrays in BENCH_DETAIL make that decidable). Queries
    * sorted by name. A throwing query must NOT be billed as a
    * (near-zero) time — that would make the bench total IMPROVE when a
    * regression breaks a query — so a failure is a `Left(exception
    * class)` for that query, never a swallowed fast run; the exception
    * itself goes to stderr. Pinned by BenchHarnessSpec.
    */
  def timeQueries(spark: SparkSession, sfDir: String,
                  queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                  runs: Int): Seq[(String, Either[String, Seq[Double]])] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // checkpoint/broadcast blocks from the previous query are only
      // released after a DRIVER GC triggers ContextCleaner; on a large
      // heap that may never happen mid-run, so later queries pay their
      // predecessors' block-store residency. Collect between queries —
      // outside any timed region — so each query starts clean.
      System.gc()
      var err: Option[String] = None
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        if (err.isEmpty)
          try exec(fn(spark, sfDir))
          catch {
            case t: Throwable =>
              System.err.println(s"[bench] $name failed: $t")
              err = Some(t.getClass.getSimpleName)
          }
        (System.nanoTime() - t0) / 1e9
      }
      name -> err.toLeft(times)
    }

  /** Median of the raw run array — the single number the stdout line and
    * cross-round comparisons use.
    */
  private[graft] def median(times: Seq[Double]): Double = {
    val s = times.sorted
    s(s.length / 2)
  }

  /** (1-min, 5-min) system load average from /proc/loadavg — the r18
    * verdict's "measured, not inferred" machine-busyness evidence:
    * three rounds of driver-vs-quiet bench disputes (q174 8 s vs 1 s
    * with identical code) were only adjudicable from per-run arrays and
    * plausibility arguments; a load sample before and after the timed
    * loop makes a contended session self-identifying in the committed
    * evidence. None on non-Linux / unreadable proc (bench still runs).
    */
  private[graft] def loadAvg(): Option[(Double, Double)] =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.US_ASCII).split("\\s+")
      Some((parts(0).toDouble, parts(1).toDouble))
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // clamp: 0/negative would leave `times` empty and the median index out of bounds
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // focused re-runs for plan iteration: a comma-separated list of
    // query names or qNN stems (SparkEntry.select). Round evidence is
    // always the full registry ("nq" on the line records the size).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val timedSet = only.fold(SparkEntry.queries)(SparkEntry.select)
    // a filter that selects nothing is a typo, and timing zero queries
    // would silently write an empty .subset detail file — fail loudly,
    // before the session and the shared build are paid for
    if (only.isDefined && timedSet.isEmpty) {
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY=" +
        s"${only.get.mkString(",")} selected no queries; " +
        "names must match a full query name or its qNN stem")
      sys.exit(2)
    }
    val spark = LocalSession.create()
    // tiny untimed SESSION-INIT warmup BEFORE the build window (r20
    // ADVICE low): since the q16 warmup moved after the build (r19 #4),
    // shared_build_sec absorbed first-job costs that are session init —
    // scheduler spin-up, parquet reader, shuffle machinery, codegen
    // plumbing — not artifact-build work, which skewed cross-round build
    // comparisons. One small scan+shuffle here pays that once, outside
    // both the build window and every timed region. The q16 warmup after
    // the build keeps its original job (absorb the build's tail).
    try exec(spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_regionkey").count())
    catch { case _: Throwable => () }
    // shared-artifact pre-build, timed and reported SEPARATELY: the
    // SparkEntry.sharedArtifacts frames (LSH pairs, both k-NN graphs,
    // jaccard/minhash pair graphs, gram postings) are built once and read
    // by many queries, so inside the per-query loop the one run that
    // builds is discarded by the median — without this line the build
    // cost would be billed to no query at all. On a dir the memo does
    // not retain, prebuild builds nothing (every consumer rebuilds per
    // run anyway, and pre-paying would bill the same work twice), so
    // shared_build is 0. A FAILED build reports its own marker rather
    // than folding partial time into the total: the memo is unpopulated
    // and every consumer rebuilds per run (billed in their own medians).
    // prebuild joins its workers before returning, so no build job
    // overlaps the timed loop. A BENCH_ONLY subset skips it: the subset
    // reads a few of the artifacts, its first run builds them, and the
    // median of its runs discards that run.
    val tB = System.nanoTime()
    val (sharedBuildSec, sharedBuildFailed, artifactSecs) =
      if (only.isDefined) {
        System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY: shared_build skipped; " +
          "each query's first run builds the artifacts it reads")
        (0.0, false, Seq.empty[(String, Double)])
      } else FrameMemo.prebuild(spark, sfDir, SparkEntry.sharedArtifacts) match {
        case Right(secs) if secs.isEmpty => (0.0, false, secs)
        case Right(secs) => ((System.nanoTime() - tB) / 1e9, false, secs)
        case Left(failed) =>
          System.err.println("[bench] shared_build FAILED artifacts: " +
            failed.map { case (name, t) => s"$name: $t" }.mkString(", "))
          (0.0, true, Seq.empty[(String, Double)])
      }
    // untimed warmup AFTER the shared build (r19 verdict #4): it used to
    // run first, so the first timed queries (q01/q02 in sorted order)
    // inherited whatever residual IO/JIT tail the build left — the
    // driver's q02 showed monotonically decreasing [9.54, 7.23, 3.56] run
    // arrays from exactly this adjacency. Placed here it absorbs both
    // session init AND the build's tail before anything is timed.
    try SparkEntry.queries.get("q16_dim_region").foreach(fn => exec(fn(spark, sfDir)))
    catch { case _: Throwable => () }
    val loadPre = loadAvg()
    val residPre = blockResidency(spark)
    val results = timeQueries(spark, sfDir, timedSet, runs)
    val residPost = blockResidency(spark)
    val loadPost = loadAvg()
    // a BENCH_ONLY subset run writes its detail to a SIDE file:
    // BENCH_DETAIL.json is committed round evidence covering the full
    // registry (RegistryDocsSpec pins it), and a focused iteration run
    // must never clobber it with a partial map
    val detailPath = if (only.isEmpty) DetailFile else DetailFile + ".subset"
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      renderDetail(results, sfDir, runs, sharedBuildSec,
        loadPre, loadPost, spark.conf.get("spark.sql.shuffle.partitions").toInt,
        artifactSecs, streaming.StreamingMetrics.snapshot)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(renderLine(results, sfDir, runs, sharedBuildSec, sharedBuildFailed,
      Some((residPre, residPost)), (loadPre, loadPost),
      artifactSecs.sortBy(-_._2).headOption.map(_._1)))
    spark.stop()
    val failed = results.collect { case (k, Left(_)) => k }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** One JSON result line. The harness that captures stdout keeps only
    * the LAST ~2000 characters (including sbt's trailing "[success] ..."
    * lines), so an over-long line is unparseable forever — BENCH_r05–r07
    * all show "parsed": null from exactly this. Per-query keys are the
    * unique qNN prefix (full names in QUERIES.md), times rounded to
    * deciseconds below 10 s / whole seconds above (run-to-run noise is
    * ~30%, so finer digits are noise);
    * BenchHarnessSpec asserts the line for the FULL registered surface
    * stays under budget, so adding queries past the window fails the
    * build instead of silently zeroing the round's bench evidence.
    */
  def renderLine(results: Seq[(String, Either[String, Seq[Double]])],
                 sfDir: String, runs: Int,
                 sharedBuildSec: Double = 0.0,
                 sharedBuildFailed: Boolean = false,
                 residency: Option[((Int, Long), (Int, Long))] = None,
                 load: (Option[(Double, Double)], Option[(Double, Double)]) = (None, None),
                 slowestArtifact: Option[String] = None): String = {
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
    // DECISECONDS below 10 s, WHOLE seconds above: run-to-run noise is
    // ~30%, so finer digits were pure noise that cost line width × every
    // registered key — and the worst-case width model (every key at max
    // width) must keep the whole line inside the capture window. This
    // caps any per-query time at 3 chars ("9.9" / "999"; a query beyond
    // ~17 min can't happen, the whole run is ~5 min). The r15 line hit
    // 1801 chars at 155 queries with 2dp; this buys ~150 chars of
    // headroom for the registry to keep growing. The 9.95 split point
    // keeps the rounding itself from widening ("9.96" must not print
    // "10.0").
    def ms(v: Double): String = String.format(java.util.Locale.ROOT,
      if (v >= 9.95) "%.0f" else "%.1f", java.lang.Double.valueOf(v))
    // "q112_dedup_segments" -> "112": the q is constant information and
    // one char per key is real budget (full names in QUERIES.md)
    val shortKeys = results.map { case (k, _) =>
      k -> k.takeWhile(_ != '_').stripPrefix("q").dropWhile(_ == '0')
    }.toMap
    val short = if (shortKeys.values.toSet.size == shortKeys.size) shortKeys
                else shortKeys.keys.map(k => k -> k).toMap // collision: keep full names
    // failures must not blow the window either: a failed query appears
    // ONLY as its short key in errors (timeQueries prints the exception
    // to stderr), successes only in queries — so every success/failure mix
    // renders shorter than the all-success line the spec budgets
    // TOP-[[Shown]] SLOWEST only on the line (registry growth outran
    // the capture window at ~186 queries even with every byte-trim —
    // 10.7 bytes/query × N has to lose to a fixed ~2000-char window
    // eventually): the slowest lines are the ones the per-round plan
    // audit reads, the total still covers EVERY query, "nq" records
    // the full registry size, and the complete per-query map is
    // written to BENCH_DETAIL.json in the repo (committed evidence).
    val successes = results.collect { case (k, Right(ts)) => k -> median(ts) }
    val shown = successes.sortBy { case (k, v) => (-v, k) }.take(Shown)
      .sortBy(_._1)
    val qs = shown.map { case (k, v) => "\"" + short(k) + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, Left(_)) => k }
    val total = successes.map(_._2).sum
    // failures are never truncated silently: the first Shown keys are
    // named, the rest counted — a regression round must still fit
    val errJson =
      if (failed.isEmpty) ""   // the empty array was 12 budgeted bytes
      else failed.take(Shown).map("\"" + short(_) + "\"")
        .mkString(""","errors":[""", ",", "]") +
        (if (failed.size > Shown) s""","errx":${failed.size - Shown}""" else "")
    // every byte of the note is budgeted: the registry keeps growing
    // (~10 chars/query) and this line must stay inside the harness's
    // tail-capture window — semantics documented in QUERIES.md/README
    // (noop-sink action, median-of-runs, qNN keys, total incl build);
    // the ";qNN" tag was dropped at 178 queries for line budget
    val note = "m" + runs +
      (if (sharedBuildFailed) ";shared_build FAILED" else "")
    // shared_build is INSIDE the total (steady-state medians + one
    // amortized build = what a full pass actually costs) and also broken
    // out so a build regression is visible on its own
    val totalAll = total + sharedBuildSec
    // "sba" = slowest build artifact's name (budgeted in
    // BenchHarnessSpec): the one-word answer to "which artifact stalled
    // this session's build window" — per-artifact seconds in BENCH_DETAIL
    val buildJson =
      if (sharedBuildFailed) ""","shared_build_error":true"""
      else if (sharedBuildSec > 0)
        s""","shared_build":${ms(sharedBuildSec)}""" +
          slowestArtifact.fold("")(n => s""","sba":"$n"""")
      else ""
    // block-store residency [cachedRDDs, MiB] before/after the timed
    // loop — ~36 chars, budgeted in BenchHarnessSpec's width model
    val residJson = residency.map { case ((n0, m0), (n1, m1)) =>
      s""","blk":[[$n0,$m0],[$n1,$m1]]"""
    }.getOrElse("")
    // 1-min loadavg sampled before/after the timed loop (~19 chars,
    // budgeted in BenchHarnessSpec) — the machine-busyness evidence that
    // turns a "driver session read 3-8x slower" dispute into a one-line
    // diagnosis. Full (1m, 5m) pairs go to BENCH_DETAIL.
    val loadJson = (load._1, load._2) match {
      case (Some((a, _)), Some((b, _))) =>
        s""","load":[${ms(a)},${ms(b)}]"""
      case _ => ""
    }
    s"""{"metric":"total","value":${ms(totalAll)},"unit":"sec","nq":${results.size},"queries":$qs$buildJson$residJson$loadJson$errJson,"sf":"${sfDir.split('/').last}","note":"$note"}"""
  }

  /** Per-query entries kept on the stdout line (slowest first by time);
    * the full map goes to [[DetailFile]].
    */
  private[graft] val Shown = 40

  /** Committed-evidence companion to the budget-capped stdout line:
    * the COMPLETE per-query median map + errors, one pretty-printed
    * JSON doc. Written by `main` next to the repo root.
    */
  private[graft] val DetailFile = "BENCH_DETAIL.json"

  /** Minimal JSON string escaper (quote, backslash, every control char
    * below 0x20) for the detail file and Verify's `oracle_sql.json`.
    * timeQueries only stores `getClass.getSimpleName` today, but
    * renderDetail must stay valid JSON if a future change routes
    * exception MESSAGES (quotes, backslashes, newlines) through the
    * error channel.
    */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => "\\u%04x".format(c.toInt)
      case c             => c.toString
    }

  private[graft] def renderDetail(results: Seq[(String, Either[String, Seq[Double]])],
                                  sfDir: String, runs: Int,
                                  sharedBuildSec: Double,
                                  loadPre: Option[(Double, Double)] = None,
                                  loadPost: Option[(Double, Double)] = None,
                                  shufflePartitions: Int = 0,
                                  artifactSecs: Seq[(String, Double)] = Seq.empty,
                                  streamingRuns: Map[String, streaming.StreamingMetrics.Run] = Map.empty): String = {
    def ms(v: Double): String = String.format(java.util.Locale.ROOT,
      "%.2f", java.lang.Double.valueOf(v))
    // runs_sec is the RAW array in execution order (median derived) —
    // the committed evidence that distinguishes "all three runs slow"
    // (contended session) from "first run slow, rest quiet" (warmup /
    // first-touch artifact) without needing a replay session
    val qs = results.collect { case (k, Right(ts)) =>
      s"""    "$k": {"median_sec": ${ms(median(ts))}, "runs_sec": [${ts.map(ms).mkString(", ")}]}""" }
      .mkString(",\n")
    val errs = results.collect { case (k, Left(e)) =>
      s"""    "$k": "${jsonEscape(e)}"""" }.mkString(",\n")
    // loadavg (1m, 5m) before/after the timed loop: null when
    // unavailable. A post-loop 5-min load far above ~the wave width
    // tells the reader THIS session's medians carry machine contention,
    // without a replay session (the r16-r18 adjudication gap).
    def loadJson(l: Option[(Double, Double)]): String =
      l.map { case (a, b) => s"[${ms(a)}, ${ms(b)}]" }.getOrElse("null")
    // per-artifact wall seconds: from when a prebuild worker takes the
    // artifact until its frame is materialized, INCLUDING any wait on a
    // dependency another worker is building. Artifacts build
    // FrameMemo.PrebuildWorkers at a time, so these attribute WHERE a
    // slow build window went — they do not sum to shared_build_sec.
    val artifactsJson = artifactSecs
      .map { case (n, t) => s""""${jsonEscape(n)}": ${ms(t)}""" }
      .mkString("{", ", ", "}")
    // the streaming family's engine counters from each query's LAST
    // replay: a slow streaming line with a normal batch count and
    // commit time is host IO/scheduling (the session-random jitter
    // victim pattern), proven from this file alone; an abnormal count
    // names the engine-side cause. trigger_ms is what the engine itself
    // billed to batch execution — the gap to the run time is harness
    // start/stop cost.
    val streamingJson = streamingRuns.toSeq.sortBy(_._1).map { case (k, r) =>
      s"""    "$k": {"batches": ${r.batches}, "input_rows": ${r.inputRows}, """ +
        s""""state_commit_ms": ${r.stateCommitMs}, """ +
        s""""state_update_ms": ${r.stateUpdateMs}, "trigger_ms": ${r.triggerMs}}"""
    }.mkString(",\n")
    s"""{
       |  "sf": "${sfDir.split('/').last}",
       |  "runs": $runs,
       |  "shared_build_sec": ${ms(sharedBuildSec)},
       |  "shared_build_artifacts": $artifactsJson,
       |  "loadavg_pre": ${loadJson(loadPre)},
       |  "loadavg_post": ${loadJson(loadPost)},
       |  "shuffle_partitions": $shufflePartitions,
       |  "streaming": {
       |$streamingJson
       |  },
       |  "queries": {
       |$qs
       |  },
       |  "errors": {
       |$errs
       |  }
       |}""".stripMargin
  }
}
