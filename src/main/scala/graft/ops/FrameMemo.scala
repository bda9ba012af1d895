package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once memo for everything several registered queries would
  * otherwise each rebuild from scratch: materialized frames
  * (candidate-pair graphs, k-NN edge lists — q43/q68/q90/q93 all
  * consumed the same LSH bucket self-join; the r11 audit billed that
  * build 3× across one bench pass), driver-side values (the embedding
  * Gram, the trained WordPiece vocabulary, the decoded PQ model, a
  * passed broadcast-size guard) and derived on-disk layouts (bucketed,
  * partitioned and z-ordered tables, the streaming stage dirs).
  *
  * [[value]] memoizes any value per (session, dir, key); [[cached]] is
  * its frame case and ALWAYS returns a `localCheckpoint`ed
  * (materialized) frame, so consumers that iterate over it (connected
  * components, PageRank) never need their own defensive checkpoint;
  * [[layout]] is its on-disk case and returns the path of a directory
  * the build wrote under the session's scratch root.
  * Only dirs under the read-only testdata roots ([[ImmutableRoots]]) are
  * memoized: THE INPUT DIR IS AN IMMUTABLE SNAPSHOT. The guard enforces
  * that contract rather than assuming it: a test-scratch dir can be
  * rewritten between callers, and a memoized value would silently keep
  * serving the old bytes — so non-snapshot dirs build per call, uncached.
  *
  * Scratch root: every derived directory of a session lives under one
  * root per session ([[scratchRoot]]), created on first use by Spark's
  * temp-dir helper under the JVM temp dir and deleted when the JVM exits.
  * So no derived data outlives the process, and no run reads what an
  * earlier process wrote.
  *
  * Lifetime: entries live until the JVM exits — deliberate for the
  * bench/verify/test processes this serves (the artifact set is a
  * handful of named edge lists, layouts and KiB-scale driver values per
  * dir), and a stopped session's entries die with the same JVM. Each key
  * builds exactly once, in-flight builds included: `computeIfAbsent` only
  * creates the key's [[Entry]], and the build runs in the entry's lazy
  * val OUTSIDE any map lock, so a memoized build may itself call back
  * into the memo (knnGraphLsh builds on the memoized pair frame), and a
  * second caller of a key that is still building waits for that build
  * instead of starting its own.
  */
object FrameMemo {

  /** Dirs the driver guarantees immutable (TESTDATA.md: read-only). */
  private val ImmutableRoots = Seq("/root/testdata")

  /** Whether values built from `dir` are shared across callers. */
  private[graft] def memoizable(dir: String): Boolean =
    ImmutableRoots.exists(r => dir == r || dir.startsWith(r + "/"))

  /** One memoized value: the first reader of `value` runs the build,
    * concurrent readers block on the lazy val until it finishes. A build
    * that throws leaves `value` unset, and [[value]] drops the entry.
    */
  private final class Entry(build: => Any) {
    lazy val value: Any = build
  }

  /** The only `ConcurrentHashMap` field: perfbench's `Classify` finds
    * the memo map by that type.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()

  /** Per-thread stack of build-local scratch registries: each in-flight
    * `cached` build on this thread pushes a list; [[scratch]] registers
    * intermediates into the innermost one. A plain ThreadLocal suffices —
    * builds never migrate threads mid-closure (a build runs on the
    * thread that calls `cached`).
    */
  private val buildScratch =
    new ThreadLocal[java.util.ArrayDeque[java.util.ArrayList[DataFrame]]] {
      override def initialValue() = new java.util.ArrayDeque[java.util.ArrayList[DataFrame]]()
    }

  /** A BUILD-LOCAL intermediate checkpoint (the posting list a pair
    * build self-joins, a signature frame joined twice): materialized
    * now, and RELEASED as soon as the enclosing [[cached]] build's final
    * artifact is itself materialized — at that point the artifact's
    * lineage is cut, so nothing can ever read the intermediate again.
    * Without this, every build's nested checkpoints stayed block-store
    * resident for the session (r19 ADVICE).
    * Outside any `cached` build this is a plain localCheckpoint and the
    * caller manages the lifetime (registered queries that call builder
    * functions directly keep their semantics).
    */
  def scratch(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    val stack = buildScratch.get()
    if (!stack.isEmpty) stack.peek().add(c)
    c
  }

  /** Materialize `build`'s result, releasing every [[scratch]]
    * intermediate the build registered — on success AND on failure (a
    * throwing build must not leak its partial chain).
    */
  private def materializeReleasingScratch(build: => DataFrame): DataFrame = {
    val frames = new java.util.ArrayList[DataFrame]()
    val stack = buildScratch.get()
    stack.push(frames)
    try build.localCheckpoint()
    finally {
      stack.pop()
      frames.forEach(f =>
        org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(f))
    }
  }

  /** `build`'s result, built once per (session, dir, key) on a snapshot
    * dir and on every call elsewhere. A build that throws is not kept:
    * the next call builds again. Keys are shared with [[cached]].
    */
  def value[T](s: SparkSession, dir: String, key: String)(build: => T): T =
    if (!memoizable(dir)) build else memoized((s, s"$dir|$key"), build)

  private val ScratchRootKey = "<scratch-root>"

  private def memoized[T](k: (SparkSession, String), build: => T): T = {
    val e = memo.computeIfAbsent(k, _ => new Entry(build))
    try e.value.asInstanceOf[T]
    catch { case t: Throwable => memo.remove(k, e); throw t }
  }

  /** The session's scratch root: one directory per session, made on first
    * use under the JVM temp dir and deleted at JVM exit. Its memo key is
    * `(s, ScratchRootKey)`, so releasing a session's entries releases it
    * too.
    */
  private[graft] def scratchRoot(s: SparkSession): String =
    memoized((s, ScratchRootKey),
      org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-session"))

  /** A new, empty directory `name-<random suffix>` under the session's
    * scratch root.
    */
  def freshDir(s: SparkSession, name: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchRoot(s)), s"$name-").toString

  /** A derived on-disk layout of `dir`: `write` fills a fresh directory
    * under the session's scratch root, and its path is the memoized
    * value. A write that throws is not kept, so a half-built layout is
    * never served: the next call writes a new directory.
    */
  def layout(s: SparkSession, dir: String, key: String)(write: String => Unit): String =
    value(s, dir, key) { val p = freshDir(s, key); write(p); p }

  def cached(s: SparkSession, dir: String, key: String)
            (build: => DataFrame): DataFrame =
    value(s, dir, key)(materializeReleasingScratch(build))

  /** Worker threads [[prebuild]] runs the artifact list on. Builds wait
    * on the driver far more than they use CPU, so one thread serializes
    * them: at sf0.1 on 4 cores, 1 worker took 80–93 s, 4 or 8 workers
    * 46–50 s. Of the two that tie, 4 keeps half as many builds in flight.
    */
  private[graft] val PrebuildWorkers = 4

  /** Run `tasks` on `workers` fresh threads named `name-<i>`, each taking
    * the next task in list order, and return every task's outcome in list
    * order. Every thread is joined before this returns, so no task — and
    * no Spark job a task started — outlives the call. The threads inherit
    * the caller's Spark local properties (job group, scheduler pool).
    */
  private def runConcurrently[A](name: String, workers: Int, tasks: Seq[() => A])
      : Seq[Either[Throwable, A]] = {
    val done = new Array[Either[Throwable, A]](tasks.size)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Seq.tabulate(math.min(workers, tasks.size)) { w =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < tasks.size) {
          done(i) = try Right(tasks(i)()) catch { case t: Throwable => Left(t) }
          i = next.getAndIncrement()
        }
      }, s"$name-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    done.toSeq
  }

  /** Every task's result in list order, each task on its own thread. If
    * any task throws, the first failed task's own exception is rethrown
    * (later failures attached as suppressed) once every task has ended.
    */
  def inParallel[A](name: String)(tasks: (() => A)*): Seq[A] = {
    val out = runConcurrently(name, tasks.size, tasks)
    out.collect { case Left(t) => t } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => out.collect { case Right(a) => a }
    }
  }

  /** Build every `(name, builder)` of `artifacts` against (`spark`, `dir`)
    * on [[PrebuildWorkers]] threads, each taking the next entry in list
    * order. A builder that reads another memo just calls it: the memo's
    * build-once entry makes it wait for a worker already building it.
    * Returns every entry's wall seconds in list order — from the moment
    * a worker takes it until its builder returns, so time spent waiting
    * on another worker's dependency counts — or, if any builder threw,
    * each failed name with its cause. Every worker is joined before this
    * returns, so no build job outlives the call. A dir the memo would not
    * retain builds nothing: `Right(Seq.empty)`.
    */
  def prebuild(spark: SparkSession, dir: String,
               artifacts: Seq[(String, (SparkSession, String) => Any)])
      : Either[Seq[(String, Throwable)], Seq[(String, Double)]] =
    if (!memoizable(dir)) Right(Seq.empty)
    else {
      val done = runConcurrently("frame-memo-prebuild", PrebuildWorkers,
        artifacts.map { case (name, build) => () =>
          val t0 = System.nanoTime()
          build(spark, dir)
          name -> (System.nanoTime() - t0) / 1e9
        })
      val failed = artifacts.zip(done).collect { case ((name, _), Left(t)) => name -> t }
      if (failed.nonEmpty) Left(failed) else Right(done.collect { case Right(t) => t })
    }
}
