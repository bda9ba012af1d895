package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once materialization for expensive frames shared across
  * registered queries: candidate-pair graphs, k-NN edge lists — anything
  * several queries would otherwise each rebuild from scratch
  * (q43/q68/q90/q93 all consumed the same LSH bucket self-join; the r11
  * audit billed that build 3× across one bench pass).
  *
  * `cached` ALWAYS returns a `localCheckpoint`ed (materialized) frame, so
  * consumers that iterate over it (connected components, PageRank) never
  * need their own defensive checkpoint. For dirs under the driver's
  * read-only testdata roots the materialized frame is also memoized per
  * (session, dir, key) and shared by every later caller. At 100 TB the
  * equivalent is a stored edge-list/manifest table built once per corpus
  * snapshot (the DataSkipping layout-build contract) — this is the
  * in-session analog, and both rest on the same contract: THE INPUT DIR
  * IS AN IMMUTABLE SNAPSHOT. The guard enforces that contract rather
  * than assuming it: a test-scratch dir can be rewritten between
  * callers, and a memoized checkpoint would silently keep serving the
  * old bytes — so non-immutable dirs materialize per call, uncached.
  *
  * Lifetime: entries live until the JVM exits — deliberate for the
  * bench/verify/test processes this serves (the artifact set is a
  * handful of named edge lists per dir, block-store-small), and a
  * stopped session's entries die with the same JVM. The build runs
  * OUTSIDE any map lock (get → build → putIfAbsent), so a memoized
  * build may itself call back into `cached` (knnGraphLsh builds on the
  * memoized pair frame) — `computeIfAbsent` would forbid that reentrancy
  * ("recursive update"); the put-if-absent race merely risks a rare
  * duplicate build, never a wrong result.
  */
object FrameMemo {

  /** Dirs the driver guarantees immutable (TESTDATA.md: read-only). */
  private val ImmutableRoots = Seq("/root/testdata")

  /** Whether frames built from `dir` are shared across callers — public
    * so Bench only runs (and bills) its shared-build pre-pass when the
    * memo will actually retain the result.
    */
  def memoizable(dir: String): Boolean =
    ImmutableRoots.exists(r => dir == r || dir.startsWith(r + "/"))

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Per-thread stack of build-local scratch registries: each in-flight
    * `cached` build on this thread pushes a list; [[scratch]] registers
    * intermediates into the innermost one. A plain ThreadLocal suffices —
    * builds never migrate threads mid-closure (Bench's chains each run
    * their whole chain on one Future thread).
    */
  private val buildScratch =
    new ThreadLocal[java.util.ArrayDeque[java.util.ArrayList[DataFrame]]] {
      override def initialValue() = new java.util.ArrayDeque[java.util.ArrayList[DataFrame]]()
    }

  /** A BUILD-LOCAL intermediate checkpoint (the posting list a pair
    * build self-joins, a signature frame joined twice): materialized
    * now, and RELEASED as soon as the enclosing [[cached]] build's final
    * artifact is itself materialized — at that point the artifact's
    * lineage is cut, so nothing can ever read the intermediate again,
    * win OR lose. Without this, a build losing a cross-chain race
    * released only its final frame (r18 fix) while its nested
    * checkpoints stayed block-store resident for the session (r19
    * ADVICE) — and even WINNING builds held intermediates forever.
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

  def cached(s: SparkSession, dir: String, key: String)
            (build: => DataFrame): DataFrame =
    if (!memoizable(dir)) materializeReleasingScratch(build)
    else {
      val k = (s, s"$dir|$key")
      val hit = memo.get(k)
      if (hit != null) hit
      else {
        val built = materializeReleasingScratch(build)
        val raced = memo.putIfAbsent(k, built)
        if (raced != null) {
          // losing a cross-chain race (reachable since Bench's parallel
          // build chains, r18): nothing will ever read the losing frame,
          // but its eager localCheckpoint blocks would stay block-store
          // resident for the session and silently pad the bench line's
          // `blk` residency figures — release them now (its scratch
          // intermediates were already released above).
          org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(built)
          raced
        } else built
      }
    }
}
