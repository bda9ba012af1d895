package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column↔Expression converters (Spark 4
  * moved Column to a plan-agnostic representation; classic-mode
  * extension libraries convert through ExpressionUtils, which is only
  * visible inside the org.apache.spark.sql package tree).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed plan of a DataFrame (queryExecution is classic-only). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** `localCheckpoint` WITHOUT origin-stats propagation. Since
    * SPARK-39902, `Dataset.localCheckpoint` snapshots the origin plan's
    * ESTIMATED statistics into the checkpointed LogicalRDD. In an
    * iterative loop whose per-round plan joins its own previous output
    * k times, that snapshot compounds as ~S^k per round; size-only
    * estimation multiplies the numbers as exact BigIntegers, so by
    * round ~15 the driver is Toom-Cook-multiplying hundred-megabit
    * integers inside join planning and each round takes minutes (CPU
    * pegged in `SizeInBytesOnlyStatsPlanVisitor`, observed on a
    * 65k-hop chain graph). Rebuilding the frame from the checkpointed
    * internal-row RDD gives it fresh default stats — planning stays
    * O(1) per round; the physical rows are materialized exactly the
    * same way as `Dataset.localCheckpoint(eager = true)`.
    */
  def localCheckpointFreshStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    // same mechanics as Dataset.checkpoint(eager=true, reliable=false):
    // copy (toRdd reuses mutable UnsafeRows), mark, materialize eagerly
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count()
    ds.sparkSession.internalCreateDataFrame(rdd, ds.schema)
  }

  /** Eagerly release the block-store partitions behind a checkpointed
    * frame (`localCheckpoint` / [[localCheckpointFreshStats]] — both
    * leave a `LogicalRDD` over a persisted internal-row RDD). Without
    * this, superseded iterates of a fixed-round loop stay resident until
    * a DRIVER GC lets ContextCleaner find them — which on a 128 GiB heap
    * may be never mid-benchmark, so one q118 measurement (3 runs × 10
    * rounds) was holding ~30 rank snapshots simultaneously and reading
    * 5.4× its quiet-session time under block-store pressure. Also the
    * only scale-correct behavior: at 100 TB an iterative operator cannot
    * hold every superseded copy of its state.
    *
    * CONTRACT — the frame must NOT be read again after release: local
    * checkpoints are unreliable by design — the persisted blocks ARE the
    * data (the lineage was truncated), so this frees memory rather than
    * demoting a cache. The contract is unenforceable here (an RDD can't
    * veto future actions): a re-read fails at ACTION time with an opaque
    * "checkpoint block ... not found" error, and the WARN Spark emits at
    * release time is deliberately filtered in the harness sessions
    * (Logs.silenceCheckpointReleaseWarning), so misuse surfaces ONLY as
    * that runtime failure. Callers must be loop-internal: release
    * exactly the superseded iterate of a fixed-round loop once its
    * successor is materialized (every current call site — GraphOps,
    * Dedup CC, LmTokenizer — follows this shape; it would be
    * private[graft] if Scala allowed that across package roots). No-op
    * on non-checkpoint plans.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    analyzedPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Storage level of the RDD behind a checkpointed frame — the
    * release-contract specs' observability hook (unpersist flips the
    * level to NONE synchronously on the RDD object, so "released" is
    * directly assertable). None for non-checkpoint plans.
    */
  def checkpointStorageLevel(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.storage.StorageLevel] =
    analyzedPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Some(lr.rdd.getStorageLevel)
      case _ => None
    }

  /** A new directory `prefix-<uuid>` under the JVM temp dir, deleted
    * with its contents at JVM exit (`Utils.createTempDir` is
    * `private[spark]`).
    */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getPath
}
