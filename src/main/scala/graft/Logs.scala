package graft

/** Harness-side log tuning shared by [[LocalSession]] (the Bench, Verify
  * and RunMedallion mains) and the test session.
  */
object Logs {

  /** WindowExec warns "No Partition Defined ... single partition" on any
    * unpartitioned window. Every such window in this engine is a dim
    * build over a provably tiny frame (StarOps.tinyGlobalWindow — bounded
    * by dim cardinality, not data volume), where the single partition is
    * by design; partitioning by a constant does NOT help because the
    * optimizer folds the constant spec away before WindowExec sees it.
    * So the warning is suppressed at the logger. HONEST SCOPE: this
    * silences the class-level WARN for EVERY unpartitioned window in the
    * harness sessions, including a future accidental one over real data
    * — which is why PlanSpec's global-window sweep pins the allowlist of
    * queries whose plans may carry an empty partition spec at all; a new
    * global window fails the build there instead of warning in a log
    * nobody reads. ERROR-level WindowExec logs still surface.
    */
  def silenceTinyWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** RDD.unpersist on a locally-checkpointed RDD warns "... was locally
    * checkpointed, its lineage has been truncated and cannot be
    * recomputed after unpersisting" — once per released iterate, so a
    * 10-round PageRank emits 10 of them. Here the release is deliberate
    * and safe by construction: ColumnBridge.releaseCheckpoint only ever
    * frees SUPERSEDED iterates of a fixed-round loop, which no future
    * plan references (GraphSpec pins the residency invariant).
    *
    * Suppression is a MESSAGE filter on that specific warning text, not
    * a category-level demotion (the r14 shape set the whole
    * MapPartitionsRDD logger to ERROR, which would also have hidden any
    * unrelated WARN from that class — including one flagging a genuinely
    * erroneous release of a still-needed checkpoint). Every other
    * message from the logger, at every level, still surfaces.
    */
  def silenceCheckpointReleaseWarning(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.StringMatchFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    // both checkpoint entry points build the internal-row RDD via
    // `.map(_.copy())`, so the warning's logger category is always
    // MapPartitionsRDD
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val lc = {
      val existing = cfg.getLoggerConfig(name)
      if (existing.getName == name) existing
      else {
        val created = new LoggerConfig(name, null, true) // inherit level, additive
        cfg.addLogger(name, created)
        created
      }
    }
    lc.addFilter(StringMatchFilter.newBuilder()
      .setMatchString("its lineage has been truncated")
      .setOnMatch(Filter.Result.DENY)
      .setOnMismatch(Filter.Result.NEUTRAL)
      .build())
    ctx.updateLoggers()
  }
}
