package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide; suites run in one
  * forked test JVM).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Logs.silenceTinyWindowWarning() // AFTER setLogLevel: setAllLevels would clobber it
    Logs.silenceCheckpointReleaseWarning()
    s
  }

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBusBridge.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The expression `df`'s analyzed plan binds to the output name `name`. */
  def aliased(df: org.apache.spark.sql.DataFrame, name: String)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    df.queryExecution.analyzed.flatMap(_.expressions)
      .flatMap(_.collect { case a: Alias if a.name == name => a.child })
      .head
  }
}
