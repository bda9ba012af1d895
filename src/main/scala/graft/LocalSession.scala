package graft

import org.apache.spark.sql.SparkSession

/** The one session config of the Bench, Verify and RunMedallion mains:
  * local[N] with N = SPARK_GRAFT_CPUS (default 32), 2N shuffle
  * partitions, AQE on, UTC, parquet TIMESTAMP(NANOS) read as longs
  * (`Tables.events` normalizes them to µs), no UI, WARN logging.
  *
  * 2N, NOT N (r19): partitions = cores schedules every stage as exactly
  * one task wave, so one core stolen by another process stretches the
  * whole stage end-to-end — the mechanism behind three rounds of 3-8x
  * bench-session inflations on the heavy gram/shingle stages. At 2N a
  * late task's slot picks up the next pending task instead of idling,
  * AQE coalesces the small stages back to wave size, and the
  * quiet-session cost is noise-level (A/B in SCALING.md §"Bench
  * robustness").
  */
object LocalSession {
  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.silenceTinyWindowWarning() // AFTER setLogLevel: setAllLevels would clobber it
    Logs.silenceCheckpointReleaseWarning()
    spark
  }
}
