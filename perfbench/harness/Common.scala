package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Session factory with the same configuration as `graft.Bench` and
  * `graft.Verify`: local[N], shuffle partitions 2×N, AQE on, UTC, nanos
  * read as longs, no UI.
  */
object Session {
  def create(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Logs.silenceTinyWindowWarning()
    graft.Logs.silenceCheckpointReleaseWarning()
    spark
  }

  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Deliver every queued listener event before returning. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
}

/** A minimal JSON writer: the harness emits flat records only. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Already-rendered JSON, embedded verbatim. */
  final case class Raw(text: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case o: Option[_] => o.fold("null")(value)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Host and driver-JVM facts read from /proc and the JMX beans. */
object Host {
  def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq.empty }

  /** Peak resident set of this JVM (VmHWM) in MiB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    try {
      val lines = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
        StandardCharsets.US_ASCII).split("\n")
      lines.find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }

  def heapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** (cached RDD count, MiB held in memory + disk). */
  def blockResidency(spark: SparkSession): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}

/** Everything the Spark listener bus reports that the benchmark uses.
  * Events are appended to lock-free queues; readers call
  * [[Session.drain]] first so every event of a finished call is present.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val sqlPlans = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e.jobId -> e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      m.executorRunTime / 1000.0, m.executorCpuTime / 1e9, m.jvmGCTime / 1000.0,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlPlans.add(s.physicalPlanDescription)
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): (Long, Long) =
      ph.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
    plans.add(PlanRec(phase("analysis"), phase("optimization"), phase("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Remove and return everything recorded so far. */
  def take(): Recorder.Batch = {
    def all[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
      val b = Seq.newBuilder[A]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    Recorder.Batch(all(jobs), all(jobEnds), all(stages), all(tasks), all(plans), all(sqlPlans))
  }
}

object Recorder {
  final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, startMs: Long, endMs: Long)
  final case class TaskRec(runS: Double, cpuS: Double, gcS: Double,
                           shuffleWriteBytes: Long, spillBytes: Long)
  final case class PlanRec(analysis: (Long, Long), optimization: (Long, Long),
                           planning: (Long, Long))
  final case class Batch(jobs: Seq[JobRec], jobEnds: Seq[(Int, Long)], stages: Seq[StageRec],
                         tasks: Seq[TaskRec], plans: Seq[PlanRec], sqlPlans: Seq[String])

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  def uninstall(spark: SparkSession, r: Recorder): Unit = {
    spark.listenerManager.unregister(r)
    spark.sparkContext.removeSparkListener(r)
  }

  /** Table names (`<dir>/<name>.parquet`) scanned by the given plans. */
  def tablesIn(plans: Seq[String], dir: String): Set[String] = {
    val re = (java.util.regex.Pattern.quote(dir) + "/([A-Za-z0-9_]+)\\.parquet").r
    plans.flatMap(p => re.findAllMatchIn(p).map(_.group(1))).toSet
  }
}

/** Time a thunk in seconds. */
object Clock {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
  def nowUs(): Long = System.currentTimeMillis() * 1000L
}
