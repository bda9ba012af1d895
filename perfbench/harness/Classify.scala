package perfbench

import org.apache.spark.sql.SparkSession

/** One-off registry census used to pin `perfbench/pinned/classes.json`.
  *
  * For every `SparkEntry.queries` entry, in a session of its own (so the
  * `FrameMemo` is empty for it):
  *   1. construct + `Bench.exec` once (cold: builds any memo artifact);
  *   2. construct + `Bench.exec` again (warm), counting the jobs started
  *      during construction;
  *   3. write the warm output as parquet for the expectation pinning.
  * Memo use is the growth of the memo map over step 1.
  *
  * Usage: Classify <sfDir> <outDir> [query names...]
  */
object Classify {

  private def memoMap: java.util.Map[_, _] = {
    val cls = Class.forName("graft.ops.FrameMemo$")
    val module = cls.getField("MODULE$").get(null)
    val f = cls.getDeclaredFields
      .find(f => classOf[java.util.concurrent.ConcurrentHashMap[_, _]].isAssignableFrom(f.getType))
      .getOrElse(sys.error("FrameMemo has no memo map"))
    f.setAccessible(true)
    f.get(module).asInstanceOf[java.util.Map[_, _]]
  }

  /** Drop `session`'s memo entries and every cached block. */
  private def release(spark: SparkSession, session: SparkSession): Unit = {
    val it = memoMap.keySet.iterator()
    while (it.hasNext) it.next() match {
      case (s: AnyRef, _) if s eq session => it.remove()
      case _ => ()
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.create(cores)
    val rec = Recorder.install(spark)
    val all = graft.SparkEntry.queries
    val names = if (args.length > 2) args.drop(2).toSeq else all.keys.toSeq.sorted
    val streaming = graft.streaming.StreamingQueries.queries.keySet
    val rows = names.map { name =>
      val fn = all(name)
      val s = spark.newSession()
      System.err.println(s"[classify] $name")
      rec.take()
      val out = try {
        val m0 = memoMap.size
        val (_, coldS) = Clock.timed(graft.Bench.exec(fn(s, sfDir)))
        val memoNew = memoMap.size - m0
        Session.drain(spark)
        val cold = rec.take()
        val (df, constructS) = Clock.timed(fn(s, sfDir))
        Session.drain(spark)
        val constructJobs = rec.take().jobs.size
        val (_, execS) = Clock.timed(graft.Bench.exec(df))
        Session.drain(spark)
        val warm = rec.take()
        df.write.mode("overwrite").parquet(s"$outDir/out/$name")
        val tables = Recorder.tablesIn(cold.sqlPlans ++ warm.sqlPlans, sfDir)
        Seq("name" -> name, "stream" -> streaming.contains(name), "memo_new" -> memoNew,
          "cold_s" -> coldS, "cold_jobs" -> cold.jobs.size,
          "construct_s" -> constructS, "construct_jobs" -> constructJobs,
          "exec_s" -> execS, "exec_jobs" -> warm.jobs.size,
          "tables" -> tables.toSeq.sorted, "error" -> None)
      } catch {
        case t: Throwable =>
          Seq("name" -> name, "error" -> Some(s"${t.getClass.getSimpleName}: ${t.getMessage}"))
      }
      release(spark, s)
      Json.obj(out)
    }
    Json.write(s"$outDir/census.json", rows.mkString("[\n", ",\n", "\n]\n"))
    Json.write(s"$outDir/oracle_sql.json", Json.value(graft.SparkEntry.oracleSql))
    Json.write(s"$outDir/rows_only.json", Json.value(graft.SparkEntry.rowsOnlyQueries.toSeq.sorted))
    spark.stop()
  }
}
