package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/check.py).
  *
  * Usage: `graft.Verify sfDir outDir [name ...]`. Optional trailing names
  * (full query names or qNN stems, as in [[SparkEntry.select]]) restrict
  * both the queries run and the keys written to oracle_sql.json, so
  * `tools/check.py` runs unchanged on a subset.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = LocalSession.create()
    try dump(spark, sfDir, outDir, args.drop(2).toSeq)
    finally spark.stop()
  }

  /** Writes `outDir/<name>` parquet for each selected query (all when
    * `names` is empty) and `outDir/oracle_sql.json` for the selected
    * queries that carry oracle SQL. A query that throws is reported on
    * stderr as `[verify] <name> failed`; the others still run.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Unit = {
    val selected =
      if (names.isEmpty) SparkEntry.queries else SparkEntry.select(names.toSet)
    require(selected.nonEmpty, s"no registered query matches ${names.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
