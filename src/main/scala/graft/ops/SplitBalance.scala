package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Split-balance stratification audit — the check that the q54 hash
  * split is UNBIASED per stratum: a small source whose docs the hash
  * happens to pile into `test` silently distorts every per-source
  * eval downstream (q153's classifier, q159's fertility, q179's
  * novelty all read the split). Per (source, split): observed count,
  * the source's observed split share, the corpus-wide split share it
  * should match, and the signed skew between them — all ppm integers.
  * A full source × {train, validation, test} spine keeps empty strata
  * as explicit 0-rows (an absent stratum IS the finding).
  *
  * Determinism: pure counts and ppm floor divisions on nonnegative
  * integers; skew is a difference of two already-quantized ppms
  * (exact, signed). Fully oracle-replayed.
  *
  * Scale shape: ONE (source, split) map-side-combined aggregation
  * over the corpus; everything else (source totals, the 3-row split
  * totals, the spine build — a sources-dim × 3-row literal cross, the
  * documented dim-build BNLJ shape) runs on frames bounded by the
  * source catalog.
  */
object SplitBalance extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_split_balance" -> ((s, d) => {
      import s.implicits._
      val tagged = Tables.documents(s, d)
        .select(col("source"), Sampling.splitOf(col("doc_id")).as("split"))
      val counts = tagged.groupBy("source", "split")
        .agg(count(lit(1)).as("n")).localCheckpoint()
      val srcTot = counts.groupBy("source").agg(sum(col("n")).as("n_src"))
      val splitTot = counts.groupBy("split").agg(sum(col("n")).as("n_split"))
      val total = counts.agg(sum(col("n"))).head().getLong(0)
      val spine = counts.select("source").distinct()
        .crossJoin(Seq("train", "validation", "test").toDF("split"))
      spine
        .join(counts, Seq("source", "split"), "left")
        .na.fill(0L, Seq("n"))
        .join(srcTot, Seq("source"))
        .join(splitTot, Seq("split"), "left")
        .na.fill(0L, Seq("n_split"))
        .select(col("source"), col("split"), col("n"),
          expr("CASE WHEN n_src = 0 THEN 0 ELSE n * 1000000 DIV n_src END")
            .as("obs_ppm"),
          expr(s"n_split * 1000000 DIV $total").as("glob_ppm"))
        .withColumn("skew_ppm", col("obs_ppm") - col("glob_ppm"))
        .orderBy("source", "split")
    }))

  val oracleSql: Map[String, String] = Map(
    "q187_split_balance" ->
      """WITH tagged AS MATERIALIZED (
        |  SELECT source,
        |         CASE WHEN h IN ('c', 'd') THEN 'validation'
        |              WHEN h IN ('e', 'f') THEN 'test'
        |              ELSE 'train' END AS split
        |  FROM (SELECT source, substr(md5(doc_id::VARCHAR), 1, 1) AS h
        |        FROM documents)
        |), counts AS MATERIALIZED (
        |  SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tagged GROUP BY source, split
        |), srctot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_src
        |              FROM counts GROUP BY source),
        |splittot AS (SELECT split, CAST(SUM(n) AS BIGINT) AS n_split
        |             FROM counts GROUP BY split),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts),
        |spine AS (
        |  SELECT DISTINCT source, s.split
        |  FROM counts, (VALUES ('train'), ('validation'), ('test')) s(split)
        |)
        |SELECT sp.source, sp.split, COALESCE(c.n, 0) AS n,
        |       CASE WHEN st.n_src = 0 THEN 0
        |            ELSE COALESCE(c.n, 0) * 1000000 // st.n_src END AS obs_ppm,
        |       COALESCE(g.n_split, 0) * 1000000 // t.t AS glob_ppm,
        |       CASE WHEN st.n_src = 0 THEN 0
        |            ELSE COALESCE(c.n, 0) * 1000000 // st.n_src END
        |         - COALESCE(g.n_split, 0) * 1000000 // t.t AS skew_ppm
        |FROM spine sp
        |LEFT JOIN counts c ON c.source = sp.source AND c.split = sp.split
        |JOIN srctot st ON st.source = sp.source
        |LEFT JOIN splittot g ON g.split = sp.split
        |CROSS JOIN tot t
        |ORDER BY sp.source, sp.split""".stripMargin)
}
