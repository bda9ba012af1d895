package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Zipf rank-frequency fit — the scaling-law summary next to q177's
  * coverage curve (which reads the SAME ranked type table as a
  * cumulative curve; this collapses it to the exponent): OLS of
  * ln(frequency) on ln(rank) over the top-[[TopR]] word types, i.e.
  * the s in f(r) ∝ r^(−s). A natural-language corpus sits near
  * s ≈ 1 with r² near 1; a corpus whose slope drifts shallow is
  * boilerplate-heavy (the head under-dominates), one whose fit
  * quality collapses is a mixture of very different sources — the
  * one-number drift sentinel a recurring ingest pipeline tracks
  * across snapshots, where q133's KL needs a reference corpus to
  * compare against.
  *
  * Determinism: ranks come from the q176 two-phase global rank over
  * the exact total order (f desc, word asc); ln(rank)/ln(f) quantize
  * to MILLI-nats per ln (coarser than the q153 micro grain ON
  * PURPOSE: with x,y ≤ ~3·10⁴ the OLS cross-sums n·Σxy, Σx·Σy,
  * Σy·Σxx all stay exact int64 at any TopR ≤ 10⁶ — micro-nat inputs
  * would overflow n·Σxy at TopR ≈ 10³). The final slope/intercept/r²
  * are the ONLY float steps: exact int64 sums cast to double and
  * combined in pinned IEEE order — identical operation text both
  * engines, the q182/q185 signed-ROUND convention (slope is
  * negative). The int64→double casts are exact below 2⁵³ (all the
  * OLS terms here) and, past it, still DETERMINISTIC — both engines
  * round-to-nearest the same int64 — so the comparison never relies
  * on exactness, only on identical operation order.
  *
  * Scale shape: one tokenize + (word) count shuffle (the q149/q164
  * corpus price), the q176 range-exchange rank over the type table
  * (never a single-partition window), a distributed top-R filter,
  * and ONE map-side-combined fold to a 1-row sum frame — the fit
  * itself is model-edge arithmetic.
  */
object ZipfFit extends graft.QueryModule {

  /** Head size the fit runs on — the standard Zipf-fit practice of
    * dropping the heavy-tie tail (hapax plateaus break log-log
    * linearity and carry no ranking information).
    */
  private[graft] val TopR = 1000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_zipf_slope" -> ((s, d) => {
      val types = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("f"))
      def mln(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")) * 1e3, 0).cast("long")
      val pts = BatchPlan
        .withGlobalRank(types, Seq(col("f").desc, col("word").asc))
        .filter(col("rn") < TopR)
        .select(mln(col("rn") + 1L).as("x"), mln(col("f")).as("y"))
      pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
        .select(col("n").as("n_points"),
          expr("CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0" +
            " / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)").as("slope_ppm"),
          expr("CAST(ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)" +
            " / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)").as("intercept_milli"),
          expr("CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)" +
            " * CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0" +
            " / (CAST(n * sxx - sx * sx AS DOUBLE)" +
            " * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)").as("r2_ppm"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q192_zipf_slope" ->
      s"""WITH types AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
         |        FROM documents)
         |  GROUP BY word
         |), pts AS (
         |  SELECT CAST(ROUND(LN(CAST(r AS DOUBLE)) * 1e3) AS BIGINT) AS x,
         |         CAST(ROUND(LN(CAST(f AS DOUBLE)) * 1e3) AS BIGINT) AS y
         |  FROM (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, word) AS r
         |        FROM types)
         |  WHERE r <= $TopR
         |), sums AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |         CAST(SUM(x * x) AS BIGINT) AS sxx,
         |         CAST(SUM(x * y) AS BIGINT) AS sxy,
         |         CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM pts
         |)
         |SELECT n AS n_points,
         |       CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
         |         / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS slope_ppm,
         |       CAST(ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
         |         / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS intercept_milli,
         |       CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
         |         * CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
         |         / (CAST(n * sxx - sx * sx AS DOUBLE)
         |         * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) AS r2_ppm
         |FROM sums""".stripMargin)
}
