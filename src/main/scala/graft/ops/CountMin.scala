package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Count-min sketch over the corpus token stream (Cormode &
  * Muthukrishnan 2005) — completes the mergeable-sketch family next to
  * HLL distinct counts (q40) and Misra-Gries heavy hitters (q73):
  * a [[D]]×[[W]] integer counter matrix answering point frequency
  * queries with the one-sided guarantee estimate ≥ exact and
  * overcount ≤ εN w.h.p. — the structure streaming token-frequency
  * services and distributed-join skew detectors keep per shard,
  * because two shards' sketches MERGE by element-wise addition (the
  * q73/q103 mergeable discipline; pinned in the spec by splitting the
  * corpus in half and adding).
  *
  * Reference scope: no reference twin; sketch infrastructure for the
  * 100 TB pipeline (a 4×64 long matrix summarizes any token volume).
  *
  * Determinism + oracle: bucket hashes are md5-derived
  * (`md5(token || '|' || row)` → first 8 hex chars → int64 → mod W,
  * the q157 bucket discipline — 8 hex chars < 2^32 keep conv() exact
  * in both engines), counters are plain COUNT(*) aggregates, so DuckDB
  * replays the ENTIRE sketch and the probe: the registered query
  * reports, for the exact top-[[TopN]] tokens, exact count vs CMS
  * estimate (min over the [[D]] probed cells) and the overcount.
  *
  * Scale shape: the corpus pays one tokenize; the sketch build is one
  * posexplode into a (r, c)-keyed aggregate — at most [[D]]·[[W]] = 256
  * reducer keys with map-side combine, so reducers see partials, never
  * tokens. The probe side is TopN rows × D cells joined against the
  * broadcast-sized counter matrix. Nothing in any exchange scales past
  * min(corpus, 256 + TopN·D) rows.
  */
object CountMin extends graft.QueryModule {

  /** Sketch geometry: depth (independent hash rows) × width (buckets).
    * ε = e/W ≈ 4.2% of stream mass, δ = e^-D ≈ 1.8% failure — the
    * textbook sizing for a demonstration-grade sketch; production picks
    * W from the target ε the same way.
    */
  private[graft] val D = 4
  private[graft] val W = 64L

  /** Probe the exact top-N tokens against the sketch. */
  private[graft] val TopN = 20

  /** md5-derived bucket of `t` in hash row `r` (engine side). */
  private[graft] def bucket(t: Column, r: Column): Column =
    pmod(conv(substring(md5(concat(t, lit("|"), r.cast("string"))), 1, 8),
      16, 10).cast("long"), lit(W))

  /** (r, c, v) counter matrix over a token frame — exposed for the
    * spec's merge test. */
  private[graft] def sketch(toks: DataFrame): DataFrame =
    toks.select(posexplode(array((0 until D).map(r =>
        bucket(col("t"), lit(r))): _*)).as(Seq("r", "c")))
      .groupBy("r", "c").agg(count(lit(1)).as("v"))

  private def corpusTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(explode(tokens(col("text"))).as("t"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_countmin_sketch" -> ((s, d) => {
      val toks = corpusTokens(s, d)
      val cms = sketch(toks)
      val exact = toks.groupBy("t").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("t")).limit(TopN)
      val pos = exact.select(col("t"), col("exact_n"),
        posexplode(array((0 until D).map(r =>
          bucket(col("t"), lit(r))): _*)).as(Seq("r", "c")))
      pos.join(broadcast(cms), Seq("r", "c"))
        .groupBy("t", "exact_n").agg(min(col("v")).as("cms_est"))
        .select(col("t").as("token"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overcount"))
        .orderBy(col("exact_n").desc, col("token"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q168_countmin_sketch" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
         |  FROM documents
         |), h AS (
         |  SELECT t, CAST(s.r AS INTEGER) AS r,
         |         CAST(CAST('0x' || substr(md5(t || '|' || s.r), 1, 8) AS UBIGINT) AS BIGINT)
         |           % $W AS c
         |  FROM toks, range($D) s(r)
         |), cms AS MATERIALIZED (
         |  SELECT r, c, COUNT(*) AS v FROM h GROUP BY r, c
         |), exact AS (
         |  SELECT t, COUNT(*) AS exact_n FROM toks GROUP BY t
         |  ORDER BY exact_n DESC, t LIMIT $TopN
         |), pos AS (
         |  SELECT e.t, e.exact_n, CAST(s.r AS INTEGER) AS r,
         |         CAST(CAST('0x' || substr(md5(e.t || '|' || s.r), 1, 8) AS UBIGINT) AS BIGINT)
         |           % $W AS c
         |  FROM exact e, range($D) s(r)
         |)
         |SELECT p.t AS token, p.exact_n, MIN(cms.v) AS cms_est,
         |       MIN(cms.v) - p.exact_n AS overcount
         |FROM pos p JOIN cms USING (r, c)
         |GROUP BY p.t, p.exact_n
         |ORDER BY exact_n DESC, token""".stripMargin)
}
