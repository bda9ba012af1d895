package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Per-label within-dispersion report — the WITHIN-label companion to
  * q182's BETWEEN-label centroid matrix: mean pairwise squared
  * distance inside each label, plus the label's dispersion relative
  * to the whole corpus. A label whose within-dispersion sits far
  * below the corpus level is a tight (possibly collapsed/redundant)
  * segment — SemDeDup (q151) will fold much of it; one far above is
  * heterogeneous mass a single label-level mixing weight treats too
  * coarsely. Together with q182 this is the exact-integer
  * within/between decomposition a clustering validity index reads.
  *
  * Determinism: components quantize to round(x·1000) (the q132/q186
  * signed grain); the pairwise-distance identity
  * Σ_{ordered pairs} ‖x−y‖² = 2·(n·Σ‖x‖² − Σ_j S_j²) makes the
  * numerator an exact int64 from one pass — no pair enumeration, no
  * float sums. within_num ≥ 0 by Cauchy–Schwarz, so the single DIV
  * (and the relative-ppm DIV) run in the nonnegative domain where
  * Spark DIV ≡ DuckDB //. Exact up to n ≈ 4·10⁵ vectors per label at
  * |q| ≤ 578 (n·t2 < 2⁶³); beyond that the same sums pre-aggregate
  * hierarchically (DuckDB side widens to HUGEINT on its own).
  *
  * Scale shape: ONE corpus pass feeds two map-side-combined
  * aggregates — per-label norm² sums (|labels| keys) and per
  * (label, dim) component sums (|labels|·64 keys); everything after
  * is model-edge arithmetic, incl. the 1-row global-dispersion fold
  * crossed onto the |labels|-row report (documented BNLJ shape). The
  * mean pairwise distance is over ordered pairs including self
  * (self-pairs contribute 0) — the convention that keeps the
  * denominator n² exact without an n·(n−1) special case.
  */
object LabelDispersion extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q189_label_dispersion" -> ((s, d) => {
      val qv = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000.0, 0).cast("long")).as("q"))
      val norms = qv
        .select(col("label"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("norm2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum(col("norm2")).as("t2"))
      val dimSums = qv
        .select(col("label"), posexplode(col("q")).as(Seq("dim", "qx")))
        .groupBy("label", "dim").agg(sum(col("qx")).as("s"))
        .localCheckpoint()
      val s2 = dimSums.groupBy("label").agg(sum(col("s") * col("s")).as("s2"))
      val perLabel = norms.join(s2, Seq("label"))
        .select(col("label").cast("int").as("label"), col("n_vecs"), col("t2"), col("s2"),
          (col("n_vecs") * col("t2") - col("s2")).as("within_num"))
      // global row: n/t2 fold from the per-label frame; Σ_j (Σ_labels s)²
      // from the checkpointed (label, dim) sums — never a second corpus pass
      val gDim = dimSums.groupBy("dim").agg(sum(col("s")).as("sg"))
        .agg(sum(col("sg") * col("sg")).as("s2"))
      val gRow = perLabel.agg(sum(col("n_vecs")).as("n_vecs"), sum(col("t2")).as("t2"))
        .crossJoin(gDim)
        .select(lit(-1).as("label"), col("n_vecs"), col("t2"), col("s2"),
          (col("n_vecs") * col("t2") - col("s2")).as("within_num"))
      val all = perLabel.unionByName(gRow)
        .withColumn("disp", expr("(2 * within_num) DIV (n_vecs * n_vecs)"))
      val gDisp = all.filter(col("label") === -1)
        .select(col("disp").as("g_disp"))
      all.crossJoin(gDisp)
        .select(col("label"), col("n_vecs"), col("t2"), col("s2"),
          col("within_num"), col("disp"),
          expr("CASE WHEN g_disp = 0 THEN 0" +
            " ELSE disp * 1000000 DIV g_disp END").as("rel_ppm"))
        .orderBy("label")
    }))

  val oracleSql: Map[String, String] = Map(
    "q189_label_dispersion" ->
      """WITH qv AS MATERIALIZED (
        |  SELECT vec_id, label,
        |         [CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) FOR x IN embedding] AS q
        |  FROM embeddings
        |), norms AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |         CAST(SUM(CAST(list_sum([y * y FOR y IN q]) AS BIGINT)) AS BIGINT) AS t2
        |  FROM qv GROUP BY label
        |), dimsums AS MATERIALIZED (
        |  SELECT label, CAST(t.i AS INTEGER) AS dim,
        |         CAST(SUM(q[CAST(t.i AS INTEGER) + 1]) AS BIGINT) AS s
        |  FROM qv, range(64) t(i) GROUP BY 1, 2
        |), s2 AS (
        |  SELECT label, CAST(SUM(s * s) AS BIGINT) AS s2
        |  FROM dimsums GROUP BY label
        |), per_label AS (
        |  SELECT CAST(n.label AS INTEGER) AS label, n_vecs, t2, s2,
        |         n_vecs * t2 - s2 AS within_num
        |  FROM norms n JOIN s2 USING (label)
        |), g_dim AS (
        |  SELECT CAST(SUM(sg * sg) AS BIGINT) AS s2
        |  FROM (SELECT dim, CAST(SUM(s) AS BIGINT) AS sg FROM dimsums GROUP BY dim)
        |), g_row AS (
        |  SELECT CAST(-1 AS INTEGER) AS label,
        |         CAST(SUM(n_vecs) AS BIGINT) AS n_vecs,
        |         CAST(SUM(t2) AS BIGINT) AS t2, g.s2,
        |         CAST(SUM(n_vecs) AS BIGINT) * CAST(SUM(t2) AS BIGINT) - g.s2 AS within_num
        |  FROM per_label CROSS JOIN g_dim g GROUP BY g.s2
        |), al AS (
        |  SELECT *, (2 * within_num) // (n_vecs * n_vecs) AS disp
        |  FROM (SELECT * FROM per_label UNION ALL BY NAME SELECT * FROM g_row)
        |), g_disp AS (
        |  SELECT disp AS g_disp FROM al WHERE label = -1
        |)
        |SELECT label, n_vecs, t2, s2, within_num, disp,
        |       CASE WHEN g_disp = 0 THEN 0
        |            ELSE disp * 1000000 // g_disp END AS rel_ppm
        |FROM al CROSS JOIN g_disp
        |ORDER BY label""".stripMargin)
}
