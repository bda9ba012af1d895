package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Cluster-validity scatter report for the LEARNED coarse cells —
  * q189's exact within/between decomposition pointed at the
  * q147/q148/q151/q191 16-cell quantizer instead of the trusted
  * labels: per cell, size, within-scatter, mean squared radius, mean
  * pairwise dispersion, and the cell's share of TOTAL corpus scatter.
  * The read-out a rebuild scheduler pairs with q175's growth counts:
  * pooled within-share far under 10⁶ ppm = cells genuinely separate
  * structure (ANN pruning and SemDeDup candidates are trustworthy);
  * share drifting toward 10⁶ = the model has decayed into noise and
  * the index should retrain before recall silently sags.
  *
  * Determinism: every number derives from the scatter identity
  * n·Σ‖x−μ‖² = n·Σ‖x‖² − Σ_j S_j² on the OFFSET quantized grid the
  * cell pipeline already uses (the identity is translation-invariant,
  * so the +1024 offset cancels exactly — proven in the spec);
  * within_num ≥ 0 by Cauchy–Schwarz and wss_milli/disp are
  * nonnegative integer DIVs (DIV ≡ //). wss_milli = within_num·1000
  * DIV n is the integer-exact stand-in for Σ‖x−μ‖² (within_num/n),
  * so the pooled WSS is an exact integer SUM, never an
  * order-sensitive float fold. share_ppm is the ONE float step —
  * within·10⁶ overflows int64 at corpus n, so it uses the q182
  * pinned single-mul/div-ROUND on int64→double casts (deterministic
  * at any magnitude: both engines cast the same int64).
  *
  * Scale shape: the memoized cell assignment (FrameMemo — built once
  * for four consumers) joins one narrow quantized pass; per-cell
  * norm² sums (k keys) and (cell, dim) component sums (k·64 keys),
  * both map-side combined; the 1-row total fold crosses at the model
  * edge (documented BNLJ shape). Oracle replays coarseChainCtes
  * VERBATIM and reads scatter off its `pts`/`caf` CTEs.
  */
object CellValidity extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q194_cell_validity" -> ((s, d) => {
      val pts = PqOps.quantizedPts(s, d)
      val withCell = pts.join(
        PqOps.residCodes(s, d).select(col("vec_id"), col("coarse").as("cell")),
        Seq("vec_id"))
      val norms = withCell
        .select(col("cell"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("norm2"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum(col("norm2")).as("t2"))
      val dimSums = withCell
        .select(col("cell"), posexplode(col("q")).as(Seq("dim", "qx")))
        .groupBy("cell", "dim").agg(sum(col("qx")).as("sv"))
        .localCheckpoint()
      val s2 = dimSums.groupBy("cell").agg(sum(col("sv") * col("sv")).as("s2"))
      val perCell = norms.join(s2, Seq("cell"))
        .select(col("cell"), col("n_vecs"),
          (col("n_vecs") * col("t2") - col("s2")).as("within_num"))
      val gDim = dimSums.groupBy("dim").agg(sum(col("sv")).as("sg"))
        .agg(sum(col("sg") * col("sg")).as("s2"))
      val gRow = norms.agg(sum(col("n_vecs")).as("n_vecs"), sum(col("t2")).as("t2"))
        .crossJoin(gDim)
        .select(lit(-1).as("cell"), col("n_vecs"),
          (col("n_vecs") * col("t2") - col("s2")).as("within_num"))
      val gTot = gRow.select(col("within_num").as("g_within"))
      perCell.unionByName(gRow)
        .crossJoin(gTot)
        .select(col("cell"), col("n_vecs"), col("within_num"),
          expr("within_num * 1000 DIV n_vecs").as("wss_milli"),
          expr("(2 * within_num) DIV (n_vecs * n_vecs)").as("disp"),
          expr("CASE WHEN g_within = 0 THEN 0" +
            " ELSE CAST(ROUND(CAST(within_num AS DOUBLE) * 1000000.0" +
            " / CAST(g_within AS DOUBLE)) AS BIGINT) END").as("share_ppm"))
        .orderBy("cell")
    }))

  val oracleSql: Map[String, String] = Map(
    "q194_cell_validity" ->
      s"""WITH ${PqOps.coarseChainCtes},
         |norms AS (
         |  SELECT caf.cluster AS cell, CAST(COUNT(DISTINCT p.vec_id) AS BIGINT) AS n_vecs,
         |         CAST(SUM(p.q * p.q) AS BIGINT) AS t2
         |  FROM pts p JOIN caf ON caf.vec_id = p.vec_id
         |  GROUP BY 1
         |), dimsums AS MATERIALIZED (
         |  SELECT caf.cluster AS cell, p.dim, CAST(SUM(p.q) AS BIGINT) AS sv
         |  FROM pts p JOIN caf ON caf.vec_id = p.vec_id
         |  GROUP BY 1, 2
         |), s2 AS (
         |  SELECT cell, CAST(SUM(sv * sv) AS BIGINT) AS s2 FROM dimsums GROUP BY cell
         |), per_cell AS (
         |  SELECT cell, n_vecs, n_vecs * t2 - s2 AS within_num
         |  FROM norms JOIN s2 USING (cell)
         |), g_row AS (
         |  SELECT CAST(-1 AS INTEGER) AS cell,
         |         CAST(SUM(n_vecs) AS BIGINT) AS n_vecs,
         |         CAST(SUM(n_vecs) AS BIGINT) * CAST(SUM(t2) AS BIGINT) - g.s2 AS within_num
         |  FROM norms CROSS JOIN (
         |    SELECT CAST(SUM(sg * sg) AS BIGINT) AS s2
         |    FROM (SELECT dim, CAST(SUM(sv) AS BIGINT) AS sg FROM dimsums GROUP BY dim)
         |  ) g GROUP BY g.s2
         |), al AS (
         |  SELECT * FROM per_cell UNION ALL BY NAME SELECT * FROM g_row
         |)
         |SELECT cell, n_vecs, within_num,
         |       within_num * 1000 // n_vecs AS wss_milli,
         |       (2 * within_num) // (n_vecs * n_vecs) AS disp,
         |       CASE WHEN g.g_within = 0 THEN 0
         |            ELSE CAST(ROUND(CAST(within_num AS DOUBLE) * 1000000.0
         |              / CAST(g.g_within AS DOUBLE)) AS BIGINT) END AS share_ppm
         |FROM al CROSS JOIN (SELECT within_num AS g_within FROM g_row) g
         |ORDER BY cell""".stripMargin)
}
