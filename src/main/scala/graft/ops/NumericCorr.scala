package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Numeric correlation report — Pearson r between the lineitem
  * measures (discount↔quantity, discount↔price, quantity↔price) from
  * ONE corpus pass of exact integer sums: the pricing-analytics read
  * (is the discount schedule actually moving volume?) and the q192
  * OLS machinery generalized from a fitted line to the symmetric
  * correlation matrix. Built-in `corr()` computes running float
  * moments whose partial-merge order varies run to run — useless
  * under a bit-level oracle; this shape is the deterministic
  * replacement.
  *
  * Determinism: measures quantize at fixed grains (discount →
  * integer cents-of-rate, price → whole dollars, quantity already
  * integral — each an identical IEEE ROUND both engines); all ten
  * sums (Σx Σy Σz Σxx Σyy Σzz Σxy Σxz Σyz n) are EXACT int64 at
  * corpus n (max term ~1.2·10¹⁰ × 6·10⁵ rows ≈ 7·10¹⁵; at 10⁹+ rows
  * coarsen the price grain or pre-aggregate hierarchically — the
  * q192 note); the Pearson tail runs in doubles with pinned textual
  * operation order (int64→double casts deterministic at any
  * magnitude, mul/sub/sqrt/div correctly rounded → identical both
  * engines), one signed ROUND (q182/q185 convention), zero-variance
  * guarded to 0.
  *
  * Scale shape: ONE narrow map-side-combined fold to a 1-row sum
  * frame; the 3-row report explodes from it at the model edge.
  */
object NumericCorr extends graft.QueryModule {

  private def corrExpr(sx: String, sy: String, sxx: String, syy: String,
                       sxy: String): String =
    s"""CASE WHEN (CAST(n AS DOUBLE) * CAST($sxx AS DOUBLE)
       |       - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE)) = 0.0
       |     OR (CAST(n AS DOUBLE) * CAST($syy AS DOUBLE)
       |       - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE)) = 0.0 THEN 0
       | ELSE CAST(ROUND((CAST(n AS DOUBLE) * CAST($sxy AS DOUBLE)
       |   - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE)) * 1000000.0
       |   / SQRT((CAST(n AS DOUBLE) * CAST($sxx AS DOUBLE)
       |       - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))
       |     * (CAST(n AS DOUBLE) * CAST($syy AS DOUBLE)
       |       - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE)))) AS BIGINT) END"""
      .stripMargin.replace("\n", "")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q204_numeric_correlations" -> ((s, d) => {
      val sums = Tables.lineitem(s, d)
        .select(expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("x"),
          expr("CAST(l_quantity AS BIGINT)").as("y"),
          expr("CAST(ROUND(l_extendedprice) AS BIGINT)").as("z"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("z") * col("z")).as("szz"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("z")).as("sxz"),
          sum(col("y") * col("z")).as("syz"))
      sums.select(col("n"), explode(array(
          struct(lit("discount_quantity").as("pair"),
            expr(corrExpr("sx", "sy", "sxx", "syy", "sxy")).as("corr_ppm")),
          struct(lit("discount_price").as("pair"),
            expr(corrExpr("sx", "sz", "sxx", "szz", "sxz")).as("corr_ppm")),
          struct(lit("quantity_price").as("pair"),
            expr(corrExpr("sy", "sz", "syy", "szz", "syz")).as("corr_ppm"))))
          .as("p"))
        .select(col("p.pair").as("pair"), col("n"), col("p.corr_ppm").as("corr_ppm"))
        .orderBy("pair")
    }))

  val oracleSql: Map[String, String] = Map(
    "q204_numeric_correlations" -> {
      def one(name: String, sx: String, sy: String, sxx: String, syy: String,
              sxy: String): String =
        s"""SELECT '$name' AS pair, n,
           |       ${corrExpr(sx, sy, sxx, syy, sxy).replace(" DIV ", " // ")} AS corr_ppm
           |FROM sums""".stripMargin
      s"""WITH q AS (
         |  SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
         |         CAST(l_quantity AS BIGINT) AS y,
         |         CAST(ROUND(l_extendedprice) AS BIGINT) AS z
         |  FROM lineitem
         |), sums AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |         CAST(SUM(z) AS BIGINT) AS sz,
         |         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         |         CAST(SUM(z * z) AS BIGINT) AS szz,
         |         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * z) AS BIGINT) AS sxz,
         |         CAST(SUM(y * z) AS BIGINT) AS syz
         |  FROM q
         |)
         |SELECT pair, n, corr_ppm FROM (
         |${one("discount_quantity", "sx", "sy", "sxx", "syy", "sxy")}
         |UNION ALL
         |${one("discount_price", "sx", "sz", "sxx", "szz", "sxz")}
         |UNION ALL
         |${one("quantity_price", "sy", "sz", "syy", "szz", "syz")}
         |)
         |ORDER BY pair""".stripMargin
    })
}
