package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q214: per-vector loading on the corpus's dominant direction — the
  * "all-but-the-top" diagnostic (Mu & Viswanath 2018): anisotropic
  * embedding spaces carry a large common component that drowns cosine
  * contrast, and the remediation (subtract the top direction) starts
  * by MEASURING each vector's loading on it. This composes q210: the
  * direction is the 30-round integer power iterate v (the model edge),
  * and each vector's loading is the exact integer dot product
  * dot = Σ qᵢ·vᵢ over the same ROUND(x·1000) quantization. The report
  * aggregates per label: n, mean loading (DIV), min/max — the
  * per-cluster common-component strength an embedding audit reads
  * next to q186's cards and q182's centroid matrix.
  *
  * Exactness: v comes from the q210 iteration (hash-gated there); the
  * dot and the per-label integer fold are exact int64 (|dot| ≤
  * dim·2·10³·10³ ≈ 1.3·10⁸); mean is integer DIV (truncation pinned
  * q147/q210). The oracle re-derives v through the SAME 30
  * materialized round CTEs as q210 and joins it onto the per-vector
  * dots — one source of truth for the direction, replayed not copied.
  *
  * Scale shape: the iteration's Gram build is the q210 dim²-key
  * shuffle (amortized at the model edge); scoring is a BROADCAST of
  * the dim-length direction onto one narrow corpus scan + a |labels|-
  * key fold — the standard model-inference plan (q153's shape with a
  * 64-number model).
  */
object CommonDirection extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_common_direction" -> ((s, d) => {
      val gram = PowerIteration.gramOf(s, d)
      val dim = gram.keysIterator.map(_._1).max + 1
      val vFinal = PowerIteration.iterate(gram, dim)
        .filter(_._1 == PowerIteration.Rounds).sortBy(_._2).map(_._3)
      val vCol = array(vFinal.map(x => lit(x)): _*)
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
        .select(col("vec_id"), col("label"),
          (expr(s"CAST(ROUND(x * ${PowerIteration.Scale}) AS BIGINT)")
            * element_at(vCol, col("i") + 1)).as("term"))
        .groupBy("vec_id", "label").agg(sum(col("term")).as("dot"))
        .groupBy("label").agg(count(lit(1)).as("n_vecs"),
          expr("CAST(SUM(dot) DIV COUNT(*) AS BIGINT)").as("mean_dot"),
          min(col("dot")).as("min_dot"), max(col("dot")).as("max_dot"))
        .orderBy("label")
    }))

  /** The q210 round chain replayed verbatim (materialized — see the
    * q210 inlining note), then the per-vector dot + per-label fold.
    */
  val oracleSql: Map[String, String] = {
    val q210 = PowerIteration.oracleSql("q210_power_iteration")
    // reuse everything up to the final SELECT of the q210 oracle
    val prefix = q210.substring(0, q210.indexOf("\nSELECT CAST(iter"))
    Map("q214_common_direction" ->
      s"""$prefix,
         |dots AS (
         |  SELECT p.vec_id, CAST(SUM(p.q * v.v) AS BIGINT) AS dot
         |  FROM pts p JOIN v${PowerIteration.Rounds} v ON v.i = p.i
         |  GROUP BY p.vec_id
         |)
         |SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(CAST(SUM(d.dot) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_dot,
         |       CAST(MIN(d.dot) AS BIGINT) AS min_dot,
         |       CAST(MAX(d.dot) AS BIGINT) AS max_dot
         |FROM dots d JOIN embeddings e USING (vec_id)
         |GROUP BY e.label
         |ORDER BY e.label""".stripMargin)
  }
}
