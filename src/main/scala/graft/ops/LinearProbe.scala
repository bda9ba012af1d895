package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Linear probe trained IN-ENGINE on the embedding column by exact
  * integer batch gradient descent — the quality-classifier recipe
  * (FineWeb-Edu, the LLM-as-annotator pipelines): embed once, train a
  * linear head on a labeled slice, score the corpus with it. Training a
  * probe is a sequence of full-batch gradient sums, and a gradient sum
  * is a map-side-combined aggregate — exactly what the engine is good
  * at, so the probe trains where the data lives instead of collecting
  * vectors to a driver-side optimizer.
  *
  * Reference scope: no reference twin (the reference stops at SQL
  * aggregates); this extends the q132/q147 exact-integer iterative-
  * training family from unsupervised (k-means/PQ) to supervised.
  *
  * Determinism contract (the q132 discipline): features quantize to
  * round(x·1000) longs; targets are ±1 at scale 10⁹ (= feature scale
  * 10³ × weight scale 10⁶); every prediction, residual, and gradient is
  * an exact int64 sum, and the per-round weight update divides by
  * 2·n·10⁶ with TRUNCATING division (Scala Long `/` ≡ DuckDB `//`, the
  * q147 pin) — so all [[Rounds]]·[[Dims]] weights are bit-identical
  * cross-engine, with no float accumulation order anywhere. The
  * learning rate 1/(2n) sits well inside the GD stability bound
  * (λmax ≤ Σᵢ‖xᵢ‖² ≈ 1.44·n in true units → lr < 1/(0.72·n)).
  * Overflow headroom: |x|≤10³ · |r|≲2·10⁹ · n ≈ 10⁵ keeps gradient
  * sums < 10¹⁸ through 100× the test scale; past that, raise the
  * weight grain before n does it for you.
  *
  * Scale shape: ONE narrow pass per round — prediction and residual are
  * row-local array folds over the broadcast weight literals (zip_with +
  * aggregate, codegen'd; no join against a weight table), the gradient
  * is one posexplode into a [[Dims]]-key map-side-combined shuffle, and
  * only [[Dims]] longs reach the driver per round (the IVF
  * collected-model pattern). No per-round residual join: the residual
  * rides the SAME row as the features it multiplies.
  */
object LinearProbe extends graft.QueryModule {

  private[graft] val Dims = 64
  private[graft] val Rounds = 3

  /** One-vs-rest target class for the probe. */
  private[graft] val TargetLabel = 0

  /** Target scale: feature grain 10³ × weight grain 10⁶. */
  private[graft] val YScale = 1000000000L

  /** (vec_id, label, y, x[Dims]) with x = round(component·1000). */
  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      when(col("label") === TargetLabel, 1L).otherwise(-1L).as("y"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000.0, 0).cast("long")).as("x"))

  /** Train [[Rounds]] full-batch GD rounds from w=0; returns the
    * weight vector after each round. Exposed for the spec. */
  private[graft] def train(xq: DataFrame, n: Long): Seq[Array[Long]] = {
    val div = 2L * n * 1000000L
    var w = Array.fill(Dims)(0L)
    (1 to Rounds).map { _ =>
      val wLit = typedLit(w.toSeq)
      val resid = xq.select(col("x"),
        (aggregate(zip_with(col("x"), wLit, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v) - col("y") * lit(YScale)).as("r"))
      val g = resid.select(col("r"), posexplode(col("x")).as(Seq("j", "xv")))
        .groupBy("j").agg(sum(col("xv") * col("r")).as("g"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = Array.tabulate(Dims)(j => w(j) - g(j) / div)
      w
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the training run itself: every round's full weight vector, so the
    // oracle replays the OPTIMIZATION, not just the final state
    "q165_linear_probe_train" -> ((s, d) => {
      import s.implicits._
      val xq = quantized(s, d).localCheckpoint()
      val ws = train(xq, xq.count())
      ws.zipWithIndex.flatMap { case (w, r) =>
        w.zipWithIndex.map { case (wj, j) => (r + 1, j, wj) }
      }.toDF("gd_round", "j", "w").orderBy("gd_round", "j")
    }),

    // the probe APPLIED: per label the integer score mass under the
    // final weights — the separation report a pipeline gates on before
    // trusting the probe to filter (target label must carry the top
    // mean score; the spec pins it, the driver hashes the numbers)
    "q166_probe_scores" -> ((s, d) => {
      val xq = quantized(s, d).localCheckpoint()
      val w = train(xq, xq.count()).last
      val wLit = typedLit(w.toSeq)
      xq.select(col("label"),
        aggregate(zip_with(col("x"), wLit, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("score"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("sum_score"))
        .orderBy("label")
    }))

  /** The shared GD chain as DuckDB CTEs: w1..w3 materialized per round. */
  private def gdCtes: String = {
    val rounds = (1 to Rounds).map { k =>
      val prev = s"w${k - 1}"
      s"""r$k AS MATERIALIZED (
         |  SELECT q.vec_id, CAST(SUM(q.x * w.w) AS BIGINT) - ANY_VALUE(q.y) * $YScale AS r
         |  FROM xq q JOIN $prev w USING (j)
         |  GROUP BY q.vec_id
         |), g$k AS (
         |  SELECT q.j, CAST(SUM(q.x * r.r) AS BIGINT) AS g
         |  FROM xq q JOIN r$k r USING (vec_id)
         |  GROUP BY q.j
         |), w$k AS MATERIALIZED (
         |  SELECT w.j, CAST(w.w - g.g // (2 * (SELECT n FROM nn) * 1000000) AS BIGINT) AS w
         |  FROM w${k - 1} w JOIN g$k g USING (j)
         |)""".stripMargin
    }.mkString(",\n")
    s"""xq AS MATERIALIZED (
       |  SELECT vec_id, label,
       |         CASE WHEN label = $TargetLabel THEN 1 ELSE -1 END AS y,
       |         CAST(t.i AS INTEGER) AS j,
       |         CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) * 1000.0) AS BIGINT) AS x
       |  FROM embeddings, range($Dims) t(i)
       |), nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |w0 AS (SELECT CAST(t.j AS INTEGER) AS j, CAST(0 AS BIGINT) AS w FROM range($Dims) t(j)),
       |$rounds""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q165_linear_probe_train" ->
      s"""WITH $gdCtes
         |SELECT gd_round, j, w FROM (
         |${(1 to Rounds).map(k =>
            s"  SELECT $k AS gd_round, j, w FROM w$k").mkString("\n  UNION ALL\n")}
         |)
         |ORDER BY gd_round, j""".stripMargin,

    "q166_probe_scores" ->
      s"""WITH $gdCtes,
         |scored AS (
         |  SELECT q.vec_id, ANY_VALUE(q.label) AS label, CAST(SUM(q.x * w.w) AS BIGINT) AS score
         |  FROM xq q JOIN w$Rounds w USING (j)
         |  GROUP BY q.vec_id
         |)
         |SELECT label, COUNT(*) AS n, CAST(SUM(score) AS BIGINT) AS sum_score
         |FROM scored GROUP BY label ORDER BY label""".stripMargin)
}
