package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q210: dominant spectral direction of the embedding second-moment
  * matrix by fixed-round power iteration (von Mises & Pollaczek-
  * Geiringer 1929) — the spectral summary an embedding-quality audit
  * reads next to q186's per-dim cards: which direction carries the
  * corpus's energy, and how anisotropic the cloud is (LLM embedding
  * spaces are notoriously anisotropy-dominated; the top direction is
  * what "all vectors share a common component" looks like).
  *
  * Cross-engine exactness (the q132/q165 fixed-round discipline):
  * components quantize once at the model edge (q = ROUND(x·1000),
  * identical IEEE in both engines); the Gram matrix G = Σ q qᵀ is an
  * exact int64 aggregate; each round computes w = G·v in exact integer
  * arithmetic and renormalizes by v ← w·1000 DIV max|w| — integer
  * division truncating toward zero, which Spark DIV, Scala Long
  * division, and DuckDB // all agree on (the q147 pin, re-verified
  * r17: -7//2 = -3 in DuckDB). The oracle replays every round as
  * unrolled CTEs, so all Rounds+1 iterates are hash-gated, not just
  * the final direction. Rounds = 30 and the quality statement is
  * ENERGY, not direction: the corpus spectrum is near-degenerate
  * (λ2/λ1 = 0.983 measured), so no finite-round iterate pins the
  * eigenVECTOR — what power iteration guarantees, and what the spec
  * gates, is the monotone Rayleigh quotient, which reaches 99.3% of
  * λ1 by round 30 (any unit vector in the near-degenerate top
  * subspace is an equally valid "dominant direction"). Each round is
  * one ≤64-row CTE pair in the oracle — 30 rounds is a trivial
  * replay.
  *
  * Scale shape: ONE dim²-key map-side-combined shuffle builds G (each
  * vector contributes its dim² outer-product terms via a per-vec_id
  * self-join — the standard distributed Gram plan); the iteration runs
  * driver-side on the collected dim² ≤ 64² matrix (model edge, the
  * q132 centroid-collect bound — never scales with the corpus).
  *
  * Overflow audit: |q| ≤ 1000·max|x| (~2·10³), G cells ≤ n·q² (~10¹⁰
  * at sf0.1), w ≤ dim·G·1000 (~10¹⁷) — all inside int64 with two
  * orders of headroom; PowerIterationSpec pins the corpus magnitudes.
  * The n·q² bound is also a RUNTIME GUARD in buildGram (exact BigInt
  * check per cell, ≥10× headroom required): past the ceiling Spark's
  * Long SUM would wrap silently while DuckDB promotes to HUGEINT and
  * errors on the BIGINT cast — the engines would diverge instead of
  * failing together, so the build fails loudly first.
  */
object PowerIteration extends graft.QueryModule {

  private[graft] val Rounds = 30
  private[graft] val Scale = 1000L

  /** Exact integer power iteration on a collected Gram map — shared by
    * the registered query and the spec's independent replay.
    */
  private[graft] def iterate(gram: Map[(Int, Int), Long], dim: Int)
      : Seq[(Int, Int, Long)] = {
    var v = Array.fill(dim)(Scale)
    val out = Seq.newBuilder[(Int, Int, Long)]
    (0 until dim).foreach(i => out += ((0, i, v(i))))
    for (r <- 1 to Rounds) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0L
        var j = 0
        while (j < dim) { acc += gram((i, j)) * v(j); j += 1 }
        acc
      }
      val sMax = w.map(math.abs).max
      require(sMax > 0, "degenerate all-zero Gram product")
      v = w.map(x => x * Scale / sMax) // Long / truncates toward zero = DIV = //
      (0 until dim).foreach(i => out += ((r, i, v(i))))
    }
    out.result()
  }

  /** The embedding Gram matrix as a driver-side map (≤64² longs),
    * FrameMemo'd — q210 and q214 share the identical matrix, and the
    * dim²-key shuffle is the only corpus-scale work either query does.
    */
  private[graft] def gramOf(s: SparkSession, d: String): Map[(Int, Int), Long] =
    FrameMemo.value(s, d, "gram")(buildGram(s, d))

  /** The Gram CELL frame (i, j, g, n, max|q_i|, max|q_j|) as a FrameMemo
    * artifact. r21 plan change (guide §2.3/§2.4 "aggregate before you
    * shuffle / remove shuffles outright"): the r20 shape self-joined the
    * posexploded point table on vec_id — an Exchange of 2·(n·dim) rows,
    * a sort-merge join, and n·dim² join-output rows feeding the
    * aggregate. But both join sides are THE SAME ROW's array, so the
    * outer product can be generated narrowly inside the scan (two
    * chained posexplodes over the quantized array) and the only exchange
    * left is the dim²-key map-side-combined aggregate itself — cell
    * values are bit-identical (exact integer sums over the identical
    * multiset of q_i·q_j terms, regrouping-invariant). Plan: 3 Exchanges
    * + SortMergeJoin → 1 Exchange, no join (plans/r21/q210_*.txt).
    * Every column is an exact integer aggregate, so the cell frame is
    * partition-order-independent.
    */
  private[graft] def gramCells(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "gramCells") {
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr(s"transform(CAST(embedding AS array<double>), " +
            s"x -> CAST(ROUND(x * $Scale) AS BIGINT))").as("qs"))
        .select(posexplode(col("qs")).as(Seq("i", "qa")), col("qs"))
        .select(col("i"), col("qa"), posexplode(col("qs")).as(Seq("j", "qb")))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("qa") * col("qb")).as("g"), count(lit(1)).as("n"),
          max(abs(col("qa"))).as("max_qa"), max(abs(col("qb"))).as("max_qb"))
    }

  private def buildGram(s: SparkSession, d: String): Map[(Int, Int), Long] = {
    // overflow GUARD, not just audit: Spark's Long SUM wraps silently at
    // larger corpora while DuckDB promotes to HUGEINT and errors on the
    // BIGINT cast — the engines would DIVERGE rather than fail together.
    // |q·q| ≤ maxQ², so n_vecs·maxQ² bounds every cell; fail loudly
    // while the bound still has an order of headroom. At sf0.1 the cell
    // max is ~1e10 (2e8 headroom ×45); a corpus past ~4e17/maxQ² vectors
    // must re-derive Scale (coarser quantization) before using q210/q214.
    gramCells(s, d)
      .collect().map { r =>
        val bound = BigInt(r.getLong(3)) * BigInt(r.getLong(4)) * BigInt(r.getLong(5))
        require(bound * 10 <= BigInt(Long.MaxValue),
          s"Gram cell int64 ceiling: ${r.getLong(3)} vectors at max|q| " +
            s"${r.getLong(4)}x${r.getLong(5)} leaves <10x headroom on the exact " +
            s"Σq·q — lower Scale ($Scale) before trusting q210/q214 at this corpus size")
        ((r.getInt(0), r.getInt(1)), r.getLong(2))
      }.toMap
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q210_power_iteration" -> ((s, d) => {
      import s.implicits._
      val gram = gramOf(s, d)
      val dim = gram.keysIterator.map(_._1).max + 1
      iterate(gram, dim).toDF("iter", "dim_i", "v").orderBy("iter", "dim_i")
    }))

  /** Every round unrolled; the generate_subscripts/unnest positional
    * zip is the q60/q150 proven idiom.
    */
  val oracleSql: Map[String, String] = {
    val rounds = (1 to Rounds).map { r =>
      // MATERIALIZED is load-bearing: each round CTE is referenced
      // twice (the next round's join + its own MAX(ABS) scalar), so a
      // non-materialized chain inlines ~2^Rounds times and never
      // finishes in DuckDB
      s"""w$r AS MATERIALIZED (
         |  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS w
         |  FROM gram g JOIN v${r - 1} v ON v.i = g.j GROUP BY g.i
         |), v$r AS MATERIALIZED (
         |  SELECT i, CAST((w * $Scale) // (SELECT MAX(ABS(w)) FROM w$r) AS BIGINT) AS v
         |  FROM w$r
         |)""".stripMargin
    }.mkString(", ")
    val unions = (0 to Rounds).map(r =>
      s"SELECT $r AS iter, i AS dim_i, v FROM v$r").mkString("\n|UNION ALL ")
    Map("q210_power_iteration" ->
      s"""WITH pts AS MATERIALIZED (
         |  SELECT vec_id,
         |         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS i,
         |         CAST(ROUND(unnest(CAST(embedding AS DOUBLE[])) * $Scale) AS BIGINT) AS q
         |  FROM embeddings
         |), gram AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
         |  FROM pts a JOIN pts b USING (vec_id)
         |  GROUP BY 1, 2
         |), v0 AS (
         |  SELECT DISTINCT i, CAST($Scale AS BIGINT) AS v FROM pts
         |), $rounds
         |SELECT CAST(iter AS INTEGER) AS iter, dim_i, v FROM (
         |$unions)
         |ORDER BY iter, dim_i""".stripMargin)
  }
}
