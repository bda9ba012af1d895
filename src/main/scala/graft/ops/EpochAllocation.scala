package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Token-budget epoch allocation — the data-mixing PLAN behind a
  * training run (the computation the Llama/Gopher data cards publish
  * and "Scaling Data-Constrained Language Models" formalizes): given a
  * token budget B, per-source corpus sizes, temperature-weighted
  * sampling targets (w_s = √n_s, q78's α = 0.5), and a repetition cap
  * of [[EMax]] epochs per source (past ~4 repeats, marginal tokens stop
  * helping), decide how many tokens each source contributes. Capping a
  * small source redistributes its unused share to the rest — the
  * WATER-FILLING fixed point, computed here in CLOSED FORM rather than
  * by iteration: sorted by cap-trigger ratio cap_s/w_s ascending, the
  * capped set is a PREFIX of the order, so one window pass of exclusive
  * prefix sums decides every source (the running-AND keeps the prefix
  * shape explicit), and the only division is the final truncating
  * proportional fill.
  *
  * Reference scope: no reference twin; the planning layer over q78's
  * row-level temperature sampling (q78 enforces rates; this decides
  * them under a budget and a cap).
  *
  * Determinism: token counts are exact integers; w_s = floor(√n_s) is
  * IEEE-exact (sqrt is correctly rounded, so perfect squares are exact
  * and the floor never straddles — no q154-class hazard); the sort key
  * is the integer-quantized ratio (cap·10⁶)/w with source tie-break;
  * every cap decision is an integer cross-multiplication (no division,
  * no float); allocations and epoch rationals use truncating division
  * (Scala `/` ≡ DuckDB `//`). Overflow: B·w_s ≈ 3·Σn·√max n — int64-
  * safe through ~10¹² corpus tokens; past that, express budgets in
  * millions of tokens (the comparison is scale-invariant).
  *
  * Scale shape: the corpus pays one tokenize + source groupBy
  * (map-side-combined, |sources| keys); everything after runs on the
  * |sources|-row frame — the global window is over a dim-sized table
  * (bounded by the source catalog, like q16's dim build).
  */
object EpochAllocation extends graft.QueryModule {

  /** Budget = [[BudgetMult]] × total corpus tokens. */
  private[graft] val BudgetMult = 3L

  /** Repetition cap: a source contributes at most this many epochs. */
  private[graft] val EMax = 4L

  /** The allocator over any (source, n) count table — exposed for the
    * spec's skewed fixtures (the near-uniform corpus never trips the
    * cap at realistic settings; a real corpus mix does constantly). */
  private[graft] def allocate(counts: DataFrame): DataFrame = {
    val stats = counts.agg(
      sum(col("n")).as("t"),
      sum(floor(sqrt(col("n").cast("double"))).cast("long")).as("tw"))
    val base = counts
      .withColumn("w", floor(sqrt(col("n").cast("double"))).cast("long"))
      .withColumn("cap", col("n") * EMax)
      .crossJoin(broadcast(stats))
      .withColumn("b", col("t") * BudgetMult)
      .withColumn("rk", expr("cap * 1000000 DIV w"))
    val ord = Window.orderBy("rk", "source")
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val decided = base
      .withColumn("pc", coalesce(sum(col("cap")).over(before), lit(0L)))
      .withColumn("pw", coalesce(sum(col("w")).over(before), lit(0L)))
      // capped iff, with every lower-ratio source already capped, the
      // proportional share still exceeds the cap — integer cross-mult
      .withColumn("cond",
        (col("w") * (col("b") - col("pc")) >
          col("cap") * (col("tw") - col("pw"))).cast("int"))
      // the theorem says the capped set is a prefix; the running AND
      // makes that shape explicit instead of assumed
      .withColumn("capped", min(col("cond")).over(upTo))
    val totals = decided.agg(
      sum(when(col("capped") === 1, col("cap")).otherwise(0L)).as("cb"),
      sum(when(col("capped") === 1, col("w")).otherwise(0L)).as("cw"))
    decided.crossJoin(broadcast(totals))
      .withColumn("alloc",
        when(col("capped") === 1, col("cap"))
          .otherwise(expr("(b - cb) * w DIV (tw - cw)")))
      .select(col("source"), col("n").as("n_tokens"), col("w"),
        col("capped").cast("int").as("capped"), col("alloc").as("alloc_tokens"),
        expr("alloc * 1000000 DIV n").as("epochs_u"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q173_epoch_allocation" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      allocate(counts)
    }))

  val oracleSql: Map[String, String] = Map(
    "q173_epoch_allocation" ->
      s"""WITH counts AS MATERIALIZED (
         |  SELECT source, COUNT(*) AS n
         |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |        FROM documents)
         |  GROUP BY source
         |), base AS (
         |  SELECT source, n,
         |         CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w,
         |         n * $EMax AS cap
         |  FROM counts
         |), st AS (
         |  SELECT CAST(SUM(n) AS BIGINT) * $BudgetMult AS b,
         |         CAST(SUM(w) AS BIGINT) AS tw
         |  FROM base
         |), decided AS MATERIALIZED (
         |  SELECT *,
         |         MIN(cond) OVER (ORDER BY rk, source
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
         |  FROM (
         |    SELECT base.*, st.b, st.tw, rk,
         |           CAST(w * (st.b - pc) > cap * (st.tw - pw) AS INTEGER) AS cond
         |    FROM (
         |      SELECT *, cap * 1000000 // w AS rk,
         |             COALESCE(SUM(cap) OVER (ORDER BY cap * 1000000 // w, source
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pc,
         |             COALESCE(SUM(w) OVER (ORDER BY cap * 1000000 // w, source
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pw
         |      FROM base
         |    ) base, st
         |  )
         |), totals AS (
         |  SELECT CAST(SUM(CASE WHEN capped = 1 THEN cap ELSE 0 END) AS BIGINT) AS cb,
         |         CAST(SUM(CASE WHEN capped = 1 THEN w ELSE 0 END) AS BIGINT) AS cw
         |  FROM decided
         |)
         |SELECT source, n AS n_tokens, w, CAST(capped AS INTEGER) AS capped,
         |       CASE WHEN capped = 1 THEN cap
         |            ELSE (b - cb) * w // (tw - cw) END AS alloc_tokens,
         |       (CASE WHEN capped = 1 THEN cap
         |             ELSE (b - cb) * w // (tw - cw) END) * 1000000 // n AS epochs_u
         |FROM decided, totals
         |ORDER BY source""".stripMargin)
}
