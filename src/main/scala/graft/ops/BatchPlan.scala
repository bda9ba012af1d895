package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Padding-waste audit for sequence batching — the planning number
  * behind length-grouped batching (HF `group_by_length`, the
  * bucketing every serious fine-tuning loader ships): a batch pads
  * every sequence to its longest member, so ARRIVAL-ordered batches
  * burn compute on pad tokens while LENGTH-sorted batches put
  * near-equal sequences together. This op quantifies the gap on the
  * actual corpus: both strategies' total pad tokens under the same
  * batch size, as one report the training team reads before picking a
  * loader. Complements q70 (which PACKS multiple short docs into one
  * window — the other padding cure) and q173 (the mixing plan).
  *
  * Determinism: lengths are exact token counts; the arrival order is
  * doc_id (the ingest key), the length order is (n_tokens, doc_id);
  * batch membership is ROW_NUMBER arithmetic and the waste is an
  * integer sum — bit-stable, fully oracle-replayed.
  *
  * Scale shape: one tokenize to a (doc_id, n_tokens) frame, then two
  * global ROW_NUMBER windows over ONE NARROW ROW PER DOC — the q167
  * argument: a range-partitioned sort of doc-count rows is exactly
  * what the engine's window machinery is for, and the per-batch
  * aggregate that follows is |docs|/BatchSize keys with map-side
  * combine. Nothing wider than 16 bytes/row moves.
  */
object BatchPlan extends graft.QueryModule {

  /** Sequences per batch (padding is per batch to its max length). */
  private[graft] val BatchSize = 8

  /** Range partitions for the distributed global rank. */
  private[graft] val RankParts = 32

  /** Scale-correct global 0-based rank over a total order: range-
    * partition on the order keys, rank WITHIN partitions, add the
    * collected per-partition offsets (≤ [[RankParts]] longs — the
    * collected-model pattern). A bare `Window.orderBy` would drag the
    * whole corpus into ONE partition (the failure PlanSpec's
    * unpartitioned-window sweep exists to catch); range boundaries are
    * sampled, so the frame is frozen with a localCheckpoint — the
    * count pass and the rank pass must see the SAME layout. The rank
    * itself is layout-independent (the order keys are a total order),
    * so the sampled boundaries never reach the answer.
    */
  private[graft] def withGlobalRank(df: DataFrame,
                                    orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val parted = df.repartitionByRange(RankParts, orderCols: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val counts = parted.groupBy("pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until RankParts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offCol = element_at(
      typedLit((0 until RankParts).map(p => p -> offsets(p)).toMap), col("pid"))
    val w = Window.partitionBy("pid").orderBy(orderCols: _*)
    parted.withColumn("rn",
      row_number().over(w).cast("long") - 1L + offCol)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q176_batch_padding" -> ((s, d) => {
      val lens = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
      def report(strategy: String, orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
        withGlobalRank(lens, orderCols)
          .withColumn("b", expr(s"rn DIV $BatchSize"))
          .groupBy("b")
          .agg(count(lit(1)).as("bs"), sum(col("n")).as("toks"), max(col("n")).as("mx"))
          .agg(
            count(lit(1)).as("n_batches"),
            sum(col("toks")).as("real_tokens"),
            sum(col("mx") * col("bs") - col("toks")).as("pad_tokens"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("real_tokens"), col("pad_tokens"),
            expr("pad_tokens * 1000000 DIV (real_tokens + pad_tokens)")
              .as("pad_frac_u"))
      }
      report("arrival", Seq(col("doc_id")))
        .unionByName(report("length_sorted", Seq(col("n"), col("doc_id"))))
        .orderBy("strategy")
    }))

  val oracleSql: Map[String, String] = Map(
    "q176_batch_padding" ->
      s"""WITH lens AS MATERIALIZED (
         |  SELECT doc_id,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
         |  FROM documents
         |), arrival AS (
         |  SELECT 'arrival' AS strategy, b, COUNT(*) AS bs,
         |         CAST(SUM(n) AS BIGINT) AS toks, MAX(n) AS mx
         |  FROM (SELECT n, (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // $BatchSize AS b
         |        FROM lens)
         |  GROUP BY b
         |), bylen AS (
         |  SELECT 'length_sorted' AS strategy, b, COUNT(*) AS bs,
         |         CAST(SUM(n) AS BIGINT) AS toks, MAX(n) AS mx
         |  FROM (SELECT n, (ROW_NUMBER() OVER (ORDER BY n, doc_id) - 1) // $BatchSize AS b
         |        FROM lens)
         |  GROUP BY b
         |)
         |SELECT strategy, COUNT(*) AS n_batches,
         |       CAST(SUM(toks) AS BIGINT) AS real_tokens,
         |       CAST(SUM(mx * bs - toks) AS BIGINT) AS pad_tokens,
         |       CAST(SUM(mx * bs - toks) AS BIGINT) * 1000000
         |         // (CAST(SUM(toks) AS BIGINT) + CAST(SUM(mx * bs - toks) AS BIGINT))
         |         AS pad_frac_u
         |FROM (SELECT * FROM arrival UNION ALL SELECT * FROM bylen)
         |GROUP BY strategy
         |ORDER BY strategy""".stripMargin)
}
