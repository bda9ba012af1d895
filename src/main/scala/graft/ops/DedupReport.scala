package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q208: the dedup-quality numbers RecallSpec gates, surfaced as a
  * driver-visible report — the q117 move (ANN recall made legible as a
  * registered query) applied to the dedup families. One row per
  * approximate family, scored in-engine against its exact twin:
  *
  *   - q27 MinHash+LSH pairs and q28 SimHash pairs score against the
  *     HIGH-CONFIDENCE exact Jaccard pairs (q26 anchor at j ≥ 0.9,
  *     where an 8×4 band collision is near-certain — the same subset
  *     RecallSpec's exact-recall statement is sound on), with
  *     precision measured against the FULL exact pair set (q27 is
  *     exact-verified, so its precision is 1.0 by construction; a
  *     lower value means broken verification).
  *   - q43 embedding-LSH pairs score against the exact cosine pairs
  *     (q29) on the exact baseline's [[Dedup.EmbeddingExactCap]] slice
  *     — the only region where uncapped ground truth exists.
  *   - q49 (text) and q68 (embedding) component groupings score as
  *     reproduced-group rows vs the exact-pair components (q47 and
  *     components-of-q29 respectively; the embedding side on the same
  *     exact-cap slice). A group row counts as hit only if reproduced
  *     VERBATIM (label, size, max member).
  *
  * recall_r = |approx ∩ truth| / |truth|; precision_r =
  * |approx ∩ precision-base| / |approx|. Every side is deterministic
  * (hash-derived signatures/planes, fixed thresholds), so the report
  * is stable run to run. Rows-only: DuckDB can't replay the xxhash64
  * signatures. The q117 single-reference lesson applies: each live
  * approximate pipeline is referenced ONCE — both counters come off
  * one left-join chain feeding one aggregate; the exact sides are
  * FrameMemo-materialized so their fan-out reads checkpointed blocks.
  *
  * Scale shape: the truth/approx joins are pair-keyed equi-joins over
  * already-sub-quadratic pair frames; the component comparisons join
  * group-count-sized frames. Nothing here adds corpus-scale work
  * beyond the families it audits.
  */
object DedupReport extends graft.QueryModule {

  /** One report row. `approx` is referenced exactly once; `truth` and
    * `precBase` must be cheap or materialized (FrameMemo contract).
    */
  private def score(method: String, approx: DataFrame, keys: Seq[String],
                    truth: DataFrame, precBase: DataFrame): DataFrame = {
    val ks: Seq[Column] = keys.map(col)
    val t = truth.select(ks: _*).withColumn("in_truth", lit(1L))
    val p = precBase.select(ks: _*).withColumn("in_prec", lit(1L))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    approx.select(ks: _*)
      .join(t, keys, "left").join(p, keys, "left")
      .agg(count(lit(1)).as("n_emitted"),
        sum(coalesce(col("in_truth"), lit(0L))).as("n_hit"),
        sum(coalesce(col("in_prec"), lit(0L))).as("n_prec"))
      .crossJoin(nT)
      .select(lit(method).as("method"), col("n_truth"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth"), 4).as("recall_r"),
        col("n_emitted"),
        when(col("n_emitted") > 0,
          round(col("n_prec").cast("double") / col("n_emitted"), 4))
          .as("precision_r"))
  }

  /** Exact-pair components folded to the registered group-row shape
    * (label = min member, size, max member) for verbatim comparison.
    */
  private def groupRows(pairs: DataFrame): DataFrame =
    Dedup.dedupComponents(pairs)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("group_size"), max(col("doc_id")).as("max_member"))

  private def report(s: SparkSession, d: String): DataFrame = {
    val cap = Dedup.EmbeddingExactCap
    // exact text anchor (FrameMemo'd — shared with q26/q47)
    val exactJac = Dedup.jaccardPairs(s, d, threshold = 0.2)
    val strong = FrameMemo.cached(s, d, "report:strongPairs") {
      exactJac.filter(col("jaccard") >= 0.9).select("doc_a", "doc_b")
    }
    val exactP = exactJac.select("doc_a", "doc_b")
    // exact embedding anchor on the q29 cap slice, materialized once
    val exactEmb = FrameMemo.cached(s, d, "report:exactEmbPairs") {
      Dedup.baseQueries("q29_dedup_embedding")(s, d).select("vec_a", "vec_b")
    }
    // group truths, materialized (two component runs over exact pairs)
    val truth47 = FrameMemo.cached(s, d, "report:q47rows") {
      Dedup.componentQueries("q47_dedup_groups")(s, d)
        .select(col("keep_doc_id").as("label"), col("group_size"), col("max_member"))
    }
    val truthEmbGroups = FrameMemo.cached(s, d, "report:embGroupRows") {
      groupRows(exactEmb
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }
    // r18: the q68-slice component rows were the last live iterative
    // leg inside the report — memoized like every other side
    val embSliceGroups = FrameMemo.cached(s, d, "report:embLshSliceGroups") {
      groupRows(SimilaritySearch.embeddingLshPairs(s, d)
        .filter(col("vec_a") < cap && col("vec_b") < cap)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }
    val pairKeys = Seq("doc_a", "doc_b")
    val groupKeys = Seq("label", "group_size", "max_member")
    score("q27_minhash_lsh",
        Dedup.minhashLshPairs(s, d, threshold = 0.2), pairKeys, strong, exactP)
      .unionByName(score("q28_simhash",
        Dedup.simhashPairs(s, d), pairKeys, strong, exactP))
      .unionByName(score("q43_embedding_lsh",
        SimilaritySearch.embeddingLshPairs(s, d)
          .filter(col("vec_a") < cap && col("vec_b") < cap),
        Seq("vec_a", "vec_b"), exactEmb, exactEmb))
      .unionByName(score("q49_lsh_components",
        Dedup.lshGroupRows(s, d)
          .select(col("keep_doc_id").as("label"), col("group_size"), col("max_member")),
        groupKeys, truth47, truth47))
      .unionByName(score("q68_embedding_components_slice",
        embSliceGroups, groupKeys, truthEmbGroups, truthEmbGroups))
      .orderBy("method")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q208_dedup_recall_report" -> ((s, d) => report(s, d)))

  val oracleSql: Map[String, String] = Map.empty

  override val rowsOnly: Set[String] = Set("q208_dedup_recall_report")
}
