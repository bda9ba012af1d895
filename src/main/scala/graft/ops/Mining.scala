package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.cosine

/** Hard-negative mining for contrastive training sets — the step a
  * retrieval/embedding training pipeline runs to turn a labeled corpus
  * into (anchor, hard negative) pairs: for each anchor, the highest-
  * cosine vectors of a DIFFERENT label, annotated with the margin to
  * the anchor's best same-label vector (in-batch negatives are easy;
  * the near-boundary ones are what move the loss — the standard
  * sentence-transformers / DPR mining recipe). Completes the embedding
  * family's training-data story: q30/q31/q42/q148 retrieve, q29/q151
  * dedup, q158 mines the supervision.
  *
  * Semantics: anchors = the q30 anchor set (vec_id < [[MineQueries]]).
  * For each anchor, negatives are ranked by cosine desc (ties by
  * vec_id) and the top [[NegK]] kept; `margin_r` = best same-label
  * cosine − negative cosine (small or negative margin = genuinely hard,
  * the negative outranks every positive). Floats follow the q30
  * discipline: exact doubles through one cosine per pair, ROUND(·, 4)
  * at the presentation edge, identical expression shape in the DuckDB
  * oracle (list_cosine_similarity over DOUBLE[]).
  *
  * Scale shape: the anchor side broadcasts (queries × corpus, the
  * q30/q77/q154 candidate-generation shape — at real scale the anchor
  * set rides an ANN shortlist like q148's instead, same downstream
  * plan); best-positive is ONE per-anchor aggregate off the same
  * scored frame (no second corpus pass); top-k negatives are a
  * per-anchor window over the scored stream. One exchange total.
  */
object Mining extends graft.QueryModule {

  /** Anchor set size — the q30 anchor convention. */
  private[graft] val MineQueries = 10

  /** Hard negatives kept per anchor. */
  private[graft] val NegK = 5

  /** q158: (anchor, hard negative) pairs with hardness margins. */
  def hardNegatives(s: SparkSession, d: String): DataFrame =
    hardNegativesOn(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label")))

  /** Core over any (vec_id, v, label) frame — exposed for the spec's
    * hand-computed fixture (the classifierOn pattern).
    */
  private[graft] def hardNegativesOn(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < MineQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"))
    val scored = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
    val bestPos = scored.filter(col("label") === col("qlabel"))
      .groupBy("query_id").agg(max(col("cos")).as("pos_cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    scored.filter(col("label") =!= col("qlabel"))
      .withColumn("neg_rank", row_number().over(w).cast("int"))
      .filter(col("neg_rank") <= NegK)
      // inner join: an anchor with NO same-label vector has no margin
      // to define and no contrastive use — it drops, loudly visible as
      // a missing anchor in the output rather than a null margin
      .join(bestPos, Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neg_id"), col("neg_rank"),
        col("label").as("neg_label"),
        round(col("cos"), 4).as("neg_cos_r"),
        round(col("pos_cos") - col("cos"), 4).as("margin_r"))
      .orderBy("query_id", "neg_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_hard_negatives" -> ((s, d) => hardNegatives(s, d)))

  val oracleSql: Map[String, String] = Map(
    "q158_hard_negatives" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |  FROM embeddings
         |), scored AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, q.label AS qlabel,
         |         e.vec_id, e.label,
         |         list_cosine_similarity(q.v, e.v) AS cos
         |  FROM e q JOIN e ON q.vec_id < $MineQueries AND e.vec_id <> q.vec_id
         |), best_pos AS MATERIALIZED (
         |  SELECT query_id, MAX(cos) AS pos_cos
         |  FROM scored WHERE label = qlabel GROUP BY query_id
         |), negs AS MATERIALIZED (
         |  SELECT query_id, vec_id, label, cos,
         |         CAST(ROW_NUMBER() OVER (
         |           PARTITION BY query_id
         |           ORDER BY cos DESC, vec_id) AS INTEGER) AS neg_rank
         |  FROM scored WHERE label <> qlabel
         |)
         |SELECT n.query_id, n.vec_id AS neg_id, n.neg_rank,
         |       n.label AS neg_label,
         |       ROUND(n.cos, 4) AS neg_cos_r,
         |       ROUND(p.pos_cos - n.cos, 4) AS margin_r
         |FROM negs n JOIN best_pos p USING (query_id)
         |WHERE n.neg_rank <= $NegK
         |ORDER BY query_id, neg_rank""".stripMargin)
}
