package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Semi-supervised LABEL PROPAGATION over a cell-bounded kNN graph —
  * the cheap-label amplifier a curation pipeline runs when only the
  * hash-split train slice carries trusted labels (Zhu & Ghahramani
  * 2002, in its frontier/clamped form): seeds (train-split vectors)
  * keep their label; each still-unlabeled vector adopts the majority
  * label among its k nearest labeled neighbors, two synchronous
  * rounds, ties to the smallest label, no labeled neighbors → stays
  * null (an explicit abstention, not a guess).
  *
  * Graph: neighbors meet ONLY inside their coarse k-means cell (the
  * q147/q148/q151 16-cell integer quantizer — one model, FOUR
  * consumers now), ranked by EXACT integer squared L2 on the q132
  * quantized grid, ties by vec_id — so the whole graph, and therefore
  * the whole propagation, is bit-deterministic cross-engine; no float
  * ever orders anything. k = [[K]], directed out-edges.
  *
  * Scale shape: within-cell pairs cost Σ|cell|² (the q151 contract —
  * cells at corpus scale are thousands, ~n/k each, never |corpus|²),
  * joined on the cell key (hash join, never cartesian); the kNN rank
  * is a per-src window partitioned by vector. Each round is one
  * (src, label) map-side-combined vote aggregate + a per-src argmax
  * window + a left join back — rounds are fixed at 2 (the frontier
  * reaches every node whose cell has any seed by then; 12/16 of each
  * cell is seed in expectation).
  *
  * Oracle: the cell chain replays via PqOps.coarseChainCtes VERBATIM
  * (same single source of truth as q147/q151), the graph and both
  * vote rounds as CTEs over it — clustering, graph, and propagation
  * all cross-engine exact.
  */
object LabelProp extends graft.QueryModule {

  /** Out-degree of the kNN graph. */
  private[graft] val K = 5

  private[graft] def propagate(knn: DataFrame, prev: DataFrame): DataFrame = {
    val votes = knn
      .join(prev.select(col("vec_id").as("src"), col("lab").as("src_lab")), Seq("src"))
      .filter(col("src_lab").isNull)
      .join(prev.select(col("vec_id").as("nbr"), col("lab").as("nl")), Seq("nbr"))
      .filter(col("nl").isNotNull)
      .groupBy("src", "nl").agg(count(lit(1)).as("c"))
    val pick = votes
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy(col("c").desc, col("nl"))))
      .filter(col("rn") === 1)
      .select(col("src").as("vec_id"), col("nl").as("voted"))
    prev.join(pick, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("lab"), col("voted")).as("lab"))
  }

  /** The cell-bounded kNN edge list as a FrameMemo artifact (r21) — the same stored-graph contract the other graph
    * consumers already stand on (q93 reads knnGraphLsh, q118
    * knnGraphExact): the Σ|cell|² within-cell self-join + per-src rank
    * is the snapshot-build step a 100 TB pipeline runs once per corpus,
    * not per propagation. Deterministic: integer ids ranked by exact
    * integer d², ties by vec_id — fully partition-order-independent
    * (the q191 oracle hash-gates the identical derivation). The
    * PROPAGATION rounds still run live inside q191's timed runs.
    */
  private[graft] def cellKnn(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, s"cellKnn:$K") {
      val withCell = PqOps.quantizedPts(s, d).join(
        PqOps.residCodes(s, d).select(col("vec_id"), col("coarse").as("cell")),
        Seq("vec_id"))
      val a = withCell.select(col("vec_id").as("src"), col("q").as("qa"), col("cell"))
      val b = withCell.select(col("vec_id").as("nbr"), col("q").as("qb"), col("cell"))
      a.join(b, Seq("cell")).filter(col("src") =!= col("nbr"))
        .select(col("src"), col("nbr"),
          aggregate(zip_with(col("qa"), col("qb"), (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, v) => acc + v).as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy(col("d2"), col("nbr"))))
        .filter(col("rn") <= K).select("src", "nbr")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_label_propagation" -> ((s, d) => {
      val knn = cellKnn(s, d)
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          Sampling.splitOf(col("vec_id")).as("split"))
      val l0 = base.select(col("vec_id"),
        when(col("split") === "train", col("label")).as("lab"))
      val l1 = propagate(knn, l0).localCheckpoint()
      val l2 = propagate(knn, l1)
      base
        .join(PqOps.residCodes(s, d).select(col("vec_id"), col("coarse").as("cell")),
          Seq("vec_id"))
        .join(l1.select(col("vec_id"), col("lab").as("lp1")), Seq("vec_id"))
        .join(l2.select(col("vec_id"), col("lab").as("lp2")), Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("label").as("true_label"),
          col("split"), col("lp1"), col("lp2"),
          (col("lp2") === col("label")).as("is_correct"))
        .orderBy("vec_id")
    }))

  private def voteSql(prev: String, out: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT p.vec_id, COALESCE(p.lab, v.voted) AS lab
       |  FROM $prev p LEFT JOIN (
       |    SELECT src AS vec_id, nl AS voted FROM (
       |      SELECT src, nl, ROW_NUMBER() OVER (
       |               PARTITION BY src ORDER BY c DESC, nl) AS rn
       |      FROM (
       |        SELECT k.src, l.lab AS nl, COUNT(*) AS c
       |        FROM knn k
       |        JOIN $prev n ON n.vec_id = k.src AND n.lab IS NULL
       |        JOIN $prev l ON l.vec_id = k.nbr AND l.lab IS NOT NULL
       |        GROUP BY k.src, l.lab
       |      )
       |    ) WHERE rn = 1
       |  ) v ON v.vec_id = p.vec_id
       |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q191_label_propagation" ->
      s"""WITH ${PqOps.coarseChainCtes},
         |nbd AS MATERIALIZED (
         |  SELECT ca.vec_id AS src, cb.vec_id AS nbr,
         |         CAST(SUM((pa.q - pb.q) * (pa.q - pb.q)) AS BIGINT) AS d2
         |  FROM caf ca JOIN caf cb
         |    ON ca.cluster = cb.cluster AND ca.vec_id <> cb.vec_id
         |  JOIN pts pa ON pa.vec_id = ca.vec_id
         |  JOIN pts pb ON pb.vec_id = cb.vec_id AND pb.dim = pa.dim
         |  GROUP BY 1, 2
         |), knn AS MATERIALIZED (
         |  SELECT src, nbr FROM (
         |    SELECT src, nbr, ROW_NUMBER() OVER (
         |             PARTITION BY src ORDER BY d2, nbr) AS rn
         |    FROM nbd
         |  ) WHERE rn <= $K
         |), base AS MATERIALIZED (
         |  SELECT vec_id, label,
         |         CASE WHEN substr(md5(vec_id::VARCHAR), 1, 1) IN ('c','d') THEN 'validation'
         |              WHEN substr(md5(vec_id::VARCHAR), 1, 1) IN ('e','f') THEN 'test'
         |              ELSE 'train' END AS split
         |  FROM embeddings
         |), l0 AS MATERIALIZED (
         |  SELECT vec_id, CASE WHEN split = 'train' THEN label END AS lab
         |  FROM base
         |),
         |${voteSql("l0", "l1")},
         |${voteSql("l1", "l2")}
         |SELECT b.vec_id, caf.cluster AS cell, b.label AS true_label, b.split,
         |       l1.lab AS lp1, l2.lab AS lp2,
         |       l2.lab = b.label AS is_correct
         |FROM base b
         |JOIN caf ON caf.vec_id = b.vec_id
         |JOIN l1 ON l1.vec_id = b.vec_id
         |JOIN l2 ON l2.vec_id = b.vec_id
         |ORDER BY b.vec_id""".stripMargin)
}
