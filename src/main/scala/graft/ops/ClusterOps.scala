package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact-arithmetic k-means over the embeddings table — the
  * oracle-checked anchor for the iterative clustering family (q42's IVF
  * quantizer is gated against spec fixtures; this registers the Lloyd
  * iteration itself under the DuckDB hash compare, the q118-PageRank
  * twin design).
  *
  * Cross-engine reproducibility is the whole trick: floating-point
  * k-means is unportable (centroid averages depend on summation order),
  * so every quantity here is an INTEGER. Components are quantized to
  * `round(x·1000) + 1024` (embeddings are |x| < 0.6, so the offset makes
  * every value positive and truncating division equals floor division in
  * both engines); distances are exact integer sums of squares (≤ 2048²
  * · 64 dims ≈ 2.7e8, far inside int64); centroid updates are integer
  * floor-averages `sum div count`. Argmin ties break to the smallest
  * cluster id. Every step is therefore bit-reproducible under any
  * shuffle order, partitioning, or engine — the same discipline as
  * q76's linear idf and q84's bit-width histogram.
  *
  * Scale shape (Lloyd's on MapReduce): per iteration, assignment is a
  * NARROW pass — the k×64-long centroid model rides into the executors
  * as one array literal (the q42-IVF collected-model pattern; k rows,
  * documented legit), each point folds it into a k-long distance array
  * and takes the first minimum's id, zero exchanges; the update is ONE
  * shuffle keyed (cluster, dim) — k·dims = 256 keys with map-side
  * combine, so reducers see partials, never points. 3 iterations = 3
  * narrow passes + 3 tiny shuffles, and the quantized points are
  * localCheckpoint'ed once (the PageRank lineage-truncation rule).
  */
object ClusterOps extends graft.QueryModule {

  private[graft] val K = 4
  private[graft] val Iters = 3
  private[graft] val Dims = 64
  private[graft] val Offset = 1024L

  /** round(x·1000)+1024 per component, as exact longs. */
  private[graft] def quantized(pts: DataFrame): DataFrame =
    pts.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000.0, 0).cast("long") + Offset).as("q"))

  /** Exact integer squared distance between two long-array columns. */
  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Per row, the distance from the long-array column `q` to every
    * centroid of `cents`, in ascending-id order, as one array: the model
    * rides in as a single array literal and one `transform` folds over
    * it, so the expression is the same size for any k.
    */
  private[graft] def distances(q: Column, cents: Seq[(Int, Seq[Long])]): Column =
    transform(typedLit(cents.sortBy(_._1).map(_._2)), cv => dist2(q, cv))

  /** The centroid id at the FIRST minimum of `ds` (a [[distances]] array
    * over the same `cents`). Entries are in ascending-id order, so ties
    * go to the smallest id.
    */
  private[graft] def nearest(ds: Column, cents: Seq[(Int, Seq[Long])]): Column =
    element_at(typedLit(cents.map(_._1).sorted),
      array_position(ds, array_min(ds)).cast("int"))

  /** Assign each point to its nearest centroid (ties → smallest cluster
    * id) — narrow, no shuffle. The distance array gets its own
    * projection because the argmin reads it twice; inlined, it would be
    * computed twice.
    */
  private[graft] def assign(pts: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame =
    pts.select(col("vec_id"), col("q"), distances(col("q"), cents).as("ds"))
      .select(col("vec_id"), col("q"), nearest(col("ds"), cents).as("cluster"))

  /** One update: per-(cluster, dim) integer sums and counts; the count is
    * identical across a cluster's dims (every member contributes every
    * dim), so n_members rides the same aggregate for free.
    */
  private[graft] def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy("cluster", "dim")
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
      .withColumn("cq", expr("sq div cnt"))

  /** 3 Lloyd iterations from the deterministic seed (the K smallest
    * vec_ids, cluster = rank): final centroids in long form with member
    * counts and the dequantized component value.
    */
  /** The Lloyd loop over ANY quantized point table: returns the FINAL
    * centroid model (post-round-[[Iters]] update, collected — the IVF
    * model pattern) and the final update frame q132 reports. q175
    * trains on the pre-upsert slice and reuses the model for
    * assignment-only index maintenance. */
  private[graft] def trainOn(ptsIn: DataFrame): (Seq[(Int, Seq[Long])], DataFrame) = {
    val pts = ptsIn.localCheckpoint()
    val seed = pts.orderBy("vec_id").limit(K).collect() // K rows: the IVF collected-model pattern
    var cents: Seq[(Int, Seq[Long])] =
      seed.zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1)) }.toSeq
    var updated: DataFrame = null
    for (_ <- 1 to Iters) {
      updated = update(assign(pts, cents))
      cents = updated.collect() // k·dims rows of exact ints — the model, not data
        .groupBy(_.getInt(0)).toSeq
        .map { case (c, rows) =>
          (c, rows.sortBy(_.getInt(1)).map(_.getLong(4)).toSeq)
        }
    }
    (cents, updated)
  }

  def kmeans(s: SparkSession, d: String): DataFrame = {
    val (_, updated) = trainOn(quantized(Tables.embeddings(s, d)))
    updated.select(
      col("cluster"),
      col("cnt").as("n_members"),
      col("dim"),
      col("cq").as("centroid"),
      ((col("cq") - Offset).cast("double") / 1000.0).as("centroid_val"))
      .orderBy("cluster", "dim")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_kmeans_exact" -> ((s, d) => kmeans(s, d)),

    // ASSIGNMENT-ONLY index maintenance — what a production vector
    // index does between rebuilds (retraining the quantizer on every
    // ingest batch re-encodes the whole index; assigning new vectors to
    // the STALE centroids is O(batch) and is exactly how IVF systems
    // absorb writes until a scheduled rebuild): the quantizer trains on
    // the pre-upsert corpus (the q54 'test' hash slice plays the
    // arriving batch), both slices then assign to the FINAL stale
    // centroids, and the report is the per-cell growth a rebuild
    // scheduler watches (a cell absorbing a disproportionate share of
    // writes = the distribution moved; time to retrain). Exact-integer
    // end to end (q132's machinery), so the ENTIRE flow — training,
    // both assignments, the growth table — replays under the oracle.
    "q175_ivf_upsert" -> ((s, d) => {
      val pts = quantized(Tables.embeddings(s, d))
      val isNew = Sampling.splitOf(col("vec_id")) === "test"
      val old = pts.filter(!isNew)
      val (cents, _) = trainOn(old)
      val nOld = assign(old, cents).groupBy("cluster")
        .agg(count(lit(1)).as("n_old"))
      val nNew = assign(pts.filter(isNew), cents).groupBy("cluster")
        .agg(count(lit(1)).as("n_new"))
      nOld.join(nNew, Seq("cluster"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("new_frac_u",
          expr("n_new * 1000000 DIV (n_old + n_new)"))
        .select("cluster", "n_old", "n_new", "new_frac_u")
        .orderBy("cluster")
    }))

  /** The oracle unrolls the identical 3 iterations as MATERIALIZED CTEs
    * (the q118 rule: materialize every round — `pts` alone is read 7
    * times). The integer quantization makes the two engines' results
    * bit-equal; `ROUND(x·1000)` agrees because a float·1000 landing
    * exactly on .5 requires x = odd/16, where both engines round away
    * from zero.
    */
  val oracleSql: Map[String, String] = {
    def assignSql(cent: String): String =
      s"""  SELECT vec_id, cluster FROM (
         |    SELECT p.vec_id, c.cluster,
         |           ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |             ORDER BY SUM((p.q - c.cq) * (p.q - c.cq)), c.cluster) AS rn
         |    FROM pts p JOIN $cent c USING (dim)
         |    GROUP BY p.vec_id, c.cluster
         |  ) WHERE rn = 1""".stripMargin
    def updateSql(a: String): String =
      s"""  SELECT a.cluster, p.dim, CAST(SUM(p.q) // COUNT(*) AS BIGINT) AS cq
         |  FROM $a a JOIN pts p USING (vec_id)
         |  GROUP BY a.cluster, p.dim""".stripMargin
    val upsertSql =
      s"""WITH allpts AS MATERIALIZED (
         |  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
         |         CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) * 1000.0) AS BIGINT) + $Offset AS q,
         |         substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('e', 'f') AS is_new
         |  FROM embeddings, range($Dims) t(i)
         |), pts AS MATERIALIZED (
         |  SELECT vec_id, dim, q FROM allpts WHERE NOT is_new
         |), seed AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, vec_id
         |  FROM (SELECT DISTINCT vec_id FROM pts ORDER BY vec_id LIMIT $K)
         |), c0 AS MATERIALIZED (
         |  SELECT s.cluster, p.dim, p.q AS cq FROM seed s JOIN pts p USING (vec_id)
         |), a1 AS MATERIALIZED (
         |${assignSql("c0")}
         |), c1 AS MATERIALIZED (
         |${updateSql("a1")}
         |), a2 AS MATERIALIZED (
         |${assignSql("c1")}
         |), c2 AS MATERIALIZED (
         |${updateSql("a2")}
         |), a3 AS MATERIALIZED (
         |${assignSql("c2")}
         |), c3 AS MATERIALIZED (
         |${updateSql("a3")}
         |), a4o AS MATERIALIZED (
         |${assignSql("c3")}
         |), a4n AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM (
         |    SELECT p.vec_id, c.cluster,
         |           ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |             ORDER BY SUM((p.q - c.cq) * (p.q - c.cq)), c.cluster) AS rn
         |    FROM (SELECT vec_id, dim, q FROM allpts WHERE is_new) p
         |    JOIN c3 c USING (dim)
         |    GROUP BY p.vec_id, c.cluster
         |  ) WHERE rn = 1
         |), no AS (
         |  SELECT cluster, COUNT(*) AS n_old FROM a4o GROUP BY cluster
         |), nn AS (
         |  SELECT cluster, COUNT(*) AS n_new FROM a4n GROUP BY cluster
         |)
         |SELECT no.cluster, no.n_old, COALESCE(nn.n_new, 0) AS n_new,
         |       COALESCE(nn.n_new, 0) * 1000000 // (no.n_old + COALESCE(nn.n_new, 0))
         |         AS new_frac_u
         |FROM no LEFT JOIN nn USING (cluster)
         |ORDER BY no.cluster""".stripMargin
    Map(
    "q175_ivf_upsert" -> upsertSql,
    "q132_kmeans_exact" ->
      s"""WITH pts AS MATERIALIZED (
         |  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
         |         CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) * 1000.0) AS BIGINT) + $Offset AS q
         |  FROM embeddings, range($Dims) t(i)
         |), seed AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, vec_id
         |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $K)
         |), c0 AS MATERIALIZED (
         |  SELECT s.cluster, p.dim, p.q AS cq FROM seed s JOIN pts p USING (vec_id)
         |), a1 AS MATERIALIZED (
         |${assignSql("c0")}
         |), c1 AS MATERIALIZED (
         |${updateSql("a1")}
         |), a2 AS MATERIALIZED (
         |${assignSql("c1")}
         |), c2 AS MATERIALIZED (
         |${updateSql("a2")}
         |), a3 AS MATERIALIZED (
         |${assignSql("c2")}
         |), c3 AS MATERIALIZED (
         |${updateSql("a3")}
         |)
         |SELECT c.cluster, m.n_members, c.dim, c.cq AS centroid,
         |       CAST(c.cq - $Offset AS DOUBLE) / 1000.0 AS centroid_val
         |FROM c3 c
         |JOIN (SELECT cluster, COUNT(*) AS n_members FROM a3 GROUP BY cluster) m
         |  USING (cluster)
         |ORDER BY c.cluster, c.dim""".stripMargin)
  }
}
