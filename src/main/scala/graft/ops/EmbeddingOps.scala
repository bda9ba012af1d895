package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.cosine

/** Embedding-column lifecycle ops beyond search (SimilaritySearch) and
  * near-dup pairs (Dedup/q43): storage-shape compression and the
  * pairs→groups decision step in embedding space.
  *
  *   - q67: symmetric int8 quantization — the standard ANN-index
  *     compression (4× smaller than float32, 8× smaller than the double
  *     math width). Per-vector max-abs scaling is a pure narrow
  *     transform; the query reports the per-vector reconstruction
  *     quality (cosine of original vs dequantized, worst per-component
  *     error) a pipeline gates on before swapping the quantized column
  *     into its index.
  *   - q68: embedding near-dup GROUPS — q43's sub-quadratic LSH pair
  *     graph fed through the same connected-components machinery text
  *     dedup uses (Dedup.dedupComponents), completing the
  *     {text, embedding} × {pairs, groups} matrix. Semantic dedup at
  *     100 TB is exactly this plan: banded candidate generation, exact
  *     cosine verification, min-label components, keep = component min.
  */
object EmbeddingOps extends graft.QueryModule {

  /** Symmetric int8 range: quantized components live in [-127, 127]. */
  val QuantLevels = 127

  /** q101's `crossJoin(broadcast(test))` shape is correct ONLY while the
    * held-out side stays driver-broadcastable. Real eval sets are small
    * by construction, but q101's test split is hash-DEFINED as 2/16 of
    * the corpus — a fraction, not a bound — which does NOT stay small at
    * 100 TB. This guard makes that assumption fail LOUDLY (limit+count:
    * scans at most MaxBroadcastRows+1 rows, never the full side) instead
    * of as a driver OOM; an unbounded test split belongs on q74's
    * bipartite-LSH path, which banded-joins the two sides without ever
    * broadcasting either.
    */
  val MaxBroadcastRows = 2000000L

  private[graft] def guardBroadcastSide(side: DataFrame,
                                        max: Long = MaxBroadcastRows): DataFrame = {
    // limit takes an Int: a ceiling at/over Int.MaxValue would silently
    // wrap negative and crash with an unrelated AnalysisException — and a
    // 2^31-row broadcast side is far past driver-viable anyway
    require(max > 0 && max < Int.MaxValue,
      s"broadcast guard ceiling must be in (0, ${Int.MaxValue}): $max")
    val n = side.limit((max + 1).toInt).count()
    require(n <= max,
      s"broadcast side has > $max rows: the crossJoin(broadcast(...)) " +
        "decontamination shape assumes a bounded held-out set — route " +
        "unbounded test splits to q74's bipartite-LSH path")
    side
  }

  /** [[guardBroadcastSide]] whose PASS is FrameMemo'd per `guard` name:
    * the limit+count probe is cheap but it is still an extra Spark job,
    * and inside the bench's timed runs it was re-billed into q101's
    * steady-state median on every execution. A failing guard is not
    * kept, so it throws on every call.
    */
  private[graft] def guardBroadcastSideMemo(s: SparkSession, dir: String,
                                            guard: String, side: DataFrame,
                                            max: Long = MaxBroadcastRows): DataFrame = {
    FrameMemo.value(s, dir, s"guard:$guard") { guardBroadcastSide(side, max); () }
    side
  }

  /** q150 target dimensionality (64 → 16, the 4× index-width cut). */
  private[graft] val ProjDim = 16

  /** Deterministic ±1 for matrix cell (inDim i, outDim j): PRODUCT seed
    * (i+7)·(j+13), two MINSTD Lehmer steps (a = 48271 mod 2³¹−1), sign
    * from bit 16. Pure 31-bit integer arithmetic — every intermediate
    * fits DuckDB's non-wrapping BIGINT (a 64-bit LCG would wrap in Scala
    * and ERROR in DuckDB), so the identical formula runs in both
    * engines; the engine folds the matrix in as literals.
    *
    * The seed/bit choices are MEASURED, not aesthetic: a linear seed
    * (i·16+j) keeps the LCG's lattice correlation across adjacent cells
    * no matter how many Lehmer rounds follow (within-2× distance
    * preservation 55-64% vs the iid-random 97% on the real embeddings —
    * 5 variants tried), while the product seed + mid bit reads 96%.
    * RandomProjectionSpec gates exactly this.
    */
  private[graft] def projSign(i: Int, j: Int): Long = {
    val x0 = ((i + 7L) * (j + 13L)) % 2147483647L
    val x1 = (48271L * x0) % 2147483647L
    val x2 = (48271L * x1) % 2147483647L
    2 * ((x2 / 65536) % 2) - 1
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // signed random projection (Achlioptas ±1 / database-friendly JL):
    // 64-dim vectors → ProjDim-dim sketches via a DETERMINISTIC ±1
    // matrix derived arithmetically from the cell index — the
    // dimensionality-reduction step index builds and streaming sketches
    // run before storage, here exactly cross-engine checkable because
    // it runs over q132's INTEGER-quantized components: each output
    // coordinate is an exact-integer signed sum, bit-equal under any
    // partitioning and in any engine (the float version of the same op
    // is order-portable too — it's one fixed-order fold per output dim —
    // but integers make the oracle hash unconditional). Plan shape: the
    // ±1 matrix rides the closure as 16 literal vectors (model state,
    // 1 KiB), each projection is a codegen'd zip_with fold, and the long
    // (vec_id, dim, proj) form is one narrow posexplode — zero shuffles,
    // zero joins at any corpus size. RandomProjectionSpec gates the JL
    // property (distance-rank preservation) against exact distances.
    "q150_random_projection" -> ((s, d) => {
      val signCols = (0 until ProjDim).map { j =>
        val signs = (0 until ClusterOps.Dims).map(i => projSign(i, j))
        aggregate(
          zip_with(col("q"), typedLit(signs), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as(s"p$j")
      }
      ClusterOps.quantized(Tables.embeddings(s, d))
        .select(col("vec_id") +: signCols: _*)
        .select(col("vec_id"),
          posexplode(array((0 until ProjDim).map(j => col(s"p$j")): _*))
            .as(Seq("dim", "proj")))
        .orderBy("vec_id", "dim")
    }),

    // int8 quantization round-trip report. All narrow per-row math over
    // the vector column — no shuffle but the presentation sort. The
    // zero-vector guard keeps cosine's null-on-zero-norm out of the
    // report (a zero vector quantizes to itself: cos 1, err 0).
    "q67_embedding_quantize" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(
        col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      val quantized = e
        .withColumn("s",
          array_max(transform(col("v"), x => abs(x))) / QuantLevels.toDouble)
        .withColumn("dq",
          when(col("s") === 0.0, col("v")).otherwise(
            transform(col("v"), x => round(x / col("s")) * col("s"))))
      quantized.select(
        col("vec_id"), col("label"),
        round(col("s"), 6).as("scale_r"),
        when(col("s") === 0.0, lit(1.0))
          .otherwise(round(cosine(col("v"), col("dq")), 4)).as("cos_r"),
        round(array_max(zip_with(col("v"), col("dq"), (a, b) => abs(a - b))), 6)
          .as("max_err_r"))
        .orderBy("vec_id")
    }),

    // matryoshka/truncation evaluation: can the ANN index store only
    // the first 16 of 64 dimensions? For each query vector, rank all
    // others by full-dim cosine and by truncated-dim cosine, and report
    // how much of the top-5 survives truncation (overlap@5, top-1
    // agreement). Both rankings run over the SAME broadcast-join rows —
    // overlap is a per-query count of rows ranked ≤5 under both
    // windows, so the output is all exact integers. This is the gate a
    // pipeline checks before cutting index storage 4× by truncation
    // (the dimension analog of q67's int8 quantization).
    "q77_matryoshka_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wFull = Window.partitionBy("query_id")
        .orderBy(col("cos_full").desc, col("vec_id"))
      val wTrunc = Window.partitionBy("query_id")
        .orderBy(col("cos_trunc").desc, col("vec_id"))
      broadcast(q).join(e, col("query_id") =!= col("vec_id"))
        .withColumn("cos_full", cosine(col("qv"), col("v")))
        .withColumn("cos_trunc",
          cosine(slice(col("qv"), 1, 16), slice(col("v"), 1, 16)))
        .withColumn("rf", row_number().over(wFull))
        .withColumn("rt", row_number().over(wTrunc))
        .groupBy("query_id")
        .agg(
          sum(when(col("rf") <= 5 && col("rt") <= 5, 1L).otherwise(0L))
            .as("overlap5"),
          max(when(col("rf") === 1 && col("rt") === 1, 1).otherwise(0))
            .as("same_top1"))
        .orderBy("query_id")
    }),

    // embedding near-dup groups: LSH pairs → connected components →
    // canonical keep id per group. Rows-only (hash-derived hyperplanes
    // aren't portable SQL); EmbeddingGroupsSpec pins the refinement
    // property against the exact q29 pair graph and gates group recall.
    // SEMANTIC decontamination — the third member of the triple
    // (q66 verbatim grams, q74 paraphrase-fuzzy n-grams): train docs
    // whose EMBEDDING sits too close to a held-out test doc leak
    // meaning even when no grams match. Per train vector: max cosine
    // to any test vector, flagged at the q29/q43 near-dup regime
    // (cos ≥ 0.4). The plan is the scale-correct one OUTRIGHT, not an
    // anchor: held-out sets are small by construction, so the test
    // side broadcasts (q30's asymmetry) while the train corpus never
    // leaves its partitions — one narrow pass at any corpus size.
    // The split rule is q54's via Sampling.splitOf, so the target set
    // can never diverge from the split it protects.
    "q101_decontaminate_semantic" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          (Sampling.splitOf(col("vec_id")) === "test").as("is_test"))
      val train = e.filter(!col("is_test")).select(col("vec_id"), col("v"))
      val test = guardBroadcastSideMemo(s, d, "q101_test",
        e.filter(col("is_test"))
          .select(col("vec_id").as("t_id"), col("v").as("tv")))
      train.crossJoin(broadcast(test))
        .groupBy("vec_id")
        .agg(max(cosine(col("v"), col("tv"))).as("max_cos"))
        .select(col("vec_id"), round(col("max_cos"), 4).as("max_cos_r"),
          (col("max_cos") >= 0.4).as("contaminated"))
        .orderBy("vec_id")
    }),

    "q68_dedup_groups_embedding" -> ((s, d) => {
      // the pair frame arrives materialized (FrameMemo contract); each
      // propagation round re-reads a narrow projection of the
      // checkpointed partitions — no second copy needed
      val pairs = SimilaritySearch.embeddingLshPairs(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.dedupComponents(pairs)
        .groupBy(col("label").as("keep_vec_id"))
        .agg(count(lit(1)).as("group_size"),
          max(col("doc_id")).as("max_member"))
        .orderBy("keep_vec_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // q150: the identical quantization, sign formula, and signed sum in
    // SQL — integer-exact end to end (see projSign for the 31-bit
    // arithmetic bound that keeps DuckDB's non-wrapping BIGINT happy)
    "q150_random_projection" ->
      s"""WITH pts AS MATERIALIZED (
         |  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
         |         CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) * 1000.0) AS BIGINT) + ${ClusterOps.Offset} AS q
         |  FROM embeddings, range(${ClusterOps.Dims}) t(i)
         |), signs AS MATERIALIZED (
         |  SELECT CAST(i.i AS INTEGER) AS dim, CAST(j.j AS INTEGER) AS odim,
         |         2 * ((((48271 * ((48271 * (((i.i + 7) * (j.j + 13)) % 2147483647))
         |               % 2147483647)) % 2147483647) // 65536) % 2) - 1 AS s
         |  FROM range(${ClusterOps.Dims}) i(i), range($ProjDim) j(j)
         |)
         |SELECT p.vec_id, s.odim AS dim, CAST(SUM(s.s * p.q) AS BIGINT) AS proj
         |FROM pts p JOIN signs s USING (dim)
         |GROUP BY p.vec_id, s.odim
         |ORDER BY p.vec_id, dim""".stripMargin,

    "q101_decontaminate_semantic" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         substr(md5(vec_id::VARCHAR), 1, 1) IN ('e', 'f') AS is_test
        |  FROM embeddings
        |)
        |SELECT a.vec_id, ROUND(MAX(list_cosine_similarity(a.v, b.v)), 4) AS max_cos_r,
        |       MAX(list_cosine_similarity(a.v, b.v)) >= 0.4 AS contaminated
        |FROM e a JOIN e b ON NOT a.is_test AND b.is_test
        |GROUP BY a.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "q77_matryoshka_eval" ->
      """WITH ranked AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS vid,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(e.embedding AS DOUBLE[])) DESC,
        |                    e.vec_id) AS rf,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[])[1:16],
        |                                           CAST(e.embedding AS DOUBLE[])[1:16]) DESC,
        |                    e.vec_id) AS rt
        |  FROM embeddings q JOIN embeddings e
        |    ON q.vec_id < 10 AND e.vec_id <> q.vec_id
        |)
        |SELECT query_id,
        |       CAST(SUM(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS overlap5,
        |       CAST(MAX(CASE WHEN rf = 1 AND rt = 1 THEN 1 ELSE 0 END) AS INTEGER)
        |         AS same_top1
        |FROM ranked GROUP BY query_id ORDER BY query_id""".stripMargin,

    "q67_embedding_quantize" ->
      s"""SELECT vec_id, label,
         |       ROUND(s, 6) AS scale_r,
         |       CASE WHEN s = 0 THEN 1.0
         |            ELSE ROUND(list_cosine_similarity(v, dq), 4) END AS cos_r,
         |       ROUND(list_max([abs(v[i] - dq[i]) FOR i IN range(1, len(v) + 1)]), 6) AS max_err_r
         |FROM (
         |  SELECT vec_id, label, v, s,
         |         CASE WHEN s = 0 THEN v
         |              ELSE [round(x / s) * s FOR x IN v] END AS dq
         |  FROM (
         |    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |           list_max([abs(x) FOR x IN CAST(embedding AS DOUBLE[])]) / $QuantLevels AS s
         |    FROM embeddings
         |  )
         |)
         |ORDER BY vec_id""".stripMargin
  )

  override val rowsOnly: Set[String] = Set("q68_dedup_groups_embedding")
}
