package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Product quantization — the memory-compression half of the IVF-PQ
  * design every billion-scale ANN system runs (IVF prunes WHAT to scan,
  * q42; PQ compresses what remains so a 64-dim float vector becomes a
  * few bytes of codebook indices and distance estimation never touches
  * the original vectors).
  *
  * RESIDUAL encoding (the production IVF-PQ layout): a coarse integer
  * k-means quantizer ([[CoarseK]] cells, the q132 exact-Lloyd machinery)
  * assigns every vector a cell, and PQ encodes the RESIDUAL
  * (vector − cell centroid), not the raw vector. Residuals concentrate
  * the codebooks on local structure around each cell — at the same byte
  * budget (8 × 3-bit codes + the cell id the IVF index stores anyway)
  * ADC ranking is materially sharper than raw-vector codebooks: the
  * r14 raw layout read recall@5 = 0.66 in q117's report; the residual
  * layout's lift is gated in PqSpec and surfaces in the same report.
  *
  * Each residual splits into [[SubSpaces]] sub-vectors; an independent
  * k-means codebook is trained per subspace (Lloyd's, reusing q132's
  * EXACT-INTEGER machinery so training is bit-reproducible across
  * engines and shuffle orders); a vector's code is its per-subspace
  * nearest-centroid ids. Residual components can be NEGATIVE — that is
  * still cross-engine exact: centroid updates divide in Scala (Long `/`
  * truncates toward zero) and in DuckDB (`//` also truncates toward
  * zero), so the chains stay bit-equal without a floor-division shim.
  *
  * Scale shape: training is FUSED across subspaces — per Lloyd round,
  * one narrow pass assigns every subspace's code and one 512-key
  * map-side-combined shuffle updates every codebook (see
  * [[trainCodebooks]]). Code ASSIGNMENT is a single narrow select: per
  * subspace, one distance array against the codebook (carried as one
  * array literal) and its first-minimum id — no join, no shuffle; at
  * 100 TB the codebooks ride the closure (8 × 8 × 8 longs) and the
  * corpus pays one pass. Every model enters the plan as DATA indexed by
  * a fixed-size expression (array/map literals, or the per-probe ADC
  * lookup tables q148 carries in its probe rows), never as code that
  * grows with K, CoarseK or the probe count. The ADC search path
  * (estimate distance from codes alone) is spec-gated against exact
  * brute force (PqSpec recall + own-code quantization-error rank); the
  * code TABLE is the oracle-checked anchor (q147 — the full coarse
  * chain, the residual derivation, and all 8 subspace chains replay in
  * DuckDB), the composed IVF+ADC+rerank search is q148.
  */
object PqOps extends graft.QueryModule {

  private[graft] val SubSpaces = 8
  private[graft] val SubDim = 8 // 64 dims / 8 subspaces
  // K=8 (3-bit codes): the oracle's CTE count is K-independent (only
  // the cent tables grow rows), and 8 centroids/subspace lifts ADC
  // recall@10 well above the K=4 draft (0.26 mean — too coarse to
  // certify ranking behavior)
  private[graft] val K = 8
  private[graft] val Iters = 2
  // coarse quantizer: same cell count as q42's IVF (16 cells over the
  // synthetic corpus ≈ 31 vectors/cell) so q148's probe fan-out and
  // rerank cost are unchanged from the raw-codebook r14 layout
  private[graft] val CoarseK = 16
  private[graft] val CoarseIters = 2
  // nprobe=3 (vs q42's 2): with the shortlist at 40, the probe ceiling
  // becomes the binding recall term — the third cell lifts it while the
  // extra candidates are still CODE-ONLY rows, never vector reads.
  // Measured at sf0.01 with the residual codebooks: (nprobe=2, SL=20)
  // 0.76 → (3, 20) 0.76 [shortlist-bound] → (3, 40) 0.92 — ABOVE plain
  // IVF's 0.84 (q117's report), with fewer raw-vector reads per query
  // (Shortlist=40 reranked vs ~90 exact-scanned in q42's probed cells).
  private[graft] val NProbe = 3

  /** (keep..., c0..c7): all 8 codes against the given codebooks in two
    * chained NARROW projections — each subspace's distance array named
    * once (q132's [[ClusterOps.distances]] over the sub-vector), then
    * its first-minimum id ([[ClusterOps.nearest]], ties → smaller id).
    * `keep` columns (vec_id, the residual vector for the training loop,
    * the coarse cell for the index) pass through untouched; include "q"
    * in `keep` if a later stage still needs the vector.
    */
  private def codesFor(pts: DataFrame, books: Seq[Seq[(Int, Seq[Long])]],
                       keep: Seq[String]): DataFrame = {
    val keepCols = keep.map(col)
    val distCols = books.zipWithIndex.map { case (cents, sub) =>
      ClusterOps.distances(slice(col("q"), sub * SubDim + 1, SubDim), cents)
        .as(s"d$sub")
    }
    val codeCols = books.zipWithIndex.map { case (cents, sub) =>
      ClusterOps.nearest(col(s"d$sub"), cents).as(s"c$sub")
    }
    pts.select(keepCols ++ distCols: _*).select(keepCols ++ codeCols: _*)
  }

  /** The coarse quantizer: [[CoarseIters]] exact-integer Lloyd rounds
    * over the FULL 64-dim quantized vectors (q132's assign/update
    * machinery, seeded from the [[CoarseK]] smallest vec_ids), returning
    * the final centroids as driver model state — CoarseK × 64 longs.
    * Per round: one narrow assignment pass ([[ClusterOps.assign]]) + one
    * (cluster, dim) map-side-combined shuffle; the corpus never pays
    * more than [[CoarseIters]] + 1 passes total (the +1 is the final
    * residual assignment).
    */
  private[graft] def trainCoarse(pts: DataFrame): Seq[(Int, Seq[Long])] = {
    val seedRows = pts.orderBy("vec_id").limit(CoarseK).collect()
    var cents: Seq[(Int, Seq[Long])] =
      seedRows.zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1)) }.toSeq
    for (_ <- 1 to CoarseIters) {
      // CoarseK·64 rows of exact ints — the model, not data. Quantized
      // components are all positive, so Spark's `div` here == DuckDB `//`
      cents = ClusterOps.update(ClusterOps.assign(pts, cents)).collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (c, rows) =>
          (c, rows.sortBy(_.getInt(1)).map(_.getLong(4)).toSeq)
        }
    }
    cents
  }

  /** (vec_id, coarse, q) with q = quantized vector − its FINAL coarse
    * centroid, component-wise exact longs (possibly negative). One
    * narrow pass: [[ClusterOps.assign]] picks the cell, and the cell's
    * centroid is one lookup in a cell → centroid map literal.
    */
  private[graft] def residualsOf(pts: DataFrame,
                                 coarse: Seq[(Int, Seq[Long])]): DataFrame =
    ClusterOps.assign(pts, coarse)
      .select(col("vec_id"), col("cluster").as("coarse"),
        zip_with(col("q"), element_at(typedLit(coarse.toMap), col("cluster")),
          (a, b) => a - b).as("q"))

  /** Train ALL [[SubSpaces]] codebooks simultaneously over the residual
    * table: per Lloyd round, ONE narrow assignment pass produces every
    * subspace's code, and ONE (sub, cluster, dim) shuffle —
    * SubSpaces·K·SubDim = 512 keys, map-side combined — yields every
    * codebook's update. A subspace-at-a-time draft ran ~24 small jobs
    * (8 seeds + 16 assign/update collects) and spent 25+ s in scheduler
    * overhead at sf0.01; this shape is seed + Iters jobs TOTAL, and at
    * 100 TB it is also the only sane plan (one corpus pass per round,
    * not 8). Semantics are identical to per-subspace q132 Lloyd (same
    * seeds, same integer argmin/truncating-average, ties to the smaller
    * id) — the q147 oracle replays the per-subspace form and
    * hash-matches. Input must be (vec_id, q) with q the residual array.
    */
  private[graft] def trainCodebooks(pts: DataFrame): Seq[Seq[(Int, Seq[Long])]] = {
    val seedRows = pts.orderBy("vec_id").limit(K).collect()
    var books: Seq[Seq[(Int, Seq[Long])]] = (0 until SubSpaces).map { s =>
      seedRows.zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Long](1).slice(s * SubDim, (s + 1) * SubDim))
      }.toSeq
    }
    for (_ <- 1 to Iters) {
      val upd = codesFor(pts, books, Seq("vec_id", "q"))
        .select(
          array((0 until SubSpaces).map(s => col(s"c$s")): _*).as("cs"),
          posexplode(col("q")).as(Seq("dim", "qv")))
        .select(
          expr(s"dim div $SubDim").cast("int").as("sub"),
          pmod(col("dim"), lit(SubDim)).as("sdim"),
          element_at(col("cs"),
            (expr(s"dim div $SubDim") + 1).cast("int")).as("cluster"),
          col("qv"))
        .groupBy("sub", "cluster", "sdim")
        .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
        .collect()
      books = upd.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (sub, rows) =>
        // clusters sorted so every consumer sees deterministic book order
        // (a sub can never be empty — every vector feeds every dim — so
        // the positional sub alignment below is safe)
        (sub, rows.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (c, dims) =>
          // truncating division: Scala Long `/` == DuckDB `//` on
          // negative residual sums too (both round toward zero)
          (c, dims.sortBy(_.getInt(2)).map(r => r.getLong(3) / r.getLong(4)).toSeq)
        })
      }.map(_._2)
    }
    books
  }

  /** The quantized point table, FrameMemo'd — q147, q148, and q117's
    * report all read it.
    */
  private[graft] def quantizedPts(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "pq_pts")(ClusterOps.quantized(Tables.embeddings(s, d)))

  /** The trained model as a (kind, sub, cluster, dim, v) long frame —
    * kind 0 = coarse centroids (sub pinned 0), kind 1 = residual
    * codebooks. r21 (verdict #2): training is exact-integer Lloyd /
    * truncating-division codebook updates — deterministic and
    * partition-order-independent (the q147 oracle hash-gates the very
    * same chain) — so the model is one 1.5k-row memoized frame that
    * [[modelOf]] decodes. The frame is built FROM the trained model
    * (collected driver state → parallelize), not by a second training
    * path, so encode/decode round-trips by construction.
    */
  private def modelFrame(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "pq_model") {
      val pts = quantizedPts(s, d)
      val coarse = trainCoarse(pts)
      val books = trainCodebooks(FrameMemo.scratch(
        residualsOf(pts, coarse).select("vec_id", "q")))
      import s.implicits._
      val rows =
        coarse.flatMap { case (c, vs) =>
          vs.zipWithIndex.map { case (v, dim) => (0, 0, c, dim, v) } } ++
        books.zipWithIndex.flatMap { case (cents, sub) =>
          cents.flatMap { case (c, vs) =>
            vs.zipWithIndex.map { case (v, dim) => (1, sub, c, dim, v) } } }
      rows.toDF("kind", "sub", "cluster", "dim", "v")
    }

  private def decodeModel(rows: Array[org.apache.spark.sql.Row])
      : (Seq[(Int, Seq[Long])], Seq[Seq[(Int, Seq[Long])]]) = {
    def vecs(rs: Seq[org.apache.spark.sql.Row]): Seq[(Int, Seq[Long])] =
      rs.groupBy(_.getInt(2)).toSeq.sortBy(_._1).map { case (c, ds) =>
        (c, ds.sortBy(_.getInt(3)).map(_.getLong(4)).toSeq)
      }
    val (coarseRows, bookRows) = rows.toSeq.partition(_.getInt(0) == 0)
    (vecs(coarseRows),
      bookRows.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map(g => vecs(g._2)))
  }

  /** The trained model — coarse centroids + per-subspace residual
    * codebooks — decoded into driver-side vectors (KiB-scale: 16×64 +
    * 8×8×8 longs), FrameMemo'd so every consumer shares one instance.
    */
  private[graft] def modelOf(s: SparkSession, d: String)
      : (Seq[(Int, Seq[Long])], Seq[Seq[(Int, Seq[Long])]]) =
    FrameMemo.value(s, d, "pq_model_decoded")(decodeModel(modelFrame(s, d).collect()))

  /** (vec_id, coarse, c0..c7) — the stored IVF-PQ index rows: each
    * vector's cell plus its residual codes. FrameMemo'd; q147 presents
    * it, q148 searches it.
    */
  private[graft] def residCodes(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "pq_codes") {
      val (coarse, books) = modelOf(s, d)
      codesFor(residualsOf(quantizedPts(s, d), coarse), books,
        Seq("vec_id", "coarse"))
    }

  def pqCodes(s: SparkSession, d: String): DataFrame =
    residCodes(s, d).orderBy("vec_id")

  /** The ADC lookup table for one query RESIDUAL (query − a cell's
    * centroid): per subspace, codebook centroid id → exact squared
    * distance from the residual's sub-vector. Driver math over the
    * collected model (8 × K longs).
    */
  private def lutOf(qres: Seq[Long],
                    books: Seq[Seq[(Int, Seq[Long])]]): Seq[Map[Int, Long]] =
    books.zipWithIndex.map { case (cents, s) =>
      val qSub = qres.slice(s * SubDim, (s + 1) * SubDim)
      cents.map { case (c, cv) =>
        c -> qSub.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
      }.toMap
    }

  /** The ADC estimate of a coded row against the [[lutOf]] table in its
    * `lut` column: Σ over subspaces of `lut[s][c_s]` — 8 lookups, the
    * same expression for any K, cell count or probe count.
    */
  private def adc(lut: Column): Column =
    (0 until SubSpaces)
      .map(s => element_at(element_at(lut, s + 1), col(s"c$s")))
      .reduce(_ + _)

  /** ADC (asymmetric distance computation) against the FULL corpus for
    * the spec's ranking gates: estimate ||query − x||² for every coded
    * vector WITHOUT touching x — sum, over subspaces, of the exact
    * distance from the query's RESIDUAL sub-vector (query − x's cell
    * centroid) to x's assigned codebook centroid. The table therefore
    * depends on the candidate's cell: one cell → [[lutOf]] map literal,
    * looked up by the `coarse` column. The production search (q148)
    * only ever scores PROBED cells ([[ivfPqCandidates]]); this
    * full-corpus form is the spec anchor.
    */
  private[graft] def adcDistances(codes: DataFrame,
                                  coarse: Seq[(Int, Seq[Long])],
                                  books: Seq[Seq[(Int, Seq[Long])]],
                                  query: Seq[Long]): DataFrame = {
    val lutByCell = coarse.map { case (cell, cv) =>
      cell -> lutOf(query.zip(cv).map { case (a, b) => a - b }, books)
    }.toMap
    codes.select(col("vec_id"),
      adc(element_at(typedLit(lutByCell), col("coarse"))).as("adc_d2"))
  }

  /** How many ADC-ranked candidates survive to the exact rerank — the
    * rerank (raw-vector read) budget per query. 40 of ~90 probed
    * candidates at sf0.01; see the [[NProbe]] measurement ladder.
    */
  private[graft] val Shortlist = 40

  /** q148: the COMPOSED billion-scale search path — the coarse quantizer
    * picks WHICH cells to scan ([[NProbe]]), PQ's ADC ranks the probed
    * candidates from CODES ALONE (no vector reads — residual LUTs per
    * probed cell), and only the [[Shortlist]] ADC survivors pay an exact
    * cosine rerank. Same output contract as q42/q31 (top-5 per anchor
    * query). This is the standard residual IVF-ADC layout. Rows-only —
    * iterative k-means + code-ranked search isn't portable SQL; q117's
    * report gains a q148 recall row and PqSpec gates the shortlist
    * behavior. The top-5 result frame is FrameMemo'd like the index
    * underneath it (the r18 q117 contract: method result frames are
    * stored evaluation artifacts — built once in shared_build, presented
    * by q148, scored by q117's joins).
    */
  def ivfPqSearch(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "ivfPqTop5")(buildIvfPqSearch(s, d))

  private def buildIvfPqSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.cosine
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val w5 = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    ivfPqCandidates(s, d)
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= Shortlist)
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w5).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** q148's probed candidates, ADC-scored: one row per (anchor query,
    * coded vector in a probed cell), the query itself excluded, with the
    * query vector `qv`, the candidate's `v` and codes, and `adc`.
    * Scale: probing is DRIVER math (10 queries × CoarseK cell distances
    * on already-collected model state), the probe frame broadcasts with
    * each probe's [[lutOf]] table in its `lut` column, and the corpus
    * side reads only (cell, codes) — the vectors of the ~Shortlist
    * survivors per query are the only raw reads.
    */
  private[graft] def ivfPqCandidates(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (coarse, books) = modelOf(s, d)
    // the index: one cell + one PQ code per vector (v kept only for the
    // final shortlist rerank — ADC itself never touches it). FrameMemo'd:
    // this IS the stored index a production system builds once per
    // corpus snapshot and serves many queries from
    val indexed = FrameMemo.cached(s, d, "pq_ivf_index")(
      e.join(residCodes(s, d), Seq("vec_id")))
    val qQuant = quantizedPts(s, d).filter(col("vec_id") < 10).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq // 10 rows: model state
    // probe selection is pure driver math over collected model state:
    // per query, the NProbe nearest cells by exact integer distance
    // (ties → smaller cell id, the assign convention), each with the
    // LUT of the query's residual wrt that cell — the table sits in the
    // row it scores, so the join cannot pair a candidate with another
    // probe's table
    val probes = qQuant.flatMap { case (qid, qv) =>
      coarse.map { case (cell, cv) =>
        val qres = qv.zip(cv).map { case (a, b) => a - b }
        (qres.map(x => x * x).sum, cell, qres)
      }.sortBy { case (d2, cell, _) => (d2, cell) }.take(NProbe).map {
        case (_, cell, qres) => (qid, cell, lutOf(qres, books))
      }
    }
    import s.implicits._
    val q = probes.toDF("query_id", "coarse", "lut").join(
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv")),
      Seq("query_id"))
    broadcast(q).join(indexed, Seq("coarse"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc", adc(col("lut")))
      .drop("lut")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q147_pq_codes" -> ((s, d) => pqCodes(s, d)),
    "q148_knn_ivf_pq" -> ((s, d) => ivfPqSearch(s, d).orderBy("query_id", "rank")))

  /** The oracle replays the ENTIRE residual layout as MATERIALIZED CTEs:
    * the coarse quantizer's [[CoarseIters]] Lloyd rounds over the full
    * 64-dim points (the q132 chain at K=[[CoarseK]]), the final cell
    * assignment, the residual derivation (q − final centroid), then the
    * identical per-subspace Lloyd chains over the residuals (seed from
    * the K smallest vec_ids, [[Iters]] assign/update rounds, final
    * assignment), and pivots the cell + 8 final code assignments onto
    * one row per vector. Integer quantization makes every step
    * bit-equal; negative residuals divide identically (`//` and Scala
    * `/` both truncate toward zero).
    */
  private def assignSql(pts: String, cent: String): String =
    s"""  SELECT vec_id, cluster FROM (
       |    SELECT p.vec_id, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |             ORDER BY SUM((p.q - c.cq) * (p.q - c.cq)), c.cluster) AS rn
       |    FROM $pts p JOIN $cent c USING (dim)
       |    GROUP BY p.vec_id, c.cluster
       |  ) WHERE rn = 1""".stripMargin

  private def updateSql(pts: String, a: String): String =
    s"""  SELECT a.cluster, p.dim, CAST(SUM(p.q) // COUNT(*) AS BIGINT) AS cq
       |  FROM $a a JOIN $pts p USING (vec_id)
       |  GROUP BY a.cluster, p.dim""".stripMargin

  /** The coarse quantizer's full CTE list (quantized points → seed →
    * [[CoarseIters]] Lloyd rounds → final assignment `caf(vec_id,
    * cluster)`) — ONE source of truth for every oracle that replays the
    * cells: q147 (residual codes) and Dedup's q151 (within-cell semantic
    * dedup) both interpolate this, so the cell semantics can never
    * drift between their oracles and the engine's [[trainCoarse]].
    */
  private[graft] def coarseChainCtes: String = {
    val coarseRounds = (1 to CoarseIters).map { i =>
      s"""ca$i AS MATERIALIZED (
         |${assignSql("pts", s"cc${i - 1}")}
         |), cc$i AS MATERIALIZED (
         |${updateSql("pts", s"ca$i")}
         |)""".stripMargin
    }.mkString(",\n")
    s"""pts AS MATERIALIZED (
       |  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
       |         CAST(ROUND(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) * 1000.0) AS BIGINT) + ${ClusterOps.Offset} AS q
       |  FROM embeddings, range(${ClusterOps.Dims}) t(i)
       |), cseed AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, vec_id
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $CoarseK)
       |), cc0 AS MATERIALIZED (
       |  SELECT sd.cluster, p.dim, p.q AS cq FROM cseed sd JOIN pts p USING (vec_id)
       |),
       |$coarseRounds,
       |caf AS MATERIALIZED (
       |${assignSql("pts", s"cc$CoarseIters")}
       |)""".stripMargin
  }

  private def q147OracleSql: String = {
    val chains = (0 until SubSpaces).map { s =>
      val rounds = (1 to Iters).map { i =>
        s"""a${i}_$s AS MATERIALIZED (
           |${assignSql(s"pts$s", s"c${i - 1}_$s")}
           |), c${i}_$s AS MATERIALIZED (
           |${updateSql(s"pts$s", s"a${i}_$s")}
           |)""".stripMargin
      }.mkString(",\n")
      s"""pts$s AS MATERIALIZED (
         |  SELECT vec_id, dim - ${s * SubDim} AS dim, q FROM resid
         |  WHERE dim >= ${s * SubDim} AND dim < ${(s + 1) * SubDim}
         |), c0_$s AS MATERIALIZED (
         |  SELECT sd.cluster, p.dim, p.q AS cq
         |  FROM seed sd JOIN pts$s p USING (vec_id)
         |),
         |$rounds,
         |code_$s AS MATERIALIZED (
         |${assignSql(s"pts$s", s"c${Iters}_$s")}
         |)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until SubSpaces)
      .map(s => s"JOIN code_$s ON code_$s.vec_id = e.vec_id").mkString("\n")
    val cols = (0 until SubSpaces).map(s => s"code_$s.cluster AS c$s").mkString(", ")
    s"""WITH $coarseChainCtes, resid AS MATERIALIZED (
       |  SELECT p.vec_id, p.dim, p.q - c.cq AS q
       |  FROM pts p
       |  JOIN caf a ON a.vec_id = p.vec_id
       |  JOIN cc$CoarseIters c ON c.cluster = a.cluster AND c.dim = p.dim
       |), seed AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, vec_id
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $K)
       |),
       |$chains
       |SELECT e.vec_id, caf.cluster AS coarse, $cols
       |FROM embeddings e
       |JOIN caf ON caf.vec_id = e.vec_id
       |$joins
       |ORDER BY e.vec_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map("q147_pq_codes" -> q147OracleSql)
  override val rowsOnly: Set[String] = Set("q148_knn_ivf_pq")
}
