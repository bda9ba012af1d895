package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph compute over engine-derived edge lists. The dedup
  * connected components (Dedup.scala) cover reachability; PageRank adds
  * the weighted-iteration family — the centrality pass a crawl/corpus
  * pipeline runs to weight sources, here over the k-NN similarity graph
  * (q90), where high rank marks vectors central to dense semantic
  * neighborhoods (prototypes) and low rank marks outliers.
  */
object GraphOps extends graft.QueryModule {

  val Damping = 0.85
  val Iters = 10

  /** Early-exit threshold for q93: stop when max |Δrank| < Eps. Sized
    * against the GraphSpec replay gate, not wishfully: on the q90 k-NN
    * graph maxΔ decays at only ~0.82/round (measured by a driver-side
    * scalar replay of the sf0.1 graph: 9.9e-4 at round 1, 2.4e-5 at
    * round 10), so 1e-6 does NOT fire inside the 10-round budget and
    * the q93 output is bit-identical to the fixed loop. On a graph that
    * does converge early, exiting at maxΔ < 1e-6 leaves the result
    * within 1e-6·d/(1-d) ≈ 5.7e-6 of the full run —
    * inside the replay gate's 1e-5 tolerance by construction.
    */
  val Eps = 1e-6

  /** PageRank over a directed edge list (src, dst). Each iteration is
    * ONE join (ranks → edges on src) + ONE aggregate (sum contributions
    * by dst) — the sparse matrix-vector product in relational form.
    * Ranks/edges stay partitioned; driver state is three scalars (n,
    * dangling mass, max Δ). Lineage is truncated per round
    * (localCheckpoint, the q47 pointer-jumping discipline) so the plan
    * doesn't grow with the iteration count; the dangling-mass scalar and
    * the convergence delta are then read off the materialized partitions
    * in one tiny single-stage job and folded into the NEXT round's plan
    * as literals — cheaper than the previous crossJoin(broadcast(agg))
    * shape, which paid a broadcast-exchange subjob every round.
    * Returns (ranks, rounds actually executed).
    */
  private[graft] def pageRankWithStats(edges: DataFrame, nodes: DataFrame,
                                       iters: Int = Iters,
                                       eps: Double = 0.0): (DataFrame, Int) = {
    import org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint
    val n = nodes.count()
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // static per run, materialized once: edges with their source degree,
    // and each node's degree (null deg = dangling — no out-edges)
    val linked = edges.join(outDeg, Seq("src")).localCheckpoint()
    val nodeDeg = nodes
      .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left_outer")
      .localCheckpoint()
    // prev carries the pre-round rank so Δ is computable from the frame
    // itself — no extra join against the previous iterate
    var ranks = nodeDeg.select(col("id"), col("deg"),
      lit(1.0 / n).as("rank"), lit(1.0 / n).as("prev")).localCheckpoint()
    // nodeDeg fed the initial iterate, which is now materialized — its
    // blocks are dead weight for the rest of the run
    releaseCheckpoint(nodeDeg)
    // (dangling mass, max |Δ|) of a materialized iterate: one scan of
    // the checkpointed partitions, no shuffle, no lineage re-execution
    def scalars(r: DataFrame): (Double, Double) = {
      val row = r.agg(
        coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0.0)),
        coalesce(max(abs(col("rank") - col("prev"))), lit(0.0))).head()
      (row.getDouble(0), row.getDouble(1))
    }
    var dangling = scalars(ranks)._1
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      // mass leaving via edges; dangling mass redistributes uniformly
      // (the standard correction: without it rank mass drains every
      // iteration) and enters the plan as a constant-folded literal.
      // TWO shuffles per round, not three: edge contributions UNION a
      // zero row per node feed ONE groupBy that both sums inflow and
      // (via max over the zero rows' deg/prev) re-derives each node's
      // degree and prior rank — so no left-outer join back to the node
      // list is needed. Shuffle joins throughout: broadcast-hinting the
      // O(|V|) rank/contrib frames measured SLOWER here (a driver
      // collect per round) and would cap the operator at driver memory.
      val prevRanks = ranks // superseded once the new iterate materializes
      val r = ranks.select(col("id").as("rid"), col("rank"))
      val edgeRows = linked.join(r, col("rid") === col("src"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .withColumn("deg", lit(null).cast("long"))
        .withColumn("prev", lit(null).cast("double"))
      val zeroRows = ranks.select(col("id"), lit(0.0).as("c"), col("deg"),
        col("rank").as("prev"))
      ranks = edgeRows.unionByName(zeroRows)
        .groupBy("id")
        // max(deg) = the zero row's degree (edge rows carry null); a
        // dangling node's zero row also carries null -> deg stays null
        .agg(sum(col("c")).as("inflow"), max(col("deg")).as("deg"),
          max(col("prev")).as("prev"))
        .select(col("id"), col("deg"),
          (lit((1.0 - Damping) / n) + lit(Damping * dangling / n) +
            lit(Damping) * col("inflow")).as("rank"), col("prev"))
        // checkpoint EVERY round: the scalar read below and the next
        // round's plan both consume this iterate, and without a
        // materialization barrier they would re-execute all rounds since
        // the last checkpoint (quadratic re-work — measured 1.4x slower
        // on a 5-round cadence)
        .localCheckpoint()
      // the new iterate is materialized and its scalars read below come
      // off the NEW blocks — the previous round's snapshot is now
      // unreachable by any future plan. Release it immediately instead
      // of waiting for ContextCleaner: without this, a 10-round run
      // holds 10 rank snapshots (plus linked/nodeDeg) in the block
      // store simultaneously, and q118 measured 5.4× slower under a
      // loaded session from exactly that residency (BENCH_r13).
      releaseCheckpoint(prevRanks)
      val (dm, delta) = scalars(ranks)
      dangling = dm
      converged = eps > 0.0 && delta < eps
      it += 1
    }
    // only the FINAL iterate backs the returned frame — the static edge
    // frame is dead once iteration stops
    releaseCheckpoint(linked)
    (ranks.select(col("id"), col("rank")), it)
  }

  private[graft] def pageRank(edges: DataFrame, nodes: DataFrame,
                              iters: Int = Iters,
                              eps: Double = 0.0): DataFrame =
    pageRankWithStats(edges, nodes, iters, eps)._1

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PageRank over the LSH k-NN graph's directed edges. Rows-only:
    // the fixpoint isn't portable SQL (and double summation order makes
    // ranks reproducible only to ~1e-12); GraphSpec pins mass
    // conservation and a driver-side reference replay instead, and the
    // output rounds to 6 digits so the report is presentation-stable.
    "q93_pagerank" -> ((s, d) => {
      // memoized q90 graph — the edge build is shared with q90/q43/q68,
      // not recomputed per consumer (and the memo skips q90's orderBy,
      // which PageRank doesn't need)
      val edges = SimilaritySearch.knnGraphLsh(s, d)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      val nodes = graft.Tables.embeddings(s, d).select(col("vec_id").as("id"))
      pageRank(edges, nodes, Iters, Eps)
        .select(col("id").as("vec_id"), round(col("rank"), 6).as("rank_r"))
        .orderBy("vec_id")
    }),

    // PageRank with a FULL DuckDB oracle — the iterative operator's
    // hash-compare closure (q93's LSH edges aren't portable SQL, so its
    // check is spec-level only). Graph: the anchor subgraph of q89's
    // EXACT k-NN graph (edges with both endpoints under the anchor cap)
    // — deterministic and SQL-expressible, so the oracle can rebuild the
    // identical edge list and unroll the identical fixed-round
    // iteration. eps=0: no early exit, both sides run exactly Iters
    // rounds. round(rank, 6) absorbs double-summation-order noise
    // (~1e-15 against a 1e-6 grain).
    "q118_pagerank_exact" -> ((s, d) => {
      val anchor = SimilaritySearch.GraphAnchorNodes
      val edges = SimilaritySearch.knnGraphExact(s, d)
        .filter(col("neighbor_id") < anchor)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      val nodes = graft.Tables.embeddings(s, d)
        .filter(col("vec_id") < anchor).select(col("vec_id").as("id"))
      pageRank(edges, nodes, Iters, eps = 0.0)
        .select(col("id").as("vec_id"), round(col("rank"), 6).as("rank_r"))
        .orderBy("vec_id")
    })
  )

  /** The q118 oracle unrolls the fixed-round iteration as chained CTEs
    * (DuckDB's recursive CTEs forbid aggregation in the recursive term,
    * so PageRank can't use the q47 transitive-closure shape): per round,
    * a dangling-mass scalar CTE and a rank CTE with exactly the engine's
    * update rule — (1-d)/n + d·dangling/n + d·Σ rank/deg over in-edges.
    */
  private def q118OracleSql: String = {
    val anchor = SimilaritySearch.GraphAnchorNodes
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references its predecessor twice (dangling scalar + inflow)
    // — inlining would re-evaluate the whole chain exponentially (2^10
    // copies of the quadratic knn CTE)
    val rounds = (0 until Iters).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT COALESCE(SUM(r.rank), 0.0) AS dm
         |  FROM r$i r LEFT JOIN outdeg o ON o.id = r.id WHERE o.id IS NULL
         |), r${i + 1} AS MATERIALIZED (
         |  SELECT nd.id,
         |         ${1.0 - Damping}/(SELECT n FROM nn)
         |         + $Damping*(SELECT dm FROM d$i)/(SELECT n FROM nn)
         |         + $Damping*COALESCE(f.inflow, 0.0) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS id, SUM(r.rank / o.deg) AS inflow
         |    FROM edges e JOIN r$i r ON r.id = e.src
         |                 JOIN outdeg o ON o.id = e.src
         |    GROUP BY e.dst
         |  ) f ON f.id = nd.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH knn AS MATERIALIZED (
       |  SELECT vec_id AS src, neighbor_id AS dst FROM (
       |${SimilaritySearch.knnExactOracleInner}
       |  )
       |),
       |edges AS MATERIALIZED (SELECT src, dst FROM knn WHERE dst < $anchor),
       |nodes AS MATERIALIZED (
       |  SELECT vec_id AS id FROM embeddings WHERE vec_id < $anchor),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |outdeg AS MATERIALIZED (
       |  SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS deg
       |  FROM edges GROUP BY src),
       |r0 AS MATERIALIZED (
       |  SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM nodes),
       |$rounds
       |SELECT id AS vec_id, ROUND(rank, 6) AS rank_r FROM r$Iters
       |ORDER BY vec_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q118_pagerank_exact" -> q118OracleSql)
  override val rowsOnly: Set[String] = Set("q93_pagerank")
}
