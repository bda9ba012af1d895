package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q93 PageRank: mass conservation, a driver-side reference replay on
  * the real graph, and a hand-computable fixture.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q93 conserves rank mass and matches a driver-side replay") {
    val edges = ops.SimilaritySearch.graphQueries("q90_knn_graph_lsh")(spark, sf)
      .select(col("vec_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = Tables.embeddings(spark, sf).select("vec_id")
      .collect().map(_.getLong(0))
    val got = SparkEntry.queries("q93_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == nodes.length)
    assert(math.abs(got.values.sum - 1.0) < 1e-3, // rounded to 6 digits per row
      s"rank mass ${got.values.sum} != 1")
    // reference replay: same algorithm, scalar loop
    val n = nodes.length
    val out = edges.groupBy(_._1).view.mapValues(_.length).toMap
    val incoming = edges.groupBy(_._2)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to ops.GraphOps.Iters) {
      val dangling = nodes.filter(v => !out.contains(v)).map(rank).sum
      val base = (1 - ops.GraphOps.Damping) / n +
        ops.GraphOps.Damping * dangling / n
      rank = nodes.map { v =>
        val inflow = incoming.getOrElse(v, Array.empty)
          .map { case (s, _) => rank(s) / out(s) }.sum
        v -> (base + ops.GraphOps.Damping * inflow)
      }.toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - rank(v)) < 1e-5,
        s"node $v: engine ${got(v)} vs reference ${rank(v)}")
    }
    // the graph is non-trivial: ranks must actually differ across nodes
    assert(got.values.toSet.size > 10, "degenerate uniform ranks")
  }

  test("convergence early-exit fires on an already-converged graph and never degrades accuracy") {
    import spark.implicits._
    // A <-> B with uniform init is a fixpoint from round 1: maxDelta = 0,
    // so with eps on the loop must stop long before the iteration cap
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L).toDF("id")
    val (rdf, rounds) = ops.GraphOps.pageRankWithStats(edges, nodes,
      iters = 50, eps = ops.GraphOps.Eps)
    val r = rdf.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(rounds < 50, s"early-exit never fired ($rounds rounds)")
    assert(math.abs(r(1L) - 0.5) < 1e-12 && math.abs(r(2L) - 0.5) < 1e-12)
    // q93's own graph decays at ~0.82/round (a driver-side scalar replay
    // measured maxDelta 2.4e-5 at round 10 at sf0.1), so Eps=1e-6 must
    // NOT fire inside the 10-round budget — the early-exit is a
    // capability, not a change to q93's output
    val knnEdges = ops.SimilaritySearch.graphQueries("q90_knn_graph_lsh")(spark, sf)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val knnNodes = Tables.embeddings(spark, sf).select(col("vec_id").as("id"))
    val (_, knnRounds) = ops.GraphOps.pageRankWithStats(knnEdges, knnNodes,
      iters = ops.GraphOps.Iters, eps = ops.GraphOps.Eps)
    assert(knnRounds == ops.GraphOps.Iters,
      s"eps fired at round $knnRounds on the k-NN graph — q93 output changed")
  }

  test("q118 conserves rank mass over the exact anchor subgraph") {
    // q118's value-level check is its DuckDB oracle (the unrolled
    // fixed-round CTE); this pins the structural invariant the oracle
    // can't see — total mass stays 1 after the rounded presentation
    val out = SparkEntry.queries("q118_pagerank_exact")(
      spark, "/root/testdata/sf0.001")
    val mass = out.agg(org.apache.spark.sql.functions.sum("rank_r"))
      .collect()(0).getDouble(0)
    // 500 ranks rounded to 1e-6 each: worst-case drift 500 * 5e-7
    assert(math.abs(mass - 1.0) < 500 * 5e-7,
      s"rank mass $mass deviates from 1.0 beyond rounding slack")
  }

  test("iteration releases superseded checkpoints — only the final iterate stays resident") {
    import spark.implicits._
    // BENCH_r13 regression: every round's localCheckpoint stayed in the
    // block store until a driver GC (maybe never on a 128 GiB heap), so
    // one q118 measurement held ~30 rank snapshots and read 5.4× its
    // quiet time. Pin the fix: a run leaves AT MOST one new persistent
    // RDD (the final iterate) — not iters+3.
    val sc = spark.sparkContext
    val edges = (1L to 200L).map(i => (i, i % 50 + 1)).toDF("src", "dst")
    val nodes = (1L to 200L).toDF("id")
    val before = sc.getPersistentRDDs.size
    val (ranks, _) = ops.GraphOps.pageRankWithStats(edges, nodes, iters = 10)
    val after = sc.getPersistentRDDs.size
    assert(after - before <= 1,
      s"pageRank left ${after - before} resident RDDs (want ≤1: the final iterate)")
    assert(ranks.count() == 200) // the surviving checkpoint still serves the result
    // same rule for the BPE trainer's per-round state
    val words = Seq(("abab", 5L), ("abc", 3L), ("bcd", 2L)).toDF("word", "n")
    val b0 = sc.getPersistentRDDs.size
    ops.LmTokenizer.bpeTrainOn(words, rounds = 5).collect()
    val segs = ops.LmTokenizer.bpeSegments(words, rounds = 5)
    val b1 = sc.getPersistentRDDs.size
    assert(b1 - b0 <= 2,
      s"bpe loops left ${b1 - b0} resident RDDs (want ≤2: one final state each)")
    assert(segs.count() > 0)
    // and for connected components' label propagation
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val c0 = sc.getPersistentRDDs.size
    val labels = ops.Dedup.dedupComponents(pairs, broadcastCap = 0)
    val c1 = sc.getPersistentRDDs.size
    assert(c1 - c0 <= 1,
      s"components left ${c1 - c0} resident RDDs (want ≤1: the final labels)")
    assert(labels.select("label").distinct().count() == 1) // one chain component
  }

  test("pageRank is exact on a hand-computed 3-node fixture") {
    import spark.implicits._
    // A -> B, B -> A, C dangling. Symmetry of A/B + C's uniform leak
    // means rank(A) == rank(B) at every iteration.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val r = ops.GraphOps.pageRank(edges, nodes, iters = 50)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
    assert(math.abs(r(1L) - r(2L)) < 1e-12)
    // fixpoint: rC = (1-d)/3 + d*rC/3  =>  rC = (1-d)/(3-d)
    val rc = (1 - ops.GraphOps.Damping) / (3 - ops.GraphOps.Damping)
    assert(math.abs(r(3L) - rc) < 1e-9, s"rank(C)=${r(3L)} expected $rc")
  }
}
