package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ClusterOps

/** q132 exact-integer k-means: the iteration laws the oracle's hash
  * compare can't see — quantization exactness, argmin/tie semantics of
  * the assignment chain, the floor-average update, and convergence on a
  * fixture whose clustering is known by construction.
  */
class ClusterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def vecDf(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
  }

  test("quantization: round-half-up at ±, offset keeps everything positive") {
    val q = ClusterOps.quantized(vecDf(Seq(
      (1L, Seq(0.0015, -0.0015, 0.5, -0.5))))) // 1.5 rounds away from zero both engines
      .collect()(0).getSeq[Long](1)
    assert(q == Seq(1024L + 2, 1024L - 2, 1024L + 500, 1024L - 500))
    assert(q.forall(_ > 0), "offset must keep quantized values positive (floor == trunc)")
  }

  test("assignment: argmin with ties to the smallest cluster id") {
    val pts = ClusterOps.quantized(vecDf(Seq(
      (1L, Seq(0.1, 0.0)),   // nearer c0
      (2L, Seq(0.0, 0.1)),   // nearer c1
      (3L, Seq(0.05, 0.05))))) // exactly equidistant -> cluster 0
    val cents = Seq(
      0 -> Seq(1024L + 100, 1024L),
      1 -> Seq(1024L, 1024L + 100))
    val a = ClusterOps.assign(pts, cents)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a == Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("assignment carries the model as data: no CASE WHEN, one expression size for any k") {
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    val pts = ClusterOps.quantized(vecDf(Seq((1L, Seq(0.1, 0.0)))))
    def nodes(k: Int): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
      val cents = (0 until k).map(i => i -> Seq(1024L + i, 1024L))
      val a = ClusterOps.assign(pts, cents)
      Seq("ds", "cluster").flatMap(n => SparkTestSession.aliased(a, n).collect { case e => e })
    }
    assert(!nodes(4).exists(_.isInstanceOf[CaseWhen]), "assign must not build a CASE WHEN chain")
    assert(nodes(2).size == nodes(16).size,
      "the assignment expression must not grow with the centroid count")
  }

  test("update: centroids are exact integer floor-averages of members") {
    val pts = ClusterOps.quantized(vecDf(Seq(
      (1L, Seq(0.001, 0.002)), (2L, Seq(0.002, 0.005)))))
      .withColumn("cluster", lit(0))
    val up = ClusterOps.update(pts)
      .orderBy("dim").collect()
    // dim0: (1025 + 1026) div 2 = 1025 (floor); dim1: (1026 + 1029) div 2 = 1027
    assert(up.map(_.getLong(4)).toSeq == Seq(1025L, 1027L))
    assert(up.forall(_.getLong(3) == 2L), "member count rides every dim")
  }

  test("q132 on the driver table: partition law + self-consistency of the final round") {
    val out = ClusterOps.kmeans(spark, d).collect()
    val n = Tables.embeddings(spark, d).count()
    val perCluster = out.groupBy(_.getInt(0)).view.mapValues(_.head.getLong(1)).toMap
    assert(perCluster.values.sum == n, "final assignment partitions the points")
    assert(out.length == perCluster.size * ClusterOps.Dims,
      "one centroid component per (surviving cluster, dim)")
    // dequantized component is the exact single-division image of the int
    assert(out.forall(r =>
      r.getDouble(4) == (r.getLong(3) - ClusterOps.Offset).toDouble / 1000.0))
  }

  test("q175 upsert: every arriving vector lands in its exact stale-centroid argmin; totals conserve") {
    val pts = ClusterOps.quantized(Tables.embeddings(spark, d))
    val isNew = graft.ops.Sampling.splitOf(col("vec_id")) === "test"
    val (nOldTotal, nNewTotal) =
      (pts.filter(!isNew).count(), pts.filter(isNew).count())
    val rows = SparkEntry.queries("q175_ivf_upsert")(spark, d).collect()
    assert(rows.map(_.getLong(1)).sum == nOldTotal, "old vectors must conserve")
    assert(rows.map(_.getLong(2)).sum == nNewTotal, "every arriving vector must land")
    assert(nNewTotal > 0, "fixture must carry an arriving batch")
    // driver argmin check: stale centroids from the same training path,
    // each new vector's cell recomputed with exact integer distances
    val (cents, _) = ClusterOps.trainOn(pts.filter(!isNew))
    val assigned = ClusterOps.assign(pts.filter(isNew), cents).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val newPts = pts.filter(isNew).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    newPts.foreach { case (id, q) =>
      val best = cents.map { case (c, cv) =>
        (c, q.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.minBy { case (c, d2) => (d2, c) }._1
      assert(assigned(id) == best, s"vec $id assigned ${assigned(id)} != argmin $best")
    }
  }

  test("fixture with two obvious blobs converges to their floor-mean centers") {
    // 4 seed ids land 2 in each blob; Lloyd must separate them by iter 3
    val blobA = Seq(1L -> Seq(0.1, 0.1), 2L -> Seq(0.12, 0.1),
      5L -> Seq(0.11, 0.09), 6L -> Seq(0.1, 0.11))
    val blobB = Seq(3L -> Seq(-0.4, -0.4), 4L -> Seq(-0.38, -0.41),
      7L -> Seq(-0.4, -0.39), 8L -> Seq(-0.41, -0.4))
    val pts = ClusterOps.quantized(vecDf(blobA ++ blobB)).localCheckpoint()
    val seed = pts.orderBy("vec_id").limit(4).collect()
    var cents = seed.zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1)) }.toSeq
    for (_ <- 1 to 3) {
      val up = ClusterOps.update(ClusterOps.assign(pts, cents))
      cents = up.collect().groupBy(_.getInt(0)).toSeq
        .map { case (c, rs) => (c, rs.sortBy(_.getInt(1)).map(_.getLong(4)).toSeq) }
    }
    val a = ClusterOps.assign(pts, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val aClusters = blobA.map(p => a(p._1)).toSet
    val bClusters = blobB.map(p => a(p._1)).toSet
    assert(aClusters.intersect(bClusters).isEmpty,
      s"blobs must not share clusters after 3 rounds: A=$aClusters B=$bClusters")
  }
}
