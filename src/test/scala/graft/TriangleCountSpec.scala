package graft

import org.scalatest.funsuite.AnyFunSuite

/** q211 behavior pins: a 4-vector fixture whose kNN graph is complete
  * (K₄ — every node in exactly 3 of the 4 triangles), a brute-force
  * corpus replay over the collected edge set, and the 3x-participation
  * identity.
  */
class TriangleCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  private def run(dir: String): Seq[(Long, Long)] =
    ops.TriangleCount.queries("q211_knn_triangles")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("q211: 4 vectors -> complete kNN graph -> K4's four triangles, 3 per node") {
    // with exactly 4 vectors, top-GraphK(=3) neighbors = all others, so
    // the undirected graph is K4 regardless of the cosine values
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-tri")
    val vecs = Seq(
      (0L, Seq(1.0f, 0.1f, 0.0f), 0), (1L, Seq(0.9f, 0.2f, 0.1f), 0),
      (2L, Seq(0.1f, 1.0f, 0.2f), 1), (3L, Seq(0.0f, 0.2f, 1.0f), 1))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(run(dir) == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L)))
  }

  test("q211: corpus counts equal a brute force over the edge set; participation = 3 x triangles") {
    val edges = ops.SimilaritySearch.knnGraphExact(spark, d)
      .select("vec_id", "neighbor_id").collect()
      .map(r => {
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val adj = nodes.map(n => n ->
      edges.collect { case (a, b) if a == n => b
                      case (a, b) if b == n => a }).toMap
    val tris = for {
      (a, b) <- edges.toSeq
      c <- (adj(a) & adj(b)).toSeq if c > b
    } yield (a, b, c)
    val perNode = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).toSeq.map { case (n, v) => (n, v.size.toLong) }
      .sortBy(_._1)
    val got = run(d)
    assert(got == perNode, s"engine ${got.size} rows vs brute ${perNode.size}")
    assert(got.map(_._2).sum == 3L * tris.size)
    assert(tris.nonEmpty, "corpus kNN graph has no triangles to gate on")
  }
}
