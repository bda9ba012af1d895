package graft

import org.scalatest.funsuite.AnyFunSuite

/** q196 behavior pins: a perfectly-deterministic alternation reads
  * conditional entropy EXACTLY 0 (joint ≡ first under the same
  * quantization), a branching source reads the hand-computed value,
  * and a driver brute-force corpus replay.
  */
class CondEntropySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def q(x: Double): Long =
    new java.math.BigDecimal(math.log(x) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  test("q196: deterministic alternation reads cond 0; a branching source reads its hand value") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-condent")
    // D: "a b a b a b" -> bigrams ab,ba,ab,ba,ab (N=5): from a always b,
    //    from b always a -> H(X2|X1) = 0 exactly (hj_num == hf_num).
    // B: "a a a b b a b b" -> bigrams aa:2, ab:2, bb:2, ba:1 (N=7);
    //    firsts a:4 (aa+ab), b:3 (bb+ba).
    Seq((0L, "a b a b a b", "en", "D", 0L),
      (1L, "a a a b b a b b", "en", "B", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q196_source_cond_entropy")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val hjB = q(7) - (3 * 2 * q(2) + 1 * q(1)) / 7
    val hfB = q(7) - (4 * q(4) + 3 * q(3)) / 7
    val hjD = q(5) - (3 * q(3) + 2 * q(2)) / 5
    assert(got == Seq(
      ("B", 7L, 4L, hjB, hfB, hjB - hfB),
      ("D", 5L, 2L, hjD, hjD, 0L)), got.mkString(", "))
  }

  test("q196: corpus conditional entropy equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (src, ds) =>
      val bigrams = ds.flatMap { case (_, t) =>
        val w = t.trim.split("\\s+").toSeq
        if (w.size >= 2) w.sliding(2).map(p => (p.head, p.mkString(" "))).toSeq
        else Seq.empty
      }
      if (bigrams.isEmpty) None else {
        val cg = bigrams.groupBy(_._2).map { case (_, v) => v.size.toLong }.toSeq
        val c1 = bigrams.groupBy(_._1).map { case (_, v) => v.size.toLong }.toSeq
        val n = cg.sum
        val hj = q(n.toDouble) - cg.map(c => c * q(c.toDouble)).sum / n
        val hf = q(n.toDouble) - c1.map(c => c * q(c.toDouble)).sum / n
        Some((src, n, cg.size.toLong, hj, hf, hj - hf))
      }
    }
    val got = SparkEntry.queries("q196_source_cond_entropy")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"engine:\n${got.take(4).mkString("\n")}\nexpected:\n${expected.take(4).mkString("\n")}")
    // conditional entropy is bounded by the joint on every source
    for ((_, _, _, hj, hf, cond) <- got) assert(cond <= hj && hf <= hj + 1)
  }
}
