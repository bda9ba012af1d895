package graft

import org.scalatest.funsuite.AnyFunSuite

/** q183 behavior pins: a planted collocation must outrank a
  * frequent-but-independent pair with the exact hand-computable score;
  * the min-count guard; and a full driver brute-force replay of the
  * top-k on the real corpus.
  */
class CollocationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def q(x: Long): Long = math.round(math.log(x.toDouble) * 1e6)

  private def brute(docs: Seq[String]): Seq[(String, Long, Long, Long, Long)] = {
    val toks = docs.map(_.trim.split("\\s+").toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val bis = toks.flatMap(w => w.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
    val bi = bis.groupBy(identity).map { case (g, o) => g -> o.size.toLong }
      .filter(_._2 >= graft.ops.Collocations.MinCount)
    val nUni = uni.values.sum
    val nBg = bis.size.toLong
    bi.toSeq.map { case (g, cab) =>
      val Array(a, b) = g.split(" ", 2)
      val pmi = q(cab) + 2 * q(nUni) - q(nBg) - q(uni(a)) - q(uni(b))
      (g, cab, uni(a), uni(b), pmi)
    }.sortBy(t => (-t._5, t._1)).take(graft.ops.Collocations.TopK)
  }

  test("q183: planted collocation outranks an independent frequent pair") {
    // "x y" occurs 6 times and x,y occur ONLY together (max PMI);
    // "p q" also occurs 6 times but p and q each occur 30 more times
    // independently (low PMI); "r s" occurs 4 times — under MinCount.
    val docs =
      Seq.fill(6)("x y p q") ++
        Seq.fill(30)("p a") ++ Seq.fill(30)("b q") ++
        Seq.fill(4)("r s")
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-colloc")
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "t", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q183_pmi_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val expected = brute(docs)
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    assert(got.head._1 == "x y", "exclusive pair must rank first")
    assert(!got.exists(_._1 == "r s"), "sub-MinCount pair must be filtered")
    val xy = got.find(_._1 == "x y").get._5
    val pq = got.find(_._1 == "p q").get._5
    assert(xy > pq, "exclusive pair must out-PMI the independent pair")
  }

  test("q183: corpus top-k equals a driver brute force") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("text")
      .collect().map(_.getString(0)).toSeq
    val got = SparkEntry.queries("q183_pmi_collocations")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val expected = brute(docs)
    assert(got == expected, s"engine:\n${got.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
    assert(got.size == graft.ops.Collocations.TopK, "corpus must fill the report")
  }
}
