package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Chunking

/** q169 behavior pins: full token coverage (the dropped-tail theorem),
  * interior overlap geometry, exact reconstruction of every document
  * from its chunks, and hand-checked boundary cases around the MinTail
  * drop rule.
  */
class ChunkingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def chunksOf(texts: Seq[(Long, String)]) = {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-chunk")
    texts.map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("q169_chunk_sliding")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))
  }

  test("q169: boundary cases around the MinTail drop rule") {
    val words = (1 to 100).map(i => s"w$i")
    val doc = (n: Int) => words.take(n).mkString(" ")
    // n=5 (< MinTail): single chunk at start 0 survives the rule
    // n=100: starts 0,24,48,72 kept; 96 dropped (tail 4 < 8)
    // n=104: start 96 kept (tail exactly MinTail)
    val got = chunksOf(Seq(1L -> doc(5), 2L -> doc(100),
      3L -> ((1 to 104).map(i => s"w$i").mkString(" "))))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got(1L).map(c => (c._3, c._4)).toSeq == Seq((0L, 5L)))
    assert(got(2L).map(c => (c._3, c._4)).toSeq ==
      Seq((0L, 32L), (24L, 32L), (48L, 32L), (72L, 28L)))
    assert(got(3L).map(_._3).toSeq == Seq(0L, 24L, 48L, 72L, 96L))
    assert(got(3L).last._4 == 8L)
  }

  test("q169: every token position of every corpus doc is covered by some chunk") {
    val d = "/root/testdata/sf0.001"
    val lens = Tables.documents(spark, d)
      .select(col("doc_id"), size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = SparkEntry.queries("q169_chunk_sliding")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(chunks.keySet == lens.keySet, "every doc must produce chunks")
    lens.foreach { case (id, n) =>
      val covered = Array.fill(n)(false)
      chunks(id).foreach { case (_, start, len) =>
        (start until math.min(start + len, n)).foreach(p => covered(p.toInt) = true)
      }
      assert(covered.forall(identity), s"doc $id has uncovered token positions")
    }
  }

  test("q169: stride/overlap geometry and exact reconstruction from non-overlapped parts") {
    val d = "/root/testdata/sf0.001"
    val texts = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val chunks = SparkEntry.queries("q169_chunk_sliding")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(4)))
      .groupBy(_._1)
    chunks.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // consecutive kept starts differ by exactly Stride
      sorted.map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(b - a == Chunking.Stride)
        case _           => ()
      }
      // chunk text IS the token slice; stitching each chunk's first
      // Stride tokens (all of the last chunk) rebuilds a PREFIX of the
      // doc that, with the last chunk's full window, covers every token
      sorted.foreach { case (_, _, start, text) =>
        val exp = texts(id).slice(start.toInt,
          start.toInt + Chunking.ChunkTokens).mkString(" ")
        assert(text == exp, s"doc $id chunk at $start text mismatch")
      }
    }
  }
}
