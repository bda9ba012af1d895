package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions

/** q52 (curation with the LSH-component canon — no exact-digest anchor)
  * gated against q50 (exact canon). Exact duplicates have identical
  * shingle sets → identical minhash signatures → identical band keys, so
  * LSH finds them with recall 1 deterministically; the only legitimate
  * divergences are (a) q52 additionally dropping near-duplicates the
  * exact anchor can't see, and (b) sub-3-token docs, which have no
  * shingles and so can't enter the pair graph.
  */
class CurationLshSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("q52 verdicts agree with q50 except strictly-extra near-dup drops") {
    val d = "/root/testdata/sf0.001"
    val rows = ops.TextAnalysis.exactVerdicts(spark, d)
      .select(col("doc_id"), col("verdict").as("v_exact"))
      .join(ops.TextAnalysis.lshVerdicts(spark, d)
        .select(col("doc_id"), col("verdict").as("v_lsh")), "doc_id")
      .join(Tables.documents(spark, d)
        .select(col("doc_id"), size(TextFunctions.tokens(col("text"))).as("n_tok")), "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    val nDocs = Tables.documents(spark, d).count()
    assert(rows.length == nDocs) // every doc gets exactly one verdict in both
    val illegal = rows.filter { case (_, vExact, vLsh, nTok) =>
      vExact != vLsh &&
        !(vLsh == "drop_duplicate" || (vExact == "drop_duplicate" && nTok < 3))
    }
    assert(illegal.isEmpty, s"divergences outside the allowed direction: ${illegal.take(5).toSeq}")
    val agree = rows.count { case (_, a, b, _) => a == b }.toDouble / rows.length
    assert(agree >= 0.9, s"verdict agreement $agree below 0.9")
    // report mass conservation: every doc lands in exactly one bucket
    val reported = SparkEntry.queries("q52_corpus_curation_lsh")(spark, d)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(reported == nDocs)
  }

  test("near-duplicates (not byte-identical) are dropped by q52 but invisible to q50") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = (1 to 39).map(i => s"word$i").mkString(" ") + " changed"
    val other = (1 to 40).map(i => s"unrelated$i other$i").mkString(" ")
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-curation")
    Seq((1L, base, "en", "t", base.length.toLong),
      (2L, near, "en", "t", near.length.toLong),
      (3L, other, "en", "t", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exact = ops.TextAnalysis.exactVerdicts(spark, dir)
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lsh = ops.TextAnalysis.lshVerdicts(spark, dir)
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exact(2L) != "drop_duplicate") // distinct bytes: exact anchor is blind
    assert(lsh(2L) == "drop_duplicate")   // jaccard ~0.95 near-dup: LSH canon sees it
    assert(lsh(1L) != "drop_duplicate")   // canonical member survives
    assert(lsh(3L) != "drop_duplicate")   // unrelated doc untouched
  }
}
