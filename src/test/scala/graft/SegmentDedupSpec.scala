package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SegmentDedup
import graft.functions.TextFunctions.tokens

/** q112 segment-level dedup + q113 incremental dedup: structural
  * invariants that the oracle's hash compare can't see — conservation
  * (exactly one global keeper per distinct segment), identity on
  * dup-free docs, and the verdict partition laws of the batch-vs-corpus
  * lifecycle.
  */
class SegmentDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  test("q112 keeps exactly one occurrence of every distinct segment") {
    val segs = SegmentDedup.segmentsOf(Tables.documents(spark, d))
    val distinctSegs = segs.select("dg").distinct().count()
    val keptTotal = SegmentDedup.segmentDedup(spark, d)
      .agg(sum("n_kept")).collect()(0).getLong(0)
    assert(keptTotal == distinctSegs,
      s"kept $keptTotal != distinct segments $distinctSegs — first-occurrence selection must be a bijection")
  }

  test("q112 reassembles a doc with no duplicated segments to its normalized self") {
    // docs none of whose segments appear anywhere else keep everything,
    // and the reassembly md5 equals md5 of the space-joined token stream
    val segs = SegmentDedup.segmentsOf(Tables.documents(spark, d))
    val shared = segs.groupBy("dg").count().filter(col("count") > 1).select("dg")
    val cleanDocs = segs.join(shared, Seq("dg"), "left_anti")
      .groupBy("doc_id").count()
      .join(segs.groupBy("doc_id").count().withColumnRenamed("count", "total"), Seq("doc_id"))
      .filter(col("count") === col("total"))
      .select("doc_id")
    val expected = Tables.documents(spark, d)
      .join(cleanDocs, Seq("doc_id"))
      .select(col("doc_id"),
        md5(concat_ws(" ", tokens(col("text"))).cast("binary")).as("exp_md5"))
    val got = SegmentDedup.segmentDedup(spark, d)
      .join(cleanDocs, Seq("doc_id"))
    assert(got.filter(col("n_kept") =!= col("n_segs")).count() == 0,
      "a dup-free doc must keep all segments")
    val mismatches = got.join(expected, Seq("doc_id"))
      .filter(col("kept_md5") =!= col("exp_md5")).count()
    assert(mismatches == 0,
      "reassembly of a dup-free doc must be the normalized original")
    assert(cleanDocs.count() > 0, "testdata trap: no dup-free docs to check")
  }

  test("q112 drops the later copy of an exact duplicate doc's segments") {
    // the testdata has no natural byte-identical docs at any SF (measured,
    // r9 verdict), so CONSTRUCT the duplicate: union a re-ID'd copy of 5
    // real docs past the id space and run the frame-parameterized op. The
    // later doc of a byte-identical pair duplicates EVERY segment, so it
    // must keep zero.
    val docs = Tables.documents(spark, d)
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val originals = docs.orderBy("doc_id").limit(5)
    val copies = originals.withColumn("doc_id", col("doc_id") + lit(maxId + 1))
    val later = SegmentDedup.segmentDedupOf(docs.unionByName(copies))
      .filter(col("doc_id") > maxId)
    assert(later.count() == 5, "all 5 constructed copies must come back")
    assert(later.filter(col("n_kept") =!= 0).count() == 0,
      "every segment of a later byte-identical copy already occurred in the keeper")
  }

  test("q113 verdicts partition the batch and provenance points backward") {
    val out = SegmentDedup.incrementalDedup(spark, d)
    val batchN = out.count()
    assert(batchN > 0, "batch must be non-empty")
    val verdicts = out.groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert((verdicts.keySet -- Set("new", "dup_of_corpus", "dup_in_batch")).isEmpty)
    assert(verdicts.values.sum == batchN)
    // provenance: null iff new; always strictly earlier than the doc
    assert(out.filter(col("verdict") === "new" && col("dup_src").isNotNull).count() == 0)
    assert(out.filter(col("verdict") =!= "new" && col("dup_src").isNull).count() == 0)
    assert(out.filter(col("dup_src") >= col("doc_id")).count() == 0,
      "dup provenance must point to an earlier doc")
  }

  test("q113 agrees with the global exact-dedup graph (q25) on the batch slice") {
    // a batch doc is 'new' iff it is the global first occurrence of its
    // digest — the same canon q25 computes over the whole corpus
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
    val firstGlobal = docs.groupBy("dg").agg(min("doc_id").as("first_id"))
    val expectedNew = docs.join(firstGlobal, Seq("dg"))
      .filter(col("doc_id") === col("first_id"))
      .select("doc_id")
    val got = SegmentDedup.incrementalDedup(spark, d)
    val newGot = got.filter(col("verdict") === "new").select("doc_id")
    val onlyGot = newGot.join(expectedNew, Seq("doc_id"), "left_anti").count()
    val onlyExp = expectedNew
      .join(got.select("doc_id"), Seq("doc_id")) // restrict to batch docs
      .join(newGot, Seq("doc_id"), "left_anti").count()
    assert(onlyGot == 0 && onlyExp == 0,
      s"'new' set must equal global first occurrences restricted to the batch ($onlyGot/$onlyExp)")
  }
}
