package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ScaleOps

/** Skew-mitigation and co-location machinery: salted operations must be
  * exactly equivalent to their plain versions; bucketed tables must join
  * without a shuffle.
  */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val skewed = {
    // hot key: 90% of rows share key 1
    val rows = (1 to 900).map(i => (1L, i.toDouble)) ++
      (1 to 100).map(i => ((i % 7 + 2).toLong, i.toDouble))
    rows.toDF("k", "v")
  }
  private lazy val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"),
    (5L, "d"), (6L, "e"), (7L, "f"), (8L, "g")).toDF("k", "name")

  test("saltedJoin result equals the plain join") {
    val plain = skewed.join(dim, Seq("k")).orderBy("k", "v")
    val salted = ScaleOps.saltedJoin(skewed, dim, Seq("k"), salts = 8)
      .orderBy("k", "v")
    assert(salted.columns.toSet == plain.columns.toSet)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedSum equals plain groupBy sum") {
    val plain = skewed.groupBy("k").agg(sum("v").as("sum_v"))
    val salted = ScaleOps.saltedSum(skewed, Seq("k"), "v", salts = 8)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("bucketed tables join without an exchange (co-located SMJ)") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bucketed").join(spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(j.count() == Tables.lineitem(spark, "/root/testdata/sf0.001").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("dedup components: ~100k-node chain+blob graph converges in log-diameter rounds (shuffle branch)") {
    // the pointer-jumping worst case (one 65,536-node path — diameter
    // 65,535) next to the common case (512 dense 64-node blobs), forced
    // through the shuffle-join branch with broadcastCap=0: the exact
    // plan shape a 100 TB corpus would run, at ~100k nodes / ~260k
    // directed edges
    val chainLen = 65536L
    val chain = spark.range(0, chainLen - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val blobBase = 1000000L
    val members = spark.range(0, 512L * 64).select(
      (col("id") / 64).cast("long").as("blob"), (col("id") % 64).as("i"))
    def blobEdge(offset: Int) = members.select(
      (lit(blobBase) + col("blob") * 64 + col("i")).as("doc_a"),
      (lit(blobBase) + col("blob") * 64 + (col("i") + offset) % 64).as("doc_b"))
    val pairs = chain.union(blobEdge(1)).union(blobEdge(16))
    val t0 = System.nanoTime()
    val (labels, rounds) = ops.Dedup.dedupComponentsWithRounds(pairs, broadcastCap = 0)
    val groups = labels.groupBy("label").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    // labels exact: the chain collapses to node 0, each blob to its base
    assert(groups.size == 513)
    assert(groups(0L) == chainLen)
    assert((0 until 512).forall(b => groups(blobBase + b * 64L) == 64L))
    // the ROUND COUNT meets the doubling bound, not just termination:
    // d_r = 2^r - 1 >= 65,535 at r = 16, +1 no-change round to detect
    // the fixpoint, +1 slack
    val bound = math.ceil(math.log(chainLen.toDouble) / math.log(2)).toInt + 2
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
    assert(elapsedSec < 240, f"shuffle-branch components took $elapsedSec%.0f s")
  }

  test("sequence packing: 200k docs, invariants hold, bin count near optimal") {
    // deterministic pseudo-random sizes over the full clamp range
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-scale-pack")
    spark.range(0, 200000)
      .select(col("id").as("doc_id"), lit("").as("text"), lit("en").as("lang"),
        lit("t").as("source"),
        ((col("id") * 2654435761L) % 8000).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    // 2 hex chars = 256 shards: the parallelism knob a big corpus turns
    val packed = ops.CorpusPrep.packSequences(spark, dir, shardChars = 2)
      .groupBy("shard", "bin_seq")
      .agg(sum(col("tok")).as("fill"), count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    // every doc assigned exactly once; no bin overfilled
    assert(packed.agg(sum(col("n_docs"))).collect()(0).getLong(0) == 200000L)
    assert(packed.filter(col("fill") > ops.CorpusPrep.ContextTokens).isEmpty)
    // next-fit quality: consecutive bins sum past the budget, so bins
    // <= 2*opt (+1 trailing bin per shard)
    val totalTok = packed.agg(sum(col("fill"))).collect()(0).getLong(0)
    val nBins = packed.count()
    // 2*opt (next-fit: consecutive bins overflow the budget) + one
    // possibly-underfull trailing bin per shard
    val bound = 2 * totalTok / ops.CorpusPrep.ContextTokens + 256
    assert(nBins <= bound, s"$nBins bins vs next-fit bound $bound")
    assert(elapsedSec < 120, f"packing 200k docs took $elapsedSec%.0f s")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Spark's runtime-filter injection (on by default) plants a bloom
    // filter built from the dim side's join keys onto the fact scan —
    // the exchange-level analog of predicate pushdown, worth its cost
    // only when the fact scan is huge, hence the 10 GB default
    // application-side threshold. Pin the machinery at test scale by
    // lowering the thresholds; results must be identical with and
    // without the filter (it is pruning-only, never semantic).
    val s = spark
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val d = "/root/testdata/sf0.001"
      def joined = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n$plan")
      val withBloom = joined.collect().head
      saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      val without = joined.collect().head
      assert(withBloom == without, "bloom filter changed results")
    } finally
      saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }
}
