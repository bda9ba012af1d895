package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.AsOf

/** The custom AsOfMergeJoinExec vs the composed join+window formulation:
  * identical results on real data, plus the edge cases (ties, no match,
  * null times) pinned on handcrafted frames.
  */
class AsOfJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The exec and the composed join + row_number form on sf0.001 events
    * against customers' orders; `outer` runs both as a left-outer join.
    */
  private def checkAgainstComposed(outer: Boolean): Unit = {
    val d = "/root/testdata/sf0.001"
    val e = Tables.events(spark, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    // every sf0.001 event has an earlier order, so the left-outer case
    // drops a third of the customers' orders to leave events unmatched
    val r = if (outer) o.filter(col("o_custkey") % 3 =!= 0) else o
    val custom = AsOf.join(spark, e, r, Seq("user_id"), Seq("o_custkey"),
        "ts", "o_orderdate", "o_orderkey", leftOuter = outer)
      .select("event_id", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy("event_id")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val latest = e.join(r, e("user_id") === r("o_custkey") &&
        r("o_orderdate") <= e("ts"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("event_id", "o_orderkey", "o_totalprice")
    // left outer: the composed rn = 1 rows left-joined back onto events
    val composed =
      if (outer) e.select("event_id").join(latest, Seq("event_id"), "left")
      else latest
    assert(custom.count() > 0)
    if (outer) assert(custom.filter(col("o_orderkey").isNull).count() > 0,
      "degenerate: no unmatched events in the left-outer case")
    assert(custom.exceptAll(composed).isEmpty && composed.exceptAll(custom).isEmpty,
      s"exec/composed divergence (outer=$outer)")
  }

  test("custom operator matches the composed join+window on testdata") {
    checkAgainstComposed(outer = false)
  }

  test("left-outer custom operator matches the composed join+window on testdata") {
    checkAgainstComposed(outer = true)
  }

  test("latest-at-or-before wins; equal times break by max tiebreak") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:00"), "t1"),
      (1L, ts("2024-01-01 12:00:00"), "t2"),
      (2L, ts("2024-01-01 09:00:00"), "t3")).toDF("sym", "ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10L, 100.0),
      (1L, ts("2024-01-01 10:00:00"), 20L, 101.0), // exact match: eligible
      (1L, ts("2024-01-01 10:00:00"), 30L, 102.0), // tie: higher qid wins
      (1L, ts("2024-01-01 11:00:00"), 40L, 103.0),
      (2L, ts("2024-01-01 09:30:00"), 50L, 104.0)) // after t3: no match
      .toDF("qsym", "qts", "qid", "price")
    val r = AsOf.join(spark, trades, quotes,
        Seq("sym"), Seq("qsym"), "ts", "qts", "qid")
      .select("trade", "qid", "price").orderBy("trade")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq(
      ("t1", 30L, 102.0), // 10:00 tie -> qid 30
      ("t2", 40L, 103.0))) // t3 dropped: no quote <= 09:00
  }

  test("null right times are ignored; null left times drop the row") {
    val l = Seq((1L, Option(ts("2024-01-01 10:00:00")), "a"),
      (1L, Option.empty[Timestamp], "b")).toDF("k", "t", "tag")
    val r = Seq((1L, Option(ts("2024-01-01 09:00:00")), 1L),
      (1L, Option.empty[Timestamp], 2L)).toDF("rk", "rt", "rid")
    val out = AsOf.join(spark, l, r, Seq("k"), Seq("rk"), "t", "rt", "rid")
      .select("tag", "rid").collect().map(x => (x.getString(0), x.getLong(1)))
    assert(out.toSeq == Seq(("a", 1L)))
  }

  test("null keys match nothing on either side (SQL equality, not byte equality)") {
    val l = Seq((Option(1L), ts("2024-01-01 10:00:00"), "a"),
      (Option.empty[Long], ts("2024-01-01 10:00:00"), "b"))
      .toDF("k", "t", "tag")
    val r = Seq((Option(1L), ts("2024-01-01 09:00:00"), 1L),
      (Option.empty[Long], ts("2024-01-01 09:00:00"), 2L))
      .toDF("rk", "rt", "rid")
    val out = AsOf.join(spark, l, r, Seq("k"), Seq("rk"), "t", "rt", "rid")
      .select("tag", "rid").collect().map(x => (x.getString(0), x.getLong(1)))
    // a null-key left row must NOT pick up the null-key right row
    assert(out.toSeq == Seq(("a", 1L)))
  }

  test("left outer keeps unmatched rows with a null-extended right side") {
    val l = Seq((Option(1L), Option(ts("2024-01-01 10:00:00")), "hit"),
      (Option(2L), Option(ts("2024-01-01 10:00:00")), "nokey"),
      (Option(1L), Option(ts("2024-01-01 08:00:00")), "early"),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00")), "nullkey"),
      (Option(1L), Option.empty[java.sql.Timestamp], "nulltime"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 7L, 99.0)).toDF("rk", "rt", "rid", "price")
    val out = AsOf.join(spark, l, r, Seq("k"), Seq("rk"), "t", "rt", "rid",
        leftOuter = true)
      .select("tag", "rid", "price").collect()
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(x.getLong(1)))).toSet
    assert(out == Set(("hit", Some(7L)), ("nokey", None), ("early", None),
      ("nullkey", None), ("nulltime", None)))
    // inner on the same frames keeps only the match
    val inner = AsOf.join(spark, l, r, Seq("k"), Seq("rk"), "t", "rt", "rid")
      .select("tag").collect().map(_.getString(0))
    assert(inner.toSeq == Seq("hit"))
  }

  test("merge variant streams a key group the hash guard rejects (fact-fact shape)") {
    // ONE hot key with 1000 right rows: the exec carries O(1) state per
    // partition, so the skewed group streams through
    val l = (0 until 50)
      .map(i => (1L, ts(f"2024-01-01 10:${i % 60}%02d:00"), i.toLong))
      .toDF("k", "t", "lid")
    val r = (0 until 1000)
      .map(i => (1L, ts(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"), i.toLong))
      .toDF("rk", "rt", "rid")
    val merged = AsOf.join(spark, l, r, Seq("k"), Seq("rk"), "t", "rt", "rid")
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // expected: latest rid at-or-before each left time = 60*10 + (i%60)
    assert(merged.size == 50)
    (0 until 50).foreach { i =>
      assert(merged(i.toLong) == 600L + i % 60, s"lid $i -> ${merged(i.toLong)}")
    }
  }

  test("merge variant pins the edge cases: ties, null keys/times, no-match") {
    val l = Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:00")), "hit"),
      (Option(1L), Option.empty[Timestamp], "nulltime"),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00")), "nullkey"),
      (Option(9L), Option(ts("2024-01-01 10:00:00")), "nomatch"))
      .toDF("k", "t", "tag")
    val r = Seq(
      (Option(1L), Option(ts("2024-01-01 09:00:00")), 1L),
      (Option(1L), Option(ts("2024-01-01 09:00:00")), 2L), // tie: max rid wins
      (Option(1L), Option.empty[Timestamp], 99L),          // null time ignored
      (Option.empty[Long], Option(ts("2024-01-01 09:00:00")), 98L)) // null key
      .toDF("rk", "rt", "rid")
    val outer = AsOf.join(spark, l, r, Seq("k"), Seq("rk"), "t", "rt", "rid",
      leftOuter = true)
      .select("tag", "rid").collect()
      .map(x => (x.getString(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    assert(outer == Map("hit" -> 2L, "nulltime" -> -1L,
      "nullkey" -> -1L, "nomatch" -> -1L), s"got $outer")
  }

  test("q45 packed-ordering guard: exact below 2^44, raises at 2^44") {
    val day = java.time.LocalDate.of(2024, 1, 2).toEpochDay
    val ok = Seq((java.sql.Date.valueOf("2024-01-02"), 123L)).toDF("d", "k")
    val packed = ok
      .select(graft.ops.EventsOps.packedOrderKey(col("d"), col("k")).as("p"))
      .collect().head.getLong(0)
    assert(packed == (day << 44) + 123L)
    // out-of-domain keys on BOTH sides: >= 2^44 carries into the date
    // bits; a negative key borrows from them — either silently corrupts
    // the packed total order, so both must raise
    for (k <- Seq(1L << 44, -1L)) {
      val bad = Seq((java.sql.Date.valueOf("2024-01-02"), k)).toDF("d", "k")
      val err = intercept[Throwable] {
        bad.select(graft.ops.EventsOps.packedOrderKey(col("d"), col("k"))).collect()
      }
      val msgs = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString("\n")
      assert(msgs.contains("2^44"), s"expected the packing guard to fire for $k:\n$msgs")
    }
  }

  test("plan uses AsOfMergeJoin, not a cross join") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.events(spark, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val p = AsOf.join(spark, e, o, Seq("user_id"), Seq("o_custkey"),
      "ts", "o_orderdate", "o_orderkey").queryExecution.executedPlan.toString
    assert(p.contains("AsOfMergeJoin"), s"custom exec missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"as-of fell back to a cross join:\n$p")
  }

  test("q46 and q75 each execute one AsOfMergeJoin, no cross join or window, same rows") {
    val d = "/root/testdata/sf0.001"
    def run(name: String): (Array[org.apache.spark.sql.Row], SparkPlan) = {
      val df = SparkEntry.queries(name)(spark, d)
      val rows = df.collect()
      (rows, df.queryExecution.executedPlan)
    }
    val (q46, p46) = run("q46_asof_custom_op")
    val (q75, p75) = run("q75_asof_merge_op")
    for ((name, p) <- Seq("q46" -> p46, "q75" -> p75)) {
      val nodes = collect(p) { case n => n.nodeName }
      assert(nodes.count(_ == "AsOfMergeJoin") == 1,
        s"$name: expected one AsOfMergeJoin:\n$p")
      assert(!nodes.exists(n => n == "CartesianProduct" ||
          n == "BroadcastNestedLoopJoin" || n == "Window"),
        s"$name: cross join or window in the plan:\n$p")
    }
    assert(q46.nonEmpty)
    assert(q46.toSeq == q75.toSeq)
  }

  test("left-side filters push THROUGH the as-of node to the scan") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.events(spark, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val joined = AsOf.join(spark, e, o,
      Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate", "o_orderkey")
    val filtered = joined.filter(col("event_id") < 100)
    // the rewrite must reach the events parquet scan as a pushed filter
    // — without PushFilterThroughAsOfJoin the predicate is stuck above
    // the custom node and the fact scan reads everything
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("LessThan(event_id,100)"),
      s"left predicate did not reach the scan as a pushed filter:\n$p")
    // and the rewrite is invisible in the result
    val expected = joined.collect().filter(_.getLong(0) < 100).toSet
    assert(filtered.collect().toSet == expected)
    assert(expected.nonEmpty, "degenerate: empty filtered result")
  }

  test("pushdown cascades through a COMPOSED left side to the scan") {
    // the left child is itself a join — our rule only moves the filter
    // below the as-of node; Catalyst's PushDownPredicates (appended to
    // the same fixpoint batch by AsOf.install) must take it the rest of
    // the way through the inner join to the events scan
    val d = "/root/testdata/sf0.001"
    val cust = Tables.customer(spark, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val left = Tables.events(spark, d)
      .select("event_id", "user_id", "ts")
      .join(broadcast(cust), Seq("user_id"))
    val o = Tables.orders(spark, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val p = AsOf.join(spark, left, o,
      Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate", "o_orderkey")
      .filter(col("event_id") < 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("LessThan(event_id,100)"),
      s"predicate stalled above the composed left side:\n$p")
  }

  test("SELF as-of join (shared lineage) resolves cleanly and matches the composed form") {
    // both sides from ONE frame: same expression IDs arrive on left and
    // right — the API must re-alias the right side or key binding is
    // ambiguous (the analyzer would either dangle our resolved attrs or
    // let the pushdown rule treat right columns as left ones). The
    // natural "join a table to its own history" shape.
    val f = Seq(
      (1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 10L, 4L), (2L, 25L, 5L)).toDF("k", "t", "id")
    val out = AsOf.join(spark, f, f, Seq("k"), Seq("k"), "t", "t", "id")
    // output carries duplicate NAMES (k,t,id,k,t,id — the normal Spark
    // self-join shape); access positionally. Every row's latest match at
    // its own time is ITSELF (t <= t, max-id tie-break, unique (k, t)).
    val rows = out.collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getLong(1) == r.getLong(4) &&
      r.getLong(2) == r.getLong(5)),
      "each row's as-of match at its own time must be itself")
  }

  test("floating-point equi-keys are rejected loudly at plan time") {
    val l = Seq((0.0d, 10L, 1L)).toDF("k", "t", "id")
    val r = Seq((-0.0d, 5L, 2L)).toDF("rk", "rt", "rid")
    val err = intercept[IllegalArgumentException] {
      AsOf.join(spark, l, r, Seq("k"), Seq("rk"), "t", "rt", "rid")
    }
    assert(err.getMessage.contains("floating-point"))
  }

  test("ambiguous and mismatched-time-type inputs fail at plan time, not in a task") {
    val l = Seq((1L, 10L)).toDF("k", "t")
    val dup = l.join(Seq((1L, 99L)).toDF("k", "t"), Seq("k"))
    // two columns literally named t after the join
    val amb = intercept[IllegalArgumentException] {
      AsOf.join(spark, dup, Seq((1L, 5L, 1L)).toDF("rk", "rt", "rid"),
        Seq("k"), Seq("rk"), "t", "rt", "rid")
    }
    assert(amb.getMessage.contains("ambiguous"))
    // LongType (could be any unit) against TimestampType micros: a
    // same-unit-class check would wave this through and mismatch 1000x
    val rTs = Seq((1L, ts("2024-01-01 00:00:00"), 1L)).toDF("rk", "rt", "rid")
    val mix = intercept[IllegalArgumentException] {
      AsOf.join(spark, l, rTs, Seq("k"), Seq("rk"), "t", "rt", "rid")
    }
    assert(mix.getMessage.contains("time type mismatch"))
  }

  test("the logical node's stats stay left-sized, never the cross-join product default") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.events(spark, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val joined = AsOf.join(spark, e, o,
      Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate", "o_orderkey")
    val analyzed = joined.queryExecution.analyzed
    val node = analyzed.collectFirst {
      case j: graft.plans.AsOfJoin => j }.getOrElse(fail("no AsOfJoin node"))
    val product = node.left.stats.sizeInBytes * node.right.stats.sizeInBytes
    assert(node.stats.sizeInBytes < product / 100,
      s"as-of stats ${node.stats.sizeInBytes} look like the product default " +
        s"($product) — downstream broadcasts would be vetoed")
    // and they are at least the left side's size (rows widen, never shrink)
    assert(node.stats.sizeInBytes >= node.left.stats.sizeInBytes)
  }

  test("right-side filters stay ABOVE the join (match-then-filter semantics)") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.events(spark, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(spark, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val joined = AsOf.join(spark, e, o,
      Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate", "o_orderkey")
    val pred = col("o_totalprice") > 100000.0
    // pushing this into the right child would MATCH A DIFFERENT ORDER
    // (the latest order passing the filter instead of the latest order);
    // correct semantics filter the matched row
    val viaPlan = joined.filter(pred).collect().toSet
    val reference = joined.collect()
      .filter(_.getAs[Double]("o_totalprice") > 100000.0).toSet
    assert(viaPlan == reference, "right-side predicate changed match semantics")
    assert(reference.nonEmpty && reference.size < joined.count(),
      "degenerate right-side predicate")
    // the orders scan must NOT carry the pushed price predicate
    val p = joined.filter(pred).queryExecution.executedPlan.toString
    assert(!p.contains("GreaterThan(o_totalprice"),
      s"right predicate wrongly pushed into the build side:\n$p")
  }
}
