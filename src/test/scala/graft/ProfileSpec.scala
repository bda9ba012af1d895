package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ProfileOps

/** q131 table profile + q133 source divergence: the invariants the
  * oracle hash can't see — null accounting on a frame that actually has
  * nulls (driver lineitem has none), the empty-table shape, and the
  * information-theoretic laws of the KL report.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  test("q131 profile: one row per column, exact stats on the real table") {
    val p = ProfileOps.profile(spark, d).collect()
    assert(p.length == ProfileOps.ProfileCols.length)
    assert(p.map(_.getString(0)).toSeq == ProfileOps.ProfileCols.sorted)
    val n = Tables.lineitem(spark, d).count()
    assert(p.forall(_.getLong(1) == n), "n_rows must be the table count on every row")
    val qty = p.find(_.getString(0) == "l_quantity").get
    val (lo, hi) = (qty.getDouble(3), qty.getDouble(4))
    assert(lo <= hi && qty.getLong(5) >= 1)
  }

  test("q131 profile: null accounting pinned on a constructed frame") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, null), (3L, null), (null, 5.0))
      .toDF("a", "b")
    val p = ProfileOps.profileOf(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("a").getLong(1) == 4 && p("a").getLong(2) == 1)
    assert(p("b").getLong(2) == 2)
    assert(p("b").getDouble(3) == 2.0 && p("b").getDouble(4) == 5.0)
    assert(p("a").getLong(5) == 3, "NDV counts non-null distinct values only")
    assert(p("b").getLong(5) == 2)
  }

  test("q131 profile: an EMPTY table still reports one row per column") {
    // a pre-load table is exactly what a profiler gets pointed at; the
    // profile and the oracle's per-column UNION must agree on the
    // rows-of-zeros shape (the profile used to collapse to zero rows —
    // fixed by the spine join)
    import spark.implicits._
    val empty = Seq.empty[(java.lang.Long, java.lang.Double)].toDF("a", "b")
    val rows = ProfileOps.profileOf(empty, Seq("a", "b")).collect()
    assert(rows.length == 2, s"one row per column, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(5) == 0)
      assert(r.isNullAt(3) && r.isNullAt(4), "min/max must be null on empty")
    }
  }

  test("q137 RI audit: orphans and coverage pinned on a constructed pair") {
    import spark.implicits._
    // children: key 1 (2 rows, parented), key 2 (3 rows, ORPHAN),
    // null key (1 row, orphan by convention); parents: 1, 9 (unreferenced)
    val child = Seq[java.lang.Long](1L, 1L, 2L, 2L, 2L, null).toDF("fk")
    val parent = Seq(1L, 9L).toDF("pk")
    val r = ops.ProfileOps.riPair("t", child, "fk", parent, "pk").collect()(0)
    assert(r.getString(0) == "t")
    assert(r.getLong(1) == 6, "child_rows counts every child row incl. null FK")
    assert(r.getLong(2) == 3, "child_keys: 1, 2, null")
    assert(r.getLong(3) == 4, "orphan_rows: 3 rows of key 2 + 1 null-FK row")
    assert(r.getLong(4) == 2, "orphan_keys: 2 and null")
    assert(r.getLong(5) == 1, "unreferenced_parents: 9")
  }

  test("q137 RI audit: a null PARENT key is ignored, never adopts null-FK children") {
    import spark.implicits._
    // groupBy is null-safe while the oracle's FULL OUTER JOIN never
    // matches NULLs — without the parent-side isNotNull filter, a null
    // parent key would merge with the null-child group engine-side and
    // the null-FK rows would silently stop counting as orphans. Pin the
    // shared convention: null parents are dropped on BOTH sides.
    val child = Seq[java.lang.Long](1L, 2L, null, null).toDF("fk")
    val parent = Seq[java.lang.Long](1L, null).toDF("pk")
    val r = ops.ProfileOps.riPair("t", child, "fk", parent, "pk").collect()(0)
    assert(r.getLong(1) == 4, "child_rows")
    assert(r.getLong(2) == 3, "child_keys: 1, 2, null")
    assert(r.getLong(3) == 3, "orphan_rows: key 2 + both null-FK rows")
    assert(r.getLong(4) == 2, "orphan_keys: 2 and null — null parent must not adopt them")
    assert(r.getLong(5) == 0, "unreferenced_parents: the null parent is not a parent")
  }

  test("q137 RI audit on the driver tables: clean FKs, real coverage gaps") {
    val rows = ops.ProfileOps.riAudit(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == ops.ProfileOps.RiPairs.map(_._1).toSet)
    // the driver generator emits referentially clean FKs...
    rows.values.foreach { r =>
      assert(r.getLong(3) == 0 && r.getLong(4) == 0, s"orphans in ${r.getString(0)}")
    }
    // ...but coverage gaps are real data (not every customer clicks)
    assert(rows("embeddings_documents").getLong(2) ==
      rows("embeddings_documents").getLong(1), "embeddings<->documents is 1:1")
    assert(rows("nation_region").getLong(1) == 25)
  }

  test("q133 divergence: non-negative KL, self-consistent totals, full source coverage") {
    val rows = ProfileOps.sourceDivergence(spark, d).collect()
    val sources = Tables.documents(spark, d)
      .select("source").distinct().count()
    assert(rows.length == sources, "every source gets a report row")
    assert(rows.forall(_.getDouble(2) >= 0.0),
      "KL(p||q) of two genuine distributions is non-negative (Gibbs)")
    assert(rows.forall(_.getLong(1) > 0), "synthetic sources all hit the top vocab")
  }

  test("q133 divergence: identical sources score identically and near zero") {
    import spark.implicits._
    // every source emits the identical text — the per-source conditional
    // distributions equal the corpus distribution, so only the add-one
    // smoothing (source mass 8 vs corpus mass 24) separates p from q
    val docs = (0 until 6).map(i => (i.toLong, "alpha beta gamma alpha", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val rows = ProfileOps.divergenceOf(docs).collect()
    assert(rows.length == 3)
    val kls = rows.map(_.getDouble(2))
    assert(kls.distinct.length == 1, "identical sources must score bit-identically")
    assert(kls.head >= 0.0 && kls.head < 0.01,
      s"smoothing distortion only: got ${kls.head}")
    assert(rows.forall(_.getLong(1) == 8L), "each source holds 8 of the 24 tokens")
  }

  test("q133 divergence: a shifted source scores strictly above unshifted peers") {
    import spark.implicits._
    val base = (0 until 8).map(i => (i.toLong, "alpha beta gamma delta", s"s${i % 2}"))
    val skew = (8 until 12).map(i => (i.toLong, "omega omega omega omega", "s_skew"))
    val rows = ProfileOps.divergenceOf((base ++ skew).toDF("doc_id", "text", "source"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rows("s_skew") > rows("s0") && rows("s_skew") > rows("s1"),
      s"divergent content must rank above the background: $rows")
  }
}
