package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Winnowing

/** q155 winnowing: the oracle hash proves engine ≡ SQL replay; this
  * spec proves the fingerprinting does its JOB — the SIGMOD-03
  * guarantee (any shared canon substring of length ≥ w + k − 1 is
  * caught by at least one shared fingerprint) on a planted fixture
  * through the exact production path, and the report-level separation
  * (planted passage reported, unrelated docs silent).
  */
class WinnowingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // deterministic unrelated filler: letter streams from DISJOINT
  // alphabets so no two contexts can share an 8-gram by accident
  private def filler(alphabet: String, n: Int, seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  test("guarantee: a shared canon substring of exactly w+k-1 chars yields >=1 shared fingerprint") {
    import spark.implicits._
    // 11 = WinnowW + WinnowK - 1, the THEOREM's minimum: one full
    // window of shared k-gram hashes exists, its min is selected in
    // both docs (equal hash sequence, within-window rightmost tie
    // break), so the shared fp_hash is forced
    val shared = "qw3rtyu1opz"
    assert(shared.length == Winnowing.WinnowW + Winnowing.WinnowK - 1)
    val docs = Seq(
      (1L, filler("abcdef", 120, 1) + shared + filler("abcdef", 120, 2)),
      (2L, filler("uvwxyz", 120, 3) + shared + filler("uvwxyz", 120, 4)),
      // control: no shared >=8-char substring with anyone (ghijkl
      // alphabet, disjoint from both contexts and the shared passage
      // long enough to matter)
      (3L, filler("ghijkl", 250, 5))
    ).toDF("doc_id", "text")
    val fps = Winnowing.fingerprintsOf(docs)
      .select("doc_id", "fp_hash").collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty,
      "planted 11-char shared substring missed — the w+k-1 guarantee is broken")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "disjoint-alphabet control shares a fingerprint")
  }

  test("separation: the report surfaces exactly the planted-passage pair") {
    import spark.implicits._
    // A and B share a 300-char passage (≈ 2·(L−k+1)/(w+1) ≈ 117
    // expected selections — far above MinShared); C and D are
    // unrelated to everything
    val passage = filler("abcdefghijklmnopqrstuvwxyz", 300, 10)
    val docs = Seq(
      (1L, filler("abcdef", 200, 11) + passage + filler("abcdef", 200, 12)),
      (2L, filler("uvwxyz", 200, 13) + passage + filler("uvwxyz", 200, 14)),
      (3L, filler("ghijkl", 500, 15)),
      (4L, filler("mnopqr", 500, 16))
    ).toDF("doc_id", "text")
    val rows = Winnowing.overlapReportOf(docs).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)),
      s"report must be exactly the planted pair, got ${rows.mkString(", ")}")
    val shared = rows.head.getLong(2)
    assert(shared >= Winnowing.MinShared,
      s"planted 300-char passage yields only $shared shared fingerprints")
  }

  // the pre-fix posting formula, kept as the reference: collect each
  // hash's whole doc list, THEN drop lists wider than MaxDf
  private def collectThenFilter(fp: DataFrame): DataFrame =
    fp.select("doc_id", "fp_hash").distinct()
      .groupBy("fp_hash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= Winnowing.MaxDf)

  private def postingSet(df: DataFrame): Set[(Long, List[Long])] =
    df.select("fp_hash", "ds").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toSet

  test("kept posting: a hash in MaxDf+1 docs is dropped; equals collect-then-filter") {
    import spark.implicits._
    val hot = 42L     // in MaxDf + 1 docs: over the cap
    val edge = 7L     // in exactly MaxDf docs: kept
    val fp = ((1L to Winnowing.MaxDf + 1L).map(d => (d, hot)) ++
      (1L to Winnowing.MaxDf.toLong).map(d => (d, edge)) ++
      // a repeated (doc, hash) selection counts once toward df
      Seq((3L, 9L), (3L, 9L), (5L, 9L))).toDF("doc_id", "fp_hash")
    val kept = postingSet(Winnowing.keptPostingOf(fp))
    assert(kept == Set(edge -> (1L to Winnowing.MaxDf.toLong).toList, 9L -> List(3L, 5L)))
    assert(kept == postingSet(collectThenFilter(fp)))
  }

  test("kept posting on the sf0.001 fingerprints equals collect-then-filter") {
    val fp = Winnowing.fingerprints(spark, "/root/testdata/sf0.001")
    val kept = postingSet(Winnowing.keptPostingOf(fp))
    assert(kept.nonEmpty)
    assert(kept == postingSet(collectThenFilter(fp)))
  }

  test("real corpus: reported pairs sit clear of the MinShared threshold (measured gap)") {
    // sf0.001 distribution (DuckDB replay, 2026-08, base-127 hash):
    // reported pairs carry shared_fp 11–88; the coincidental tail tops
    // out at 6 — MinShared=10 sits in a real gap, so the report is not
    // threshold-sensitive. Pin the reported side of the gap.
    val rows = SparkEntry.queries("q155_winnowing_overlap")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 11,
        s"pair (${r.getLong(0)},${r.getLong(1)}) shared_fp ${r.getLong(2)} " +
          "landed inside the [7,10] gap — threshold no longer separates")
    }
  }
}
