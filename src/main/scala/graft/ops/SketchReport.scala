package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q220: SKETCH ERROR REPORT — the q117/q208 move applied to the
  * approximate-aggregate family. The four sketch queries (q61 HLL
  * rollup, q73 Misra-Gries top tokens, q51/q98 GK quantiles) are
  * rows-only — their estimates aren't portable SQL — so their accuracy
  * lived in ScalaTest gates the driver never saw. This report makes
  * sketch quality driver-hash-gated: one row per estimate, carrying
  * the EXACT value (SQL-replayable) and an in-envelope verdict the
  * oracle asserts as a literal TRUE. A sketch drifting outside its
  * DOCUMENTED guarantee flips `within` and breaks the hash.
  *
  * Why the output is deterministic even though sketch internals are
  * not: GK compression and Misra-Gries survival depend on partition
  * merge order, but each guarantee holds under EVERY merge order
  * (Greenwald–Khanna 2001; Agarwal et al., Mergeable Summaries, PODS
  * 2012), so the boolean verdicts — the only estimate-derived
  * columns — are order-free. The item sets are exact-side derived
  * (periods, guaranteed-survivor tokens, group × quantile labels),
  * never sketch-derived.
  *
  * Envelopes (each the documented bound, not an empirical fudge):
  *   - HLL (lgK=12): |est − exact| < 5% · exact, integer-exact compare
  *     (the AnalyticsSpec band; theoretical RSE ≈ 1.04/√2¹² ≈ 1.6%).
  *   - MG (k=64): every token with exact count · (k+1) > Σtokens must
  *     survive the per-source sketches AND the merge, with
  *     exact − est ≤ Σtokens/(k+1) and never an overcount — all
  *     integer-exact.
  *   - GK (accuracy 10⁴): the returned cut's exact rank window
  *     [cnt_lt, cnt_le] must intersect target ± (n/10⁴ + 1) where
  *     target = q·n — the rank-error form of the guarantee (value-space
  *     error is unbounded for GK, rank error is what it promises).
  *
  * Scale shape: every section is one narrow aggregate over an already-
  * registered frame plus a group-keyed join — the exact sides are the
  * same shuffles q121/q59/q44/q86 already price; nothing quadratic,
  * nothing collected. The 1-row Σtokens fold broadcasts (BNLJ allowed
  * like q114's corpus-total fold).
  */
object SketchReport extends graft.QueryModule {

  /** HLL acceptance band, percent of exact (AnalyticsSpec's gate). */
  private[graft] val HllBandPct = 5

  /** GK accuracy parameter shared by q51 and q98's sketches. */
  private[graft] val GkAccuracy = 10000

  /** Generic GK rank-window section: `pop` = (grp, v) population,
    * `sk` = (grp, cuts array, records), probed at `qs`, items labeled
    * `grp:label(i)`.
    */
  private[graft] def gkSection(label: String, pop: DataFrame, sk: DataFrame,
                               qs: Seq[Double], labels: Seq[String]): DataFrame = {
    // pop feeds both the rank-window count and the exact percentile.
    // The QUIET-session trade (r18): plain recomputed scans beat
    // eagerly localCheckpointing the projection by ~25% (the sections'
    // jobs overlap in the scheduler). The LOAD trade (r19): repeated
    // CORPUS-EXPRESSION passes amplify 2x under machine contention, so
    // the expensive quality pop arrives via the memoized qualityScored
    // artifact (its scan here is a cheap columnar re-read), while the
    // price pop stays a plain 2-column lineitem scan — measured A/B in
    // SCALING.md §"q220 variance".
    // contract: sk = (grp, cuts array, records, tol) — `tol` is the
    // sketch family's own rank tolerance (GK: records/accuracy + 1;
    // MRL: its self-certified err + maxWeight accounting, r19)
    val est = sk.select(col("grp"), col("records"), col("tol"),
      posexplode(col("cuts")).as(Seq("qi", "est")))
    val ranks = est.join(pop, Seq("grp"))
      .groupBy("grp", "qi", "est", "records", "tol")
      .agg(count(when(col("v") < col("est"), 1)).as("cnt_lt"),
        count(when(col("v") <= col("est"), 1)).as("cnt_le"))
    val exact = pop.groupBy("grp")
      .agg(expr(s"percentile(v, array(${qs.map(_ + "D").mkString(",")}))").as("eps"))
      .select(col("grp"), posexplode(col("eps")).as(Seq("qi", "exact_p")))
    val target = element_at(typedLit(qs), col("qi") + 1) * col("records")
    val tol = col("tol")
    ranks.join(exact, Seq("grp", "qi"))
      .select(lit(label).as("sketch"),
        concat(col("grp"), lit(":"),
          element_at(typedLit(labels), col("qi") + 1)).as("item"),
        round(col("exact_p"), 6).as("exact_v"),
        (col("cnt_lt").cast("double") <= target + tol &&
          col("cnt_le").cast("double") >= target - tol).as("within"))
  }

  def report(s: SparkSession, d: String): DataFrame = {
    // q61 HLL vs the q121 exact twin, integer-exact 5% band
    val hll = AnalyticsExtras.hllRollup(s, d)
      .join(AnalyticsExtras.distinctRollupExact(s, d), Seq("period"))
      .select(lit("q61_hll_lgk12").as("sketch"),
        col("period").as("item"),
        col("distinct_users").cast("double").as("exact_v"),
        (abs(col("distinct_users_est") - col("distinct_users")) * 100 <
          col("distinct_users") * HllBandPct).as("within"))

    // q73 MG: every GUARANTEED survivor (count·(k+1) > Σtokens) must be
    // in the merged sketch, undercounted by at most Σtokens/(k+1).
    // Exact side reads the STORED token-count table (r19) — Σtokens is
    // its own sum, so the corpus token explosion never runs here.
    val kp1 = TextAnalysis.MgSketchK + 1
    val counts = TextAnalysis.tokenCounts(s, d)
    val mg = counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("n_tok"))))
      .filter(col("n") * kp1 > col("n_tok"))
      .join(TextAnalysis.mgMergedTokens(s, d), Seq("token"), "left")
      .select(lit("q73_mg_k64").as("sketch"),
        col("token").as("item"),
        col("n").cast("double").as("exact_v"),
        (col("est_count").isNotNull && col("est_count") <= col("n") &&
          (col("n") - col("est_count")) * kp1 <= col("n_tok")).as("within"))

    val gkTol = col("records").cast("double") / GkAccuracy + 1.0
    val prices = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
      col("l_extendedprice").cast("double").as("v"))
    val gkPrices = gkSection("q51_gk_prices_acc10k", prices,
      EventsOps.priceQuantileSketch(s, d)
        .select(col("l_returnflag").as("grp"), col("ps").as("cuts"),
          col("records"), gkTol.as("tol")),
      Seq(0.25, 0.5, 0.75), Seq("p25", "p50", "p75"))

    val gkQuality = gkSection("q98_gk_quality_acc10k",
      CorpusReports.qualityScored(s, d)
        .select(col("lang").as("grp"), col("quality").as("v")),
      CorpusReports.qualityCutSketch(s, d)
        .select(col("lang").as("grp"), col("cuts"), col("records"),
          gkTol.as("tol")),
      (1 to 9).map(_ / 10.0), (1 to 9).map("d" + _))

    // q226 MRL vs the SAME exact price quantiles: the mergeable family
    // gated by its own self-certified tolerance (err + maxWeight, +1
    // for the lt/le boundary convention)
    val gkMrl = gkSection("q226_mrl_k1024", prices,
      mrlPriceSketch(s, d).select(col("grp"), col("cuts"), col("records"),
        (col("tol") + 1).cast("double").as("tol")),
      Seq(0.25, 0.5, 0.75), Seq("p25", "p50", "p75"))

    hll.unionByName(mg).unionByName(gkPrices).unionByName(gkQuality)
      .unionByName(gkMrl)
      .orderBy("sketch", "item")
  }

  /** q226's per-returnflag MRL price sketch: (grp, cuts, records, tol)
    * — tol is the sketch's own compaction-error accounting.
    */
  private[graft] def mrlPriceSketch(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("grp"))
      .agg(graft.functions.MrlSketch(MrlK, Seq(0.25, 0.5, 0.75))(
        col("l_extendedprice").cast("double")).as("sk"))
      .select(col("grp"), col("sk._1").as("cuts"),
        col("sk._2").as("records"), col("sk._3").as("tol"))

  /** MRL buffer capacity: 1024 doubles/level ⇒ self-certified rank
    * tolerance ≈ n·levels/k — ~1% of n at the bench SFs, and the gate
    * reads the sketch's exact accounting either way.
    */
  private[graft] val MrlK = 1024

  /** q228's merged-halves sketch: (grp, cuts, records, tol). The two
    * halves (l_orderkey parity — deterministic, disjoint, covering) are
    * sketched as INDEPENDENT distributed aggregations producing raw
    * mergeable buffers; the cross-half rollup is one explicit
    * [[graft.functions.MrlSketch.merge]] per returnflag at the model
    * edge (≤ 2·|returnflags| KiB-scale buffers collected — the bounded
    * collect class). This is the PODS'12 mergeable-summaries claim as
    * an executed fact rather than a spec assertion: sketches built with
    * no knowledge of each other, merged once, still inside the merged
    * sketch's own self-certified tolerance against the full-corpus
    * exact. At 100 TB the halves are per-partition/per-day stored
    * sketch values and this merge is the rollup query.
    */
  private[graft] def mrlMergedHalves(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qs = Seq(0.25, 0.5, 0.75)
    val bufs = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("grp"),
        pmod(col("l_orderkey"), lit(2)).as("half"))
      .agg(graft.functions.MrlSketchRaw(MrlK)(
        col("l_extendedprice").cast("double")).as("buf"))
      .select("grp", "buf")
      .collect()
    def bufOf(r: org.apache.spark.sql.Row): graft.functions.MrlBuf = {
      val b = r.getStruct(1)
      graft.functions.MrlBuf(
        b.getAs[scala.collection.Seq[Double]]("l0").toArray,
        b.getAs[Int]("l0n"),
        b.getAs[scala.collection.Seq[Double]]("vals").toArray,
        b.getAs[scala.collection.Seq[Int]]("lvls").toArray,
        b.getAs[Long]("n"), b.getAs[Long]("err"))
    }
    val sk = new graft.functions.MrlSketch(MrlK, qs)
    val merged = bufs.groupBy(_.getString(0)).toSeq.map { case (grp, rows) =>
      val buf = rows.map(bufOf).reduce(sk.merge)
      val (cuts, n, tol) = sk.finish(buf)
      (grp, cuts, n, tol)
    }
    merged.toDF("grp", "cuts", "records", "tol")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q220_sketch_error_report" -> ((s, d) => report(s, d)),

    // MERGEABILITY AS A DRIVER-HASH-GATED FACT (r19 verdict #6a): two
    // independently built half-corpus MRL sketches, explicitly merged,
    // gated against the full-corpus exact quantiles under the MERGED
    // sketch's own self-certified tolerance. Same gate machinery and
    // oracle shape as q220's q226 rows.
    "q228_mrl_merge_gate" -> ((s, d) => {
      val prices = Tables.lineitem(s, d).select(
        col("l_returnflag").as("grp"),
        col("l_extendedprice").cast("double").as("v"))
      gkSection("q228_mrl_merge_halves", prices,
        mrlMergedHalves(s, d).select(col("grp"), col("cuts"),
          col("records"), (col("tol") + 1).cast("double").as("tol")),
        Seq(0.25, 0.5, 0.75), Seq("p25", "p50", "p75"))
        .orderBy("sketch", "item")
    }),

    // the mergeable quantile summary itself (the store-per-slice form:
    // per returnflag, the quantile cuts + records + the self-certified
    // tolerance). Values are partitioning-dependent within the
    // guarantee (deterministic GIVEN a merge tree, but Spark picks the
    // tree) -> rows-only; q220's q226 rows hash-gate the guarantee.
    "q226_mrl_quantiles" -> ((s, d) =>
      mrlPriceSketch(s, d)
        .select(col("grp"), col("records"), col("tol"),
          posexplode(col("cuts")).as(Seq("qi", "cut")))
        .select(col("grp"),
          element_at(typedLit(Seq("p25", "p50", "p75")), col("qi") + 1).as("q"),
          col("cut"), col("records"), col("tol"))
        .orderBy("grp", "q")))

  /** The exact sides replayed in SQL; every `within` asserted TRUE —
    * the oracle's claim IS the guarantee.
    */
  val oracleSql: Map[String, String] = Map(
    "q220_sketch_error_report" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |  FROM documents
         |), prices AS MATERIALIZED (
         |  SELECT l_returnflag AS grp, CAST(l_extendedprice AS DOUBLE) AS v
         |  FROM lineitem
         |), quality AS MATERIALIZED (
         |  SELECT lang AS grp, ${TextAnalysis.QualitySql} AS v
         |  FROM (SELECT lang, string_split_regex(trim(text), '\\s+') AS w
         |        FROM documents)
         |)
         |SELECT sketch, item, exact_v, within FROM (
         |  SELECT 'q61_hll_lgk12' AS sketch, period AS item,
         |         CAST(distinct_users AS DOUBLE) AS exact_v, TRUE AS within
         |  FROM (
         |    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS period,
         |           COUNT(DISTINCT user_id) AS distinct_users
         |    FROM events GROUP BY 1
         |    UNION ALL
         |    SELECT 'ALL', COUNT(DISTINCT user_id) FROM events
         |  )
         |  UNION ALL
         |  SELECT 'q73_mg_k64', token, CAST(n AS DOUBLE), TRUE
         |  FROM (SELECT token, COUNT(*) AS n FROM toks GROUP BY token)
         |  WHERE n * ${TextAnalysis.MgSketchK + 1} > (SELECT COUNT(*) FROM toks)
         |  UNION ALL
         |  SELECT 'q51_gk_prices_acc10k',
         |         grp || ':' || ['p25','p50','p75'][i],
         |         ROUND(qs[i], 6), TRUE
         |  FROM (SELECT grp, quantile_cont(v, [0.25, 0.5, 0.75]) AS qs
         |        FROM prices GROUP BY grp),
         |       (SELECT unnest([1, 2, 3]) AS i)
         |  UNION ALL
         |  SELECT 'q226_mrl_k1024',
         |         grp || ':' || ['p25','p50','p75'][i],
         |         ROUND(qs[i], 6), TRUE
         |  FROM (SELECT grp, quantile_cont(v, [0.25, 0.5, 0.75]) AS qs
         |        FROM prices GROUP BY grp),
         |       (SELECT unnest([1, 2, 3]) AS i)
         |  UNION ALL
         |  SELECT 'q98_gk_quality_acc10k',
         |         grp || ':' || ['d1','d2','d3','d4','d5','d6','d7','d8','d9'][i],
         |         ROUND(qs[i], 6), TRUE
         |  FROM (SELECT grp,
         |               quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
         |        FROM quality GROUP BY grp),
         |       (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS i)
         |)
         |ORDER BY sketch, item""".stripMargin,

    // q228: same exact-side replay as q220's q226 rows — the oracle's
    // TRUE is the merged sketch's guarantee
    "q228_mrl_merge_gate" ->
      """SELECT 'q228_mrl_merge_halves' AS sketch,
        |       grp || ':' || ['p25','p50','p75'][i] AS item,
        |       ROUND(qs[i], 6) AS exact_v, TRUE AS within
        |FROM (SELECT l_returnflag AS grp,
        |             quantile_cont(CAST(l_extendedprice AS DOUBLE),
        |                           [0.25, 0.5, 0.75]) AS qs
        |      FROM lineitem GROUP BY grp),
        |     (SELECT unnest([1, 2, 3]) AS i)
        |ORDER BY sketch, item""".stripMargin)

  /** The MRL cuts are deterministic GIVEN a merge tree, but Spark picks
    * the tree — rows-only; its guarantee is hash-gated by q220's
    * q226_mrl_k1024 rows (exact sides SQL-replayed, within TRUE).
    */
  override val rowsOnly: Set[String] = Set("q226_mrl_quantiles")
}
