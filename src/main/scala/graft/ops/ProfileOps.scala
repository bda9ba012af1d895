package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Data-observability operators: one-pass table profiling (the ANALYZE
  * TABLE / DQ-monitoring primitive every lakehouse runs before and after
  * a load) and per-source corpus drift reporting (the "did this crawl
  * slice change under me" check a training-data pipeline runs on every
  * ingest batch). Both are single-scan shapes designed to stay cheap at
  * 100 TB: profiling replaces the exact-NDV multi-distinct Expand with
  * one narrow dedup shuffle; divergence is one (source, token) count
  * shuffle plus a 50-row broadcast.
  */
object ProfileOps extends graft.QueryModule {

  /** The lineitem columns profiled by q131; all cast to double so one
    * long-form schema carries min/max for int and float columns alike.
    */
  private[graft] val ProfileCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** One-pass per-column profile: row count, null count, min/max, exact
    * distinct count — long form, one row per column, one scan. The naive
    * form (8 `countDistinct`s in one agg) plans as Catalyst's
    * multi-distinct Expand: a ×9 row multiplier with 9-wide grouping
    * keys and 34-column aggregation buffers — measured 4.7 s at sf0.1.
    * This shape instead posexplodes each row to NARROW (col_idx, value)
    * pairs (all profiled stats are double-cast anyway, and int64→double
    * is exact/monotonic below 2^53, so min/max/NDV survive the cast):
    * phase 1 dedups (col_idx, value) with map-side combine — only
    * Σ NDV(col) narrow rows cross the wire — and phase 2 derives every
    * statistic from the deduped pairs (NDV = surviving rows, n_rows =
    * Σ counts, nulls = the null-value group's count). Measured 2.4×
    * faster than the Expand plan (4.7 → 2.0 s, sf0.1 median-of-3).
    */
  def profile(s: SparkSession, d: String): DataFrame =
    profileOf(Tables.lineitem(s, d), ProfileCols)

  private[graft] def profileOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = df.select(posexplode(
      array(cols.map(c => col(c).cast("double")): _*)).as(Seq("cidx", "v")))
    val perVal = pairs.groupBy("cidx", "v").agg(count(lit(1)).as("cnt"))
    val prof = perVal.groupBy("cidx").agg(
      sum(col("cnt")).as("n_rows"),
      sum(when(col("v").isNull, col("cnt")).otherwise(lit(0L))).as("n_nulls"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v"),
      count(when(col("v").isNotNull, lit(1))).as("n_distinct"))
    // left-join a literal column spine: an EMPTY table must still report
    // one row per column (n_rows 0, null min/max) — the oracle's
    // per-column UNION does, and a pre-load table is exactly the state a
    // profiler gets pointed at.
    // On any non-empty input every cidx exists and the join is a no-op.
    import df.sparkSession.implicits._
    val spine = cols.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cidx", "col_name")
    spine.join(prof, Seq("cidx"), "left")
      .select(col("col_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        col("min_v"), col("max_v"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .orderBy("col_name")
  }

  /** Top-K global vocabulary size for q133 (small enough that the
    * smoothed distribution broadcast is trivially a map-side join; big
    * enough that the KL actually discriminates sources).
    */
  private[graft] val DivergenceVocab = 50

  /** Per-source distribution drift vs the corpus: KL(p_src ‖ p_corpus)
    * over the global top-[[DivergenceVocab]] tokens with add-one
    * smoothing (so a token a source never emits contributes finitely).
    * The ingest-monitoring primitive: a source whose KL jumps between
    * batches changed its content mix.
    *
    * Scale shape: ONE (source, token) count shuffle (map-side combine
    * collapses per-partition repeats); the global counts re-aggregate
    * those partials (vocabulary-sized input, never the corpus); top-K is
    * TakeOrdered; the K-row vocabulary broadcasts back onto the
    * per-source counts, and the final report is |sources| rows. The
    * (source × vocab) spine is built by cross-joining the distinct
    * source list with the K-row vocab — both tiny — so zero-count cells
    * exist before smoothing.
    *
    * Cross-engine floats: counts stay exact integers until the single
    * smoothed-ratio expression per cell; per-source KL sums K ~O(0.01)
    * terms and the report rounds to 6 decimals (the q115 discipline), so
    * double summation order cannot show in the hash compare.
    */
  def sourceDivergence(s: SparkSession, d: String): DataFrame =
    divergenceOf(Tables.documents(s, d))

  private[graft] def divergenceOf(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // both the global re-agg and the spine join read it
    val global = counts.groupBy("token").agg(sum(col("n")).as("gn"))
      .orderBy(col("gn").desc, col("token"))
      .limit(DivergenceVocab)
    // smoothing normalizer = the vocab size actually selected (equals
    // DivergenceVocab on real corpora, smaller on tiny fixtures) — the
    // add-one mass must match the cell count or p/q stop summing to 1
    // and Gibbs' KL >= 0 breaks
    val gTotal = global.agg(sum(col("gn")).as("g_total"),
      count(lit(1)).as("v_n"))
    val sources = counts.select("source").distinct()
    val spine = sources.crossJoin(broadcast(global))
    val cells = spine
      .join(counts, Seq("source", "token"), "left")
      .na.fill(0L, Seq("n"))
    val srcTotal = cells.groupBy("source").agg(sum(col("n")).as("s_total"))
    cells
      .join(broadcast(srcTotal), Seq("source"))
      .crossJoin(broadcast(gTotal))
      .withColumn("p", (col("n") + lit(1)).cast("double") / (col("s_total") + col("v_n")))
      .withColumn("q", (col("gn") + lit(1)).cast("double") / (col("g_total") + col("v_n")))
      .withColumn("term", col("p") * log(col("p") / col("q")))
      .groupBy("source")
      .agg(
        sum(col("n")).as("top_tokens"),
        round(sum(col("term")), 6).as("kl_divergence"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q137

  /** The audited FK relationships: (name, child table, child key, parent
    * table, parent key). Covers the star spine, the event stream's user
    * FK, and the corpus↔embedding 1:1.
    */
  private[graft] val RiPairs: Seq[(String, String, String, String, String)] = Seq(
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("embeddings_documents", "embeddings", "vec_id", "documents", "doc_id"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  /** Referential-integrity audit — the ingest gate a lakehouse runs
    * before promoting a batch: per FK relationship, child rows/keys,
    * ORPHAN rows/keys (child keys with no parent — they fan out to
    * nothing or silently drop in inner joins downstream), and
    * UNREFERENCED parents (coverage). One row per relationship.
    *
    * Scale shape: every (relationship, key) pair from every audited
    * table rides ONE union into ONE map-side-combined shuffle keyed
    * (relationship, key) — not a join per pair (8 full-outer joins cost
    * ~24 scheduler stages and measured 7.1 s; this form is 2 shuffles
    * TOTAL and the per-key partial is exactly the join-key histogram a
    * skew diagnosis wants anyway). The second, relationship-keyed
    * aggregate is 8-row tiny. A null child FK matches no parent and is
    * counted in the orphan rows/keys (none in the driver tables; the
    * spec pins the convention on a fixture).
    */
  def riAudit(s: SparkSession, d: String): DataFrame = {
    val tables: Map[String, DataFrame] = Map(
      "region" -> Tables.region(s, d), "nation" -> Tables.nation(s, d),
      "customer" -> Tables.customer(s, d), "supplier" -> Tables.supplier(s, d),
      "part" -> Tables.part(s, d), "orders" -> Tables.orders(s, d),
      "lineitem" -> Tables.lineitem(s, d), "events" -> Tables.events(s, d),
      "documents" -> Tables.documents(s, d), "embeddings" -> Tables.embeddings(s, d))
    riAuditOf(RiPairs.map { case (name, c, ck, p, pk) =>
      (name, tables(c), ck, tables(p), pk)
    })
  }

  private[graft] def riAuditOf(
      pairs: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    val tagged = pairs.map { case (name, c, ck, p, pk) =>
      c.select(lit(name).as("rel"), col(ck).cast("long").as("k"),
          lit(1L).as("c1"), lit(0L).as("p1"))
        // drop null PARENT keys (parents are PKs by contract, so none
        // exist in sane data — but groupBy is null-safe while the
        // oracle's FULL OUTER JOIN never matches NULLs, so an unguarded
        // null parent would absorb the null-child orphan group engine-
        // side and silently diverge. The oracle mirrors the filter;
        // ProfileSpec pins the convention on a fixture with both.)
        .union(p.filter(col(pk).isNotNull)
          .select(lit(name).as("rel"), col(pk).cast("long").as("k"),
            lit(0L).as("c1"), lit(1L).as("p1")))
    }.reduce(_ union _)
    tagged
      .groupBy("rel", "k")
      .agg(sum(col("c1")).as("cnt"), max(col("p1")).as("p"))
      .groupBy("rel")
      .agg(
        sum(col("cnt")).as("child_rows"),
        count(when(col("cnt") > 0, lit(1))).as("child_keys"),
        coalesce(sum(when(col("p") === 0, col("cnt"))), lit(0L)).as("orphan_rows"),
        count(when(col("cnt") > 0 && col("p") === 0, lit(1))).as("orphan_keys"),
        count(when(col("cnt") === 0, lit(1))).as("unreferenced_parents"))
      .select(col("rel").as("relationship"), col("child_rows"),
        col("child_keys"), col("orphan_rows"), col("orphan_keys"),
        col("unreferenced_parents"))
      .orderBy("relationship")
  }

  private[graft] def riPair(name: String, child: DataFrame, ckey: String,
                            parent: DataFrame, pkey: String): DataFrame =
    riAuditOf(Seq((name, child, ckey, parent, pkey)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_profile_table" -> ((s, d) => profile(s, d)),
    "q133_source_divergence" -> ((s, d) => sourceDivergence(s, d)),
    "q137_ri_audit" -> ((s, d) => riAudit(s, d)))

  /** The q137 oracle: the identical per-pair full-outer aggregate,
    * one SELECT per relationship, unioned — generated from [[RiPairs]]
    * so engine and oracle can never audit different relationships.
    */
  private def q137OracleSql: String =
    RiPairs.map { case (name, c, ck, p, pk) =>
      s"""SELECT '$name' AS relationship,
         |       CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS child_rows,
         |       COUNT(CASE WHEN cnt IS NOT NULL THEN 1 END) AS child_keys,
         |       CAST(COALESCE(SUM(CASE WHEN p IS NULL THEN cnt END), 0) AS BIGINT) AS orphan_rows,
         |       COUNT(CASE WHEN p IS NULL AND cnt IS NOT NULL THEN 1 END) AS orphan_keys,
         |       COUNT(CASE WHEN cnt IS NULL THEN 1 END) AS unreferenced_parents
         |FROM (SELECT CAST($ck AS BIGINT) AS k, COUNT(*) AS cnt
         |      FROM $c GROUP BY 1) c
         |FULL OUTER JOIN (SELECT DISTINCT CAST($pk AS BIGINT) AS k, 1 AS p
         |                 FROM $p WHERE $pk IS NOT NULL) p USING (k)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY relationship")

  val oracleSql: Map[String, String] = Map(
    "q137_ri_audit" -> q137OracleSql,
    "q131_profile_table" -> ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name,
         |       COUNT(*) AS n_rows,
         |       COUNT(*) - COUNT($c) AS n_nulls,
         |       CAST(MIN($c) AS DOUBLE) AS min_v,
         |       CAST(MAX($c) AS DOUBLE) AS max_v,
         |       COUNT(DISTINCT $c) AS n_distinct
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    "q133_source_divergence" ->
      s"""WITH counts AS (
         |  SELECT source, token, COUNT(*) AS n
         |  FROM (SELECT source,
         |               unnest(string_split_regex(trim(text), '\\s+')) AS token
         |        FROM documents)
         |  GROUP BY source, token
         |), global AS (
         |  SELECT token, SUM(n) AS gn
         |  FROM counts GROUP BY token
         |  ORDER BY gn DESC, token LIMIT $DivergenceVocab
         |), g_total AS (SELECT SUM(gn) AS g_total, COUNT(*) AS v_n FROM global),
         |spine AS (
         |  SELECT s.source, g.token, g.gn
         |  FROM (SELECT DISTINCT source FROM counts) s CROSS JOIN global g
         |), cells AS (
         |  SELECT sp.source, sp.token, sp.gn, COALESCE(c.n, 0) AS n
         |  FROM spine sp LEFT JOIN counts c
         |    ON sp.source = c.source AND sp.token = c.token
         |), s_total AS (
         |  SELECT source, SUM(n) AS s_total FROM cells GROUP BY source
         |)
         |SELECT ce.source,
         |       CAST(SUM(ce.n) AS BIGINT) AS top_tokens,
         |       ROUND(SUM(
         |         (CAST(ce.n + 1 AS DOUBLE) / (st.s_total + gt.v_n)) *
         |         LN((CAST(ce.n + 1 AS DOUBLE) / (st.s_total + gt.v_n)) /
         |            (CAST(ce.gn + 1 AS DOUBLE) / (gt.g_total + gt.v_n)))
         |       ), 6) AS kl_divergence
         |FROM cells ce
         |JOIN s_total st USING (source)
         |CROSS JOIN g_total gt
         |GROUP BY ce.source
         |ORDER BY ce.source""".stripMargin)
}
