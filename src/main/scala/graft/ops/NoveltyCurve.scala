package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** n-gram novelty curve between the held-out and training splits —
  * the memorization-risk statistic an eval team reads before trusting
  * held-out metrics: for each n, what share of the test split's
  * DISTINCT word n-grams never occur in the train split. Low novelty
  * at large n means the "held-out" text is substantially recombined
  * training text (the Lee et al. 2022 dedup papers' motivation);
  * novelty near 10⁶ ppm at n=8 is what an honest split looks like.
  * Complements decontamination (q66/q163 flag DOCS against an external
  * benchmark at fixed n=5; this is the per-n curve WITHIN the corpus's
  * own split) and q171 (which localizes individual leaks).
  *
  * Determinism: gram sets are exact (whitespace tokens, the q66
  * shingle grain); membership is computed on md5 digests — the q66
  * convention: md5, not xxhash64, wherever the key itself crosses the
  * engine boundary so DuckDB replays it — and the ppm rate is an
  * integer division. Fully oracle-replayed.
  *
  * Scale shape: per n, the corpus pays one shingle explosion into
  * (is_test, digest) rows — no text ever enters an exchange — then
  * two map-side-combined DISTINCTs and one distributed digest
  * equi-join (train-side distinct keys, so each test gram matches at
  * most once and `seen <= test_distinct` by construction). The report
  * is |Ns| single-row aggregates unioned. At 100 TB each pass is the
  * q66 posting shape, which is the scalable decontamination plan.
  */
object NoveltyCurve extends graft.QueryModule {

  /** Gram lengths on the curve: unigram overlap is near-total by
    * construction (shared vocabulary), 8-grams approach verbatim reuse.
    */
  private[graft] val Ns = Seq(1, 2, 3, 5, 8)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q179_novelty_curve" -> ((s, d) => {
      // reads the stored split-membership flag artifacts (ShingleStore,
      // r19): the five corpus explosions this query used to pay per
      // invocation are now one shared_build-priced build per n, and the
      // per-n novelty statistic is ONE single-scan aggregate over the
      // checkpointed flag frame — no distinct, no join left in steady
      // state. Semantics unchanged: "seen" = test grams also present
      // anywhere outside the test split (train + validation), as before.
      val perN = Ns.map { n =>
        ShingleStore.splitGrams(s, d, n)
          .agg(count(when(col("in_test"), 1)).as("test_distinct"),
            count(when(col("in_test") &&
              (col("in_train") || col("in_validation")), 1)).as("seen"))
          .select(lit(n).as("n"), col("test_distinct"), col("seen"),
            expr("CASE WHEN test_distinct = 0 THEN 0" +
              " ELSE (test_distinct - seen) * 1000000 DIV test_distinct END")
              .as("novel_ppm"))
      }
      perN.reduce(_ unionByName _).orderBy("n")
    }),

    // the 3-split HYGIENE matrix: q179 curves train→test at many n;
    // this is every ordered split pair at the q66 grain (n=5),
    // INCLUDING validation — the table that catches a val split
    // leaking into train even when the test split is clean. Row
    // (split, other) = share of `split`'s distinct 5-grams also
    // present in `other`, ppm. One (split, digest) DISTINCT pass over
    // the corpus (checkpointed — the matrix self-joins it), one digest
    // equi-join whose per-gram fanout is bounded by the 3 splits, and
    // a 6-row literal spine so absent splits report 0 by convention
    // rather than dropping rows.
    "q180_split_overlap_matrix" -> ((s, d) => {
      // the stored n=5 split-membership flag artifact (ShingleStore,
      // r19): with per-digest flags, "distinct 5-grams of `split` also
      // present in `other`" is count(in_split AND in_other) — the whole
      // matrix is ONE single-scan aggregate (9 counters) reshaped into
      // the 6-row spine, replacing the digest self-join entirely. An
      // absent split's counters are naturally 0, preserving the spine
      // convention (rows never drop).
      val spine = Seq("train", "validation", "test")
      val flag = spine.map(x => x -> col(s"in_$x")).toMap
      val aggCols =
        spine.map(a => count(when(flag(a), 1)).as(s"n_$a")) ++
          (for (a <- spine; b <- spine if a != b)
            yield count(when(flag(a) && flag(b), 1)).as(s"sh_${a}_$b"))
      val totals = ShingleStore.splitGrams(s, d, 5)
        .agg(aggCols.head, aggCols.tail: _*)
      val rows = for (a <- spine; b <- spine if a != b)
        yield struct(lit(a).as("split"), lit(b).as("other"),
          col(s"n_$a").as("n_distinct"), col(s"sh_${a}_$b").as("shared"))
      totals.select(explode(array(rows: _*)).as("r"))
        .select(col("r.split").as("split"), col("r.other").as("other"),
          col("r.n_distinct").as("n_distinct"), col("r.shared").as("shared"))
        .withColumn("shared_ppm",
          expr("CASE WHEN n_distinct = 0 THEN 0" +
            " ELSE shared * 1000000 DIV n_distinct END"))
        .orderBy("split", "other")
    }))

  /** DuckDB gram-list comprehension for word n-grams over `w` — the
    * FiveGramCtes pattern generalized to any n. private[graft]: q227's
    * oracle replays the same shingle grain.
    */
  private[graft] def gramList(n: Int): String = {
    val g = (0 until n).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    val hi = if (n == 1) "len(w) + 1" else s"len(w) - ${n - 2}"
    s"list_distinct(CASE WHEN len(w) >= $n THEN [$g FOR i IN range(1, $hi)] ELSE [] END)"
  }

  val oracleSql: Map[String, String] = Map(
    "q179_novelty_curve" -> {
      val blocks = Ns.map { n =>
        s"""t$n AS (SELECT DISTINCT md5(g) AS gd
           |  FROM (SELECT UNNEST(${gramList(n)}) AS g FROM toks WHERE is_test)),
           |r$n AS (SELECT DISTINCT md5(g) AS gd
           |  FROM (SELECT UNNEST(${gramList(n)}) AS g FROM toks WHERE NOT is_test)),
           |s$n AS (SELECT CAST(COUNT(*) AS BIGINT) AS test_distinct,
           |               CAST(COUNT(r.gd) AS BIGINT) AS seen
           |        FROM t$n t LEFT JOIN r$n r ON t.gd = r.gd)""".stripMargin
      }
      val selects = Ns.map { n =>
        s"""SELECT $n AS n, test_distinct, seen,
           |       CASE WHEN test_distinct = 0 THEN 0
           |            ELSE (test_distinct - seen) * 1000000 // test_distinct
           |       END AS novel_ppm
           |FROM s$n""".stripMargin
      }
      s"""WITH toks AS MATERIALIZED (
         |  SELECT substr(md5(doc_id::VARCHAR), 1, 1) IN ('e', 'f') AS is_test,
         |         string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents
         |),
         |${blocks.mkString(",\n")}
         |${selects.mkString("\nUNION ALL\n")}
         |ORDER BY n""".stripMargin
    },

    "q180_split_overlap_matrix" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT CASE WHEN h IN ('c', 'd') THEN 'validation'
         |              WHEN h IN ('e', 'f') THEN 'test'
         |              ELSE 'train' END AS split, w
         |  FROM (SELECT substr(md5(doc_id::VARCHAR), 1, 1) AS h,
         |               string_split_regex(trim(text), '\\s+') AS w
         |        FROM documents)
         |), grams AS MATERIALIZED (
         |  SELECT DISTINCT split, md5(g) AS gd
         |  FROM (SELECT split, UNNEST(${gramList(5)}) AS g FROM toks)
         |), shared AS (
         |  SELECT x.split AS split, y.split AS other,
         |         CAST(COUNT(*) AS BIGINT) AS shared
         |  FROM grams x JOIN grams y ON x.gd = y.gd AND x.split <> y.split
         |  GROUP BY x.split, y.split
         |), totals AS (
         |  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_distinct
         |  FROM grams GROUP BY split
         |), spine(split, other) AS (
         |  VALUES ('test', 'train'), ('test', 'validation'),
         |         ('train', 'test'), ('train', 'validation'),
         |         ('validation', 'test'), ('validation', 'train')
         |)
         |SELECT s.split, s.other,
         |       COALESCE(t.n_distinct, 0) AS n_distinct,
         |       COALESCE(sh.shared, 0) AS shared,
         |       CASE WHEN COALESCE(t.n_distinct, 0) = 0 THEN 0
         |            ELSE COALESCE(sh.shared, 0) * 1000000 // t.n_distinct
         |       END AS shared_ppm
         |FROM spine s
         |LEFT JOIN totals t ON t.split = s.split
         |LEFT JOIN shared sh ON sh.split = s.split AND sh.other = s.other
         |ORDER BY s.split, s.other""".stripMargin)
}
