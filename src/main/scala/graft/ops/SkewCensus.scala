package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Join-key skew census — the decision INPUT behind the q110/q111
  * salting machinery and the bucketed layouts: for every fact-side
  * join key the star queries actually shuffle on, the NDV, row
  * count, and the top-1 / top-10 key shares. A planner (human or
  * automated) reads this table once per snapshot to decide which
  * joins need salting (top-1 share ≫ 1/partitions = one straggler
  * task), which dimensions stay broadcast, and which keys justify
  * bucketing. q131 profiles COLUMNS for nulls/ranges; this profiles
  * KEYS for shuffle behavior — different question, different
  * consumer.
  *
  * Determinism: pure counts and nonnegative ppm integer divisions
  * (DIV ≡ //); top-k mass is a SUM over the top-10 count multiset
  * (ranked count desc, key asc — value-deterministic because equal
  * counts contribute equal mass whichever wins the rank).
  *
  * Scale shape: per audited key, ONE map-side-combined (key) count
  * shuffle; NDV and total fold from the SAME count table (one pass,
  * the q184 discipline), and the top-10 is a per-census-row window
  * over the count table partitioned BY THE CENSUS ENTRY — at 100 TB
  * each key's count table is the small side (NDV rows, not corpus
  * rows), and a TakeOrdered heap replaces the window per key. The
  * census unions |keys| such frames — independent branches, each
  * dim-bounded after its first aggregate — into ONE plan that starts no
  * job at construction: the totals and top-10 readers of a key's count
  * table share its count exchange (exchange reuse turns the second
  * reader into a `ReusedExchangeExec`, so each count aggregation runs
  * once without a checkpoint), and AQE materializes the branches' scan
  * stages concurrently.
  */
object SkewCensus extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_join_key_skew" -> ((s, d) => {
      def census(label: String, df: DataFrame, key: String): DataFrame = {
        // no global window anywhere: top-1 is a plain max, top-10 mass
        // rides a TakeOrdered heap (sort+limit), and the three 1-row
        // folds cross at the model edge (documented BNLJ shape)
        val counts = df.groupBy(col(key).cast("long").as("k"))
          .agg(count(lit(1)).as("c"))
        val totals = counts.agg(sum(col("c")).as("n_rows"),
          count(lit(1)).as("ndv"), max(col("c")).as("top1"))
        val top10 = counts.orderBy(col("c").desc, col("k").asc).limit(10)
          .agg(coalesce(sum(col("c")), lit(0L)).as("top10"))
        totals.crossJoin(top10)
          .select(lit(label).as("table_key"), col("n_rows"), col("ndv"),
            col("top1"), col("top10"))
      }
      val entries = Seq(
        ("orders.o_custkey", Tables.orders(s, d), "o_custkey"),
        ("lineitem.l_orderkey", Tables.lineitem(s, d), "l_orderkey"),
        ("lineitem.l_partkey", Tables.lineitem(s, d), "l_partkey"),
        ("lineitem.l_suppkey", Tables.lineitem(s, d), "l_suppkey"),
        ("events.user_id", Tables.events(s, d), "user_id"))
      entries.map { case (l, df, k) => census(l, df, k) }
        .reduce(_.unionByName(_))
        .select(col("table_key"), col("n_rows"), col("ndv"),
          col("top1"), col("top10"),
          expr("top1 * 1000000 DIV n_rows").as("top1_ppm"),
          expr("top10 * 1000000 DIV n_rows").as("top10_ppm"))
        .orderBy("table_key")
    }))

  val oracleSql: Map[String, String] = Map(
    "q200_join_key_skew" -> {
      def one(label: String, table: String, key: String): String =
        s"""SELECT '$label' AS table_key,
           |       CAST(SUM(c) AS BIGINT) AS n_rows,
           |       CAST(COUNT(*) AS BIGINT) AS ndv,
           |       CAST(MAX(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top1,
           |       CAST(SUM(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT) AS top10
           |FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, k) AS rn
           |      FROM (SELECT CAST($key AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS c
           |            FROM $table GROUP BY 1))""".stripMargin
      val parts = Seq(
        one("orders.o_custkey", "orders", "o_custkey"),
        one("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        one("lineitem.l_partkey", "lineitem", "l_partkey"),
        one("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        one("events.user_id", "events", "user_id"))
      s"""WITH uni AS (
         |${parts.mkString("\nUNION ALL\n")}
         |)
         |SELECT table_key, n_rows, ndv, top1, top10,
         |       top1 * 1000000 // n_rows AS top1_ppm,
         |       top10 * 1000000 // n_rows AS top10_ppm
         |FROM uni
         |ORDER BY table_key""".stripMargin
    })
}
