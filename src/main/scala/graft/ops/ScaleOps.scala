package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew-mitigation primitives for cluster-scale runs. AQE's skew-join
  * splitting handles most cases at runtime; these are the explicit
  * fallbacks for the pathologies AQE can't fix (a single hot key inside
  * one task, skewed aggregation keys).
  */
object ScaleOps extends graft.QueryModule {

  /** Equi-join where the LEFT side has skewed key frequencies: spread
    * each hot key over `salts` shuffle partitions by salting the left
    * side with a deterministic per-row hash and replicating the right
    * side `salts`×. Result is exactly `left.join(right, keys)` — the
    * salt only changes the physical distribution.
    *
    * Cost model: right side grows `salts`×, so use for moderate `salts`
    * against a right side much smaller than the skewed left.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    require(salts > 0)
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(salts)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, keys :+ "__salt").drop("__salt")
  }

  /** Two-phase aggregation for skewed group keys: partial-aggregate on
    * (keys, salt) — spreading a hot group over `salts` reducers — then
    * final-aggregate on keys. Works for any algebraic aggregate given
    * its (partial, merge) pair; the common sum/count case is provided.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
                salts: Int): DataFrame = {
    require(salts > 0)
    df.withColumn("__salt",
        pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(salts)).cast("int"))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(s"sum_$valueCol"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Skew-immune aggregation through the salted two-phase path: only 3
    // distinct l_returnflag values over the whole fact — with 32+
    // reducers a plain groupBy leaves most idle and piles each flag's
    // entire volume on one. The salt spreads each hot key over 8
    // reducers, the final agg folds the partials; the oracle is the
    // PLAIN unsalted GROUP BY, so the driver gate proves salt
    // invariance, not just that it runs.
    "q110_salted_skew_agg" -> ((s, d) =>
      saltedSum(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("qty")),
        keys = Seq("l_returnflag"), valueCol = "qty", salts = 8)
        .select(col("l_returnflag"), col("sum_qty").cast("double").as("sum_qty"))
        .orderBy("l_returnflag")),

    // Skew-immune join: the fact side salts, the moderate side
    // replicates 4x, the join runs on (key, salt) so one hot orderkey's
    // rows land on 4 reducers instead of one. Result must equal the
    // plain join exactly (the salt is physical, never semantic) — the
    // oracle is the unsalted join + rollup.
    "q111_salted_join" -> ((s, d) =>
      saltedJoin(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"),
            col("l_extendedprice").cast("decimal(18,2)").as("price")),
        Tables.orders(s, d)
          .select(col("o_orderkey").as("okey"),
            col("o_orderpriority").as("priority")),
        keys = Seq("okey"), salts = 4)
        .groupBy("priority")
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"))
        .orderBy("priority"))
  )

  val oracleSql: Map[String, String] = Map(
    "q110_salted_skew_agg" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q111_salted_join" ->
      """SELECT o.o_orderpriority AS priority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
  )
}
