package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC staging sink + warehouse read-back (S5/S6).
  *
  * The reference stages every dim and fact through a warehouse table
  * (`load_to_postgres.py:27,46,72,89,105` — `to_sql(...,
  * if_exists="replace")`) and reads dimension rows back to build
  * surrogate-key maps (`load_to_postgres.py:59-68`). There is no
  * Postgres in this environment; embedded Derby (jars ship with Spark)
  * provides a real JDBC warehouse: the exact same
  * `DataFrameWriter.jdbc` / `DataFrameReader.jdbc` code paths, dialect
  * machinery, and type mapping run — only the url changes in
  * production.
  *
  * Scale shape: a JDBC endpoint is a single-database choke point, so at
  * 100 TB the row-level data stays in the lake's silver/gold parquet and
  * JDBC carries only what the reference stages through it — the
  * materialized star of `pipeline.EnergyStar`: dims and monthly
  * aggregates, thousands of rows bounded by dim cardinalities, read
  * from executor memory. The writer coalesces to 4 partitions, which
  * caps its connection fan-in so a 1000-executor cluster doesn't open a
  * socket per task against one database; the read-back side is a
  * single partition (dims are small by definition — never
  * range-partition a 25-row read).
  */
object JdbcStage {

  /** Derby 10.16 auto-registers via the service loader; naming the
    * driver class keeps Spark's DriverRegistry deterministic about it.
    */
  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Embedded-Derby url rooted at `dbDir` (created on first use). */
  def derbyUrl(dbDir: String): String = s"jdbc:derby:$dbDir;create=true"

  /** S5 — full-replace staging write, the `to_sql(if_exists="replace")`
    * analog: drop-and-recreate semantics via overwrite mode. Connection
    * fan-in capped at 4.
    */
  def writeStaging(df: DataFrame, url: String, table: String,
                   createTableColumnTypes: Option[String] = None): Unit = {
    val w = df.coalesce(4).write
      .format("jdbc")
      .option("url", url)
      .option("driver", DerbyDriver)
      .option("dbtable", table)
      .mode(SaveMode.Overwrite)
    // Derby's dialect maps StringType to CLOB, which Derby refuses in
    // comparison predicates — staging tables that will be filtered or
    // joined database-side declare VARCHAR key columns explicitly
    createTableColumnTypes.fold(w)(t => w.option("createTableColumnTypes", t))
      .save()
  }

  /** S6 — read a warehouse table back as a DataFrame (the reference's
    * `SELECT ... FROM dim` → dict at `load_to_postgres.py:59-68`; the
    * dict-apply collapses into a broadcast join downstream).
    */
  def readTable(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("driver", DerbyDriver)
      .option("dbtable", table)
      .load()

  /** S6 with a pushed-down projection/predicate: the query runs INSIDE
    * the database (Spark wraps it as a subquery), so only the selected
    * rows cross the wire — the JDBC analog of parquet filter pushdown.
    */
  def readQuery(spark: SparkSession, url: String, query: String): DataFrame =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("driver", DerbyDriver)
      .option("query", query)
      .load()
}
