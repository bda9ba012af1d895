package graft.sources

import java.sql.{Connection, DriverManager}
import graft.ops.FrameMemo
import graft.pipeline.EnergyStar

/** Transactional warehouse load (M5) — the reference wraps its entire
  * star-schema load in ONE database transaction (`load_to_postgres.py:128`
  * `engine.begin()`): stage every frame with `to_sql`, then set-based SQL
  * upserts run INSIDE the database, all-or-nothing. This is that shape on
  * embedded Derby: Spark JDBC writes the staging tables (scratch,
  * full-replace, outside the transaction — exactly like `to_sql`), then a
  * single connection with autoCommit off MERGEs staging into the
  * warehouse tables and commits, rolling back wholesale on any failure.
  * The 7 staging writes run concurrently; the transaction stays on one
  * connection and runs its statements in order, like the reference's
  * single `engine.begin()`.
  *
  * MERGE covers both reference upsert forms in one statement per table:
  * WHEN NOT MATCHED INSERT is the dim insert-if-absent anti-join
  * (`load_to_postgres.py:29-35`), WHEN MATCHED UPDATE + NOT MATCHED
  * INSERT is the fact `INSERT ... ON CONFLICT DO UPDATE`
  * (`load_to_postgres.py:74-85`).
  *
  * Scale note: the driver-side connection executes set-based statements
  * only — no per-row loops; row volume stays inside the database. The
  * warehouse tables here are dims and monthly aggregates (thousands of
  * rows — the reference's exact payload), the same rows `EnergyStar`
  * holds materialized in executor memory, bounded by dim cardinalities
  * (regions × sources/sectors × months), not by data volume. 100 TB of
  * row-level data stays in the lake's silver/gold parquet, where Spark
  * IS the warehouse.
  */
object JdbcWarehouse {

  /** One warehouse transaction: autoCommit off, commit on success,
    * rollback on any failure (M5, `load_to_postgres.py:128`).
    */
  def inTransaction[A](url: String)(body: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val out = body(conn)
      conn.commit()
      out
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: Throwable => () }
        throw e
    } finally conn.close()
  }

  /** Spark's JDBC writer creates case-sensitive lowercase column names;
    * Derby uppercases unquoted identifiers — so every column reference
    * is quoted.
    */
  private def q(c: String) = "\"" + c + "\""

  /** Raw JDBC statements leak handles (and their locks) until the
    * connection closes — always scope them.
    */
  private def withStatement[A](conn: Connection)(body: java.sql.Statement => A): A = {
    val st = conn.createStatement()
    try body(st) finally st.close()
  }

  private def columnsOf(conn: Connection, table: String): Seq[String] =
    withStatement(conn) { st =>
      val rs = st.executeQuery(s"SELECT * FROM $table WHERE 1=0")
      try {
        val md = rs.getMetaData
        (1 to md.getColumnCount).map(md.getColumnName).toSeq
      } finally rs.close()
    }

  /** Create the warehouse table with the staging table's schema if it
    * doesn't exist yet (Derby has no IF NOT EXISTS; X0Y32 = exists).
    * Returns whether this call created it, so constraints are added
    * exactly once.
    */
  private def ensureTable(conn: Connection, target: String, staging: String): Boolean =
    try {
      withStatement(conn)(_.executeUpdate(
        s"CREATE TABLE $target AS SELECT * FROM $staging WITH NO DATA"))
      true
    } catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => false }

  /** The reference schema's integrity constraints
    * (`SQL/01_create_schema.sql`: SERIAL PRIMARY KEY + UNIQUE natural
    * keys on dims, composite PKs on facts), which CREATE TABLE AS ...
    * WITH NO DATA does NOT copy. Without them a concurrent second loader
    * (two MAX(id) literals read before either inserts) or a duplicate
    * natural key that slips into staging would silently insert
    * colliding rows, and the fact rekey join would then fan facts out.
    * With them the database rejects the bad insert and the transaction
    * rolls back loudly. CTAS columns come out nullable; Derby wants
    * NOT NULL under a PK, and the tables are empty here so the ALTER is
    * safe.
    */
  private def addConstraints(conn: Connection, target: String,
                             pk: Seq[String], unique: Seq[String] = Nil): Unit = {
    (pk ++ unique).foreach { c =>
      withStatement(conn)(_.executeUpdate(
        s"ALTER TABLE $target ALTER COLUMN ${q(c)} NOT NULL"))
    }
    withStatement(conn)(_.executeUpdate(
      s"ALTER TABLE $target ADD CONSTRAINT ${target}_pk PRIMARY KEY (${pk.map(q).mkString(", ")})"))
    if (unique.nonEmpty) {
      withStatement(conn)(_.executeUpdate(
        s"ALTER TABLE $target ADD CONSTRAINT ${target}_nk UNIQUE (${unique.map(q).mkString(", ")})"))
      ()
    }
  }

  /** Set-based upsert from staging, executed BY the database. */
  private def mergeFromStaging(conn: Connection, target: String, staging: String,
                               pk: Seq[String]): Unit = {
    val cols = columnsOf(conn, staging)
    val vals = cols.filterNot(pk.contains)
    val on = pk.map(c => s"t.${q(c)} = s.${q(c)}").mkString(" AND ")
    val matched =
      if (vals.isEmpty) ""
      else "WHEN MATCHED THEN UPDATE SET " +
        vals.map(c => s"${q(c)} = s.${q(c)}").mkString(", ") + " "
    withStatement(conn)(_.executeUpdate(
      s"MERGE INTO $target t USING $staging s ON $on " + matched +
        s"WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")}) " +
        s"VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"))
    ()
  }

  /** Dim insert-if-absent (M1, `load_to_postgres.py:29-35`): rows whose
    * natural key is new get STORED ids continuing after the warehouse's
    * current max — the SERIAL semantics of the reference, set-based. A
    * matched-UPDATE here would clobber stored surrogate ids with the
    * freshly regenerated per-load numbering (row_number over today's
    * sorted values), silently re-pointing every historical fact row;
    * inserting the STAGED id verbatim is no better — a new name that
    * sorts first shifts the whole staged numbering onto ids the
    * warehouse already assigned to other names.
    */
  private def insertMissingDims(conn: Connection, target: String,
                                staging: String, idCol: String,
                                naturalKeys: Seq[String]): Unit = {
    val dataCols = columnsOf(conn, staging).filterNot(_ == idCol)
    val joinOn = naturalKeys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    // max id read separately and embedded as a literal: Derby trips an
    // internal ArrayIndexOutOfBounds evaluating a scalar subquery on the
    // INSERT target next to ROW_NUMBER in the same SELECT. Same
    // transaction, so the two statements are atomic together anyway.
    val maxId = withStatement(conn) { st =>
      val rs = st.executeQuery(
        s"SELECT COALESCE(MAX(${q(idCol)}), 0) FROM $target")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }
    withStatement(conn)(_.executeUpdate(
      s"INSERT INTO $target (${(idCol +: dataCols).map(q).mkString(", ")}) " +
        s"SELECT $maxId + ROW_NUMBER() OVER (), " +
        s"${dataCols.map(c => s"s.${q(c)}").mkString(", ")} " +
        s"FROM $staging s LEFT OUTER JOIN $target t ON $joinOn " +
        s"WHERE t.${q(naturalKeys.head)} IS NULL"))
    ()
  }

  /** Facts arrive keyed by the per-load staged dim ids; the warehouse
    * rows must be keyed by the STORED dim ids. Bridge database-side
    * exactly like the reference's read-back-the-ids step
    * (`load_to_postgres.py:60-72`, dict lookup → set-based joins): walk
    * staged id → natural key (staged dim) → stored id (warehouse dim).
    * Derby's MERGE USING accepts only a base table (not even a view), so
    * the rekeyed rows land in a scratch table for the MERGE and are
    * dropped after — all inside the transaction (Derby DDL is
    * transactional, so a failed load rolls the scratch away too).
    */
  private def rekeyedFactTable(conn: Connection, staging: String,
                               maps: Seq[(String, String, String, Seq[String])]): String = {
    val cols = columnsOf(conn, staging)
    require(maps.map(_._1).toSet.subsetOf(cols.toSet),
      s"fact $staging missing id columns")
    val selects = cols.map { c =>
      maps.indexWhere(_._1 == c) match {
        case -1 => s"f.${q(c)} AS ${q(c)}"
        case i  => s"w$i.${q(c)} AS ${q(c)}"
      }
    }
    val joins = maps.zipWithIndex.map { case ((id, stgDim, whDim, nks), i) =>
      s"JOIN $stgDim s$i ON s$i.${q(id)} = f.${q(id)} " +
        s"JOIN $whDim w$i ON " +
        nks.map(k => s"w$i.${q(k)} = s$i.${q(k)}").mkString(" AND ")
    }.mkString(" ")
    val scratch = s"rk_$staging"
    try withStatement(conn)(_.executeUpdate(s"DROP TABLE $scratch"))
    catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
    withStatement(conn)(_.executeUpdate(
      s"CREATE TABLE $scratch AS SELECT * FROM $staging WITH NO DATA"))
    withStatement(conn)(_.executeUpdate(
      s"INSERT INTO $scratch SELECT ${selects.mkString(", ")} FROM $staging f $joins"))
    scratch
  }

  private def dropTable(conn: Connection, table: String): Unit = {
    withStatement(conn)(_.executeUpdate(s"DROP TABLE $table"))
    ()
  }

  /** (dim table, surrogate id column, natural key, staging column-type
    * overrides). Natural keys are the reference's UNIQUE columns
    * (`SQL/01_create_schema.sql:4,9,14,21`). String keys staged as
    * VARCHAR — Derby CLOB can't sit in a join predicate.
    */
  private val DimTables: Seq[(String, String, Seq[String], Option[String])] = Seq(
    ("dim_region", "region_id", Seq("region_name"), Some("region_name VARCHAR(64)")),
    ("dim_energy_source", "source_id", Seq("source_name"), Some("source_name VARCHAR(64)")),
    ("dim_sector", "sector_id", Seq("sector_name"), Some("sector_name VARCHAR(64)")),
    ("dim_time", "time_id", Seq("year", "month"), None))

  /** (fact table, composite id PK, dim bridges: (fact id column, staged
    * dim, warehouse dim, natural keys)). PKs per
    * `SQL/01_create_schema.sql:33,43,52`.
    */
  private val FactTables: Seq[(String, Seq[String], Seq[(String, String, String, Seq[String])])] = Seq(
    ("fact_energy_monthly", Seq("region_id", "source_id", "time_id"), Seq(
      ("region_id", "stg_dim_region", "dim_region", Seq("region_name")),
      ("source_id", "stg_dim_energy_source", "dim_energy_source", Seq("source_name")),
      ("time_id", "stg_dim_time", "dim_time", Seq("year", "month")))),
    ("fact_emissions_monthly", Seq("region_id", "sector_id", "time_id"), Seq(
      ("region_id", "stg_dim_region", "dim_region", Seq("region_name")),
      ("sector_id", "stg_dim_sector", "dim_sector", Seq("sector_name")),
      ("time_id", "stg_dim_time", "dim_time", Seq("year", "month")))),
    ("fact_carbon_intensity", Seq("region_id", "time_id"), Seq(
      ("region_id", "stg_dim_region", "dim_region", Seq("region_name")),
      ("time_id", "stg_dim_time", "dim_time", Seq("year", "month")))))

  /** Full star load: stage all 7 frames (S5) concurrently, then load
    * them in ONE transaction (M1+M2+M5) with the reference's id lifecycle:
    * dims insert-if-absent (stored ids never rewritten, new ids continue
    * after the stored max), facts re-keyed from the per-load staged ids
    * to the STORED dim ids via the rekey views, then upserted. Idempotent
    * — reloading the same star is a no-op; a failure anywhere rolls back
    * every table; an evolved source (new region sorting first) inserts
    * the new dim row without renumbering history, and its facts land
    * under the stored numbering. The staging writes are independent
    * scratch tables, so they run at the same time (one small Spark job
    * each); a failed write is rethrown once the others have ended, before
    * the transaction opens, so no warehouse table changes.
    */
  def loadStar(url: String, star: EnergyStar): Unit = {
    val frames = star.tables.toMap
    val staging = DimTables.map { case (t, _, _, colTypes) => (t, colTypes) } ++
      FactTables.map { case (t, _, _) => (t, None) }
    FrameMemo.inParallel("jdbc-staging")(staging.map { case (t, colTypes) => () =>
      JdbcStage.writeStaging(frames(t), url, s"stg_$t", createTableColumnTypes = colTypes)
    }: _*)
    inTransaction(url) { conn =>
      DimTables.foreach { case (t, idCol, nks, _) =>
        if (ensureTable(conn, t, s"stg_$t"))
          addConstraints(conn, t, pk = Seq(idCol), unique = nks)
        insertMissingDims(conn, t, s"stg_$t", idCol, nks)
      }
      FactTables.foreach { case (t, pk, bridges) =>
        if (ensureTable(conn, t, s"stg_$t"))
          addConstraints(conn, t, pk = pk)
        val rekeyed = rekeyedFactTable(conn, s"stg_$t", bridges)
        try mergeFromStaging(conn, t, rekeyed, pk)
        finally dropTable(conn, rekeyed)
      }
    }
  }
}
