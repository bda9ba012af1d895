package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q224: INCREMENTAL ARTIFACT MAINTENANCE — the 100 TB snapshot-update
  * story for the stored gram/fingerprint assets (r18 verdict #5).
  * FrameMemo rebuilds every artifact from scratch per session; a
  * production store APPENDS: when a batch of new documents lands, the
  * gram artifact (Winnowing.gramFrame grain) must absorb the delta
  * without rescanning the corpus, and the operator must PROVE the
  * incrementally-maintained artifact equals the from-scratch build.
  *
  * Machinery, all pre-existing and composed:
  *   - the artifact is maintained at a PER-DOC MANIFEST grain
  *     (doc_id, n_rows, fp_mod): doc-level row counts + q103's
  *     mergeable order-invariant mod-2^64 fingerprint of the doc's
  *     (doc_id, p, h) gram rows. Gram rows are doc-local, so a doc's
  *     manifest row never depends on other docs — the natural MERGE
  *     grain (the per-file stats manifest of q105, at doc grain).
  *   - delta docs: the deterministic md5 hex-prefix rule
  *     (hexPrefix == "f", ~1/16 of the corpus) — the replayable stand-in
  *     for "the batch that landed since the last snapshot".
  *   - MERGE = delete-then-insert upsert: stored base manifest
  *     anti-joined on the (broadcast, small) delta doc-id set, unioned
  *     with the freshly built delta manifest — re-ingested docs would
  *     be replaced, new docs appended. Per-run cost ∝ DELTA: the base
  *     manifest and the from-scratch audit totals are stored artifacts
  *     (FrameMemo, priced in shared_build); only the delta's gram
  *     explosion + a manifest-sized anti-join run per invocation.
  *   - EQUIVALENCE BY HASH: the merged manifest's total (row count,
  *     mod-2^64 fingerprint sum) must equal the from-scratch build's —
  *     q103's mergeability theorem (mod-addition is commutative/
  *     associative over any partitioning of the rows) is what makes the
  *     doc-grain roll-up equal the table-grain fingerprint exactly. The
  *     DuckDB oracle recomputes the from-scratch side independently
  *     (canon → polynomial gram hashes → md5_number_lower fingerprints,
  *     the q155/q103 replay chains composed) and pins `equivalent` to
  *     literal TRUE — a merge that drops, duplicates, or corrupts one
  *     gram row breaks the round's hash.
  */
object ArtifactDelta extends graft.QueryModule {

  /** The "newly landed batch" rule — deterministic, split-independent,
    * and SQL-replayable: last md5 hex-prefix class (~1/16 of docs).
    */
  private[graft] def isDelta(id: Column): Column =
    Sampling.hexPrefix(id, 1) === "f"

  /** Per-doc gram manifest over an arbitrary document set: gram row
    * count + mergeable mod-2^64 fingerprint of the doc's gram rows.
    */
  private[graft] def manifestOf(docs: DataFrame): DataFrame =
    Winnowing.gramsOf(docs)
      .withColumn("fp", LakehouseOps.rowFingerprint64(
        LakehouseOps.fingerprintInput(Seq(col("doc_id"), col("p"), col("h")))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("fp")) % lit(LakehouseOps.Mod64))
          .cast("decimal(38,0)").as("fp_mod"))

  /** The STORED base-snapshot manifest (corpus minus the delta class) —
    * what a production store keeps on disk between batches.
    */
  private[graft] def baseManifest(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "gramManifestBase") {
      manifestOf(Tables.documents(s, d).filter(!isDelta(col("doc_id"))))
    }

  /** The STORED from-scratch audit totals over the full gram artifact
    * (one row: count + mod-sum) — derived once per snapshot from the
    * memoized [[Winnowing.gramFrame]], so the per-run equivalence check
    * reads a 1-row frame instead of rescanning corpus grams.
    */
  private[graft] def scratchTotals(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "gramScratchTotals") {
      Winnowing.gramFrame(s, d)
        .withColumn("fp", LakehouseOps.rowFingerprint64(
          LakehouseOps.fingerprintInput(Seq(col("doc_id"), col("p"), col("h")))))
        .agg(count(lit(1)).as("rows_scratch"),
          (sum(col("fp")) % lit(LakehouseOps.Mod64))
            .cast("decimal(38,0)").as("fp_scratch"))
    }

  /** Delete-then-insert manifest MERGE: rows for re-ingested docs are
    * replaced, new docs appended. The delta id set is batch-sized —
    * broadcast, so the stored manifest is never shuffled.
    */
  private[graft] def mergeManifests(base: DataFrame, delta: DataFrame): DataFrame =
    base.join(broadcast(delta.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .unionByName(delta)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_artifact_delta_merge" -> ((s, d) => {
      // per-run work: ONLY the delta build + manifest-sized merges.
      // The delta manifest is materialized ONCE (localCheckpoint): three
      // branches of the registered plan read it (the broadcast anti-join
      // id set, mergedTot, deltaTot), and an unmaterialized frame would
      // re-run the delta gram explosion per branch — 3x the claimed
      // per-run cost (r19 ADVICE). Blocks are reclaimed by ContextCleaner
      // on driver GC (Bench collects between queries).
      val delta = manifestOf(
        Tables.documents(s, d).filter(isDelta(col("doc_id"))))
        .localCheckpoint()
      val base = baseManifest(s, d)
      val merged = mergeManifests(base, delta)
      val mergedTot = merged.agg(
        sum(col("n_rows")).as("rows_merged"),
        (sum(col("fp_mod")) % lit(LakehouseOps.Mod64))
          .cast("decimal(38,0)").as("fp_merged"))
      val deltaTot = delta.agg(
        count(lit(1)).as("n_delta_docs"), sum(col("n_rows")).as("rows_delta"))
      val baseTot = base.agg(sum(col("n_rows")).as("rows_base"))
      deltaTot.crossJoin(baseTot).crossJoin(mergedTot)
        .crossJoin(scratchTotals(s, d))
        .select(col("n_delta_docs"),
          col("rows_base"), col("rows_delta"), col("rows_merged"),
          col("rows_scratch"),
          col("fp_merged").cast("string").as("fp_merged"),
          col("fp_scratch").cast("string").as("fp_scratch"),
          (col("rows_merged") === col("rows_scratch") &&
            col("fp_merged") === col("fp_scratch")).as("equivalent"))
    }))

  val oracleSql: Map[String, String] = Map(
    // the oracle IS the from-scratch build: canon → polynomial gram
    // hashes (the q155 replay) → md5_number_lower row fingerprints (the
    // q103 replay); merged totals must equal it and `equivalent` is
    // pinned literal TRUE
    "q224_artifact_delta_merge" ->
      s"""WITH canon AS MATERIALIZED (
         |  SELECT doc_id,
         |         substr(md5(doc_id::VARCHAR), 1, 1) = 'f' AS is_delta,
         |         substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
         |                1, ${Winnowing.MaxCanon}) AS c
         |  FROM documents
         |), grams AS MATERIALIZED (
         |  SELECT doc_id, is_delta, p,
         |         (${Winnowing.PolyCoef.zipWithIndex.map { case (coef, o) =>
                      s"CAST(ascii(substr(c, p + $o, 1)) AS BIGINT) * $coef"
                    }.mkString(" + ")}) % ${Winnowing.HashMod} AS h
         |  FROM (
         |    SELECT doc_id, is_delta, c,
         |           unnest(range(1, length(c) - ${Winnowing.WinnowK} + 2)) AS p
         |    FROM canon WHERE length(c) >= ${Winnowing.WinnowK}
         |  )
         |), fp AS (
         |  SELECT is_delta, doc_id,
         |         CAST(md5_number_lower(doc_id::VARCHAR || '|' || p::VARCHAR
         |                || '|' || h::VARCHAR) AS HUGEINT) AS f
         |  FROM grams
         |), tot AS (
         |  SELECT COUNT(*) AS rows_scratch,
         |         CAST(SUM(f) % CAST('18446744073709551616' AS HUGEINT)
         |              AS DECIMAL(38,0)) AS fps,
         |         COUNT(*) FILTER (WHERE is_delta) AS rows_delta,
         |         COUNT(*) FILTER (WHERE NOT is_delta) AS rows_base,
         |         COUNT(DISTINCT doc_id) FILTER (WHERE is_delta) AS n_delta_docs
         |  FROM fp
         |)
         |SELECT CAST(n_delta_docs AS BIGINT) AS n_delta_docs,
         |       CAST(rows_base AS BIGINT) AS rows_base,
         |       CAST(rows_delta AS BIGINT) AS rows_delta,
         |       CAST(rows_scratch AS BIGINT) AS rows_merged,
         |       CAST(rows_scratch AS BIGINT) AS rows_scratch,
         |       CAST(fps AS VARCHAR) AS fp_merged,
         |       CAST(fps AS VARCHAR) AS fp_scratch,
         |       TRUE AS equivalent
         |FROM tot""".stripMargin)
}
