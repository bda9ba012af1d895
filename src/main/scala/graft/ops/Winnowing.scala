package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * SIGMOD 2003 — the MOSS algorithm) + the cross-doc overlap report the
  * fingerprints exist for. Complements the dedup family: MinHash/SimHash
  * estimate WHOLE-document similarity; winnowing's guarantee is LOCAL —
  * any shared substring of length ≥ w + k − 1 chars is caught by at
  * least one shared fingerprint, which is what plagiarism/clone
  * detection and contamination localization need.
  *
  * Rule (deterministic "rightmost-min" variant): over the k-gram hash
  * sequence of the canonicalized text, every window of [[WinnowW]]
  * consecutive hashes selects its minimum, ties broken by the RIGHTMOST
  * position; the fingerprint set is the distinct (pos, hash) selections.
  * The argmin is computed as a pure-integer packed key
  * `hash·2^16 + (65535 − pos)` so a single integer `MIN` yields
  * (min hash, max pos) in both engines — no reliance on struct-ordering
  * or arg_min tie semantics. Positions are bounded by the documented
  * [[MaxCanon]] prefix contract (longer docs chunk upstream, the q79
  * path), which is what keeps the packing exact.
  *
  * Scale shape: canon → grams → per-doc sliding MIN is ONE shuffle on
  * doc_id with a codegen'd integer window — linear in corpus bytes,
  * embarrassingly parallel across docs. Matching is the inverted-index
  * plan: fingerprints group by hash, and the df cap ([[MaxDf]], the
  * MOSS "too common → boilerplate, drop it" rule) bounds every posting
  * list, so the pair join's fanout is ≤ MaxDf² per hash — the same
  * bucket-cap discipline as the LSH families. Everything is integer
  * end-to-end: the oracle replays the chain exactly.
  */
object Winnowing extends graft.QueryModule {

  /** k-gram length in canon chars; shared substrings of length
    * ≥ [[WinnowW]] + [[WinnowK]] − 1 = 11 are guaranteed caught.
    */
  private[graft] val WinnowK = 8

  /** Winnowing window: consecutive k-gram hashes per selection window. */
  private[graft] val WinnowW = 4

  /** Drop fingerprints appearing in more docs than this (boilerplate
    * suppression + posting-list bound for the pair join).
    */
  private[graft] val MaxDf = 8

  /** Report doc pairs sharing at least this many distinct fingerprints. */
  private[graft] val MinShared = 10

  /** Canon prefix bound (chars) that keeps `65535 − pos` exact in the
    * packed argmin key. Docs longer than this chunk upstream.
    */
  private[graft] val MaxCanon = 65535 + WinnowK - 1

  /** Base-127 polynomial coefficients 127^(k−1−o): canon chars are
    * lowercase alnum (codepoints < 127), so Σ a(p+o)·127^(k−1−o) is
    * INJECTIVE per 8-gram before the 2^40 fold (max sum ≈ 6.8·10^16,
    * no int64 overflow), and 127 is odd so ·127 mod 2^40 is a
    * bijection — the folded hash mixes every character.
    */
  private[graft] val PolyCoef: Seq[Long] = (0 until WinnowK).map(o =>
    (1 until WinnowK - o).foldLeft(1L)((a, _) => a * 127L))

  /** 2^40 hash fold — the same 40-bit space the md5-prefix variant
    * used, sized so `h·2^16 + pos` packs exactly into int64.
    */
  private[graft] val HashMod = 1L << 40

  /** Distinct selected (doc_id, fp_pos, fp_hash) winnowing fingerprints.
    * 40-bit base-127-polynomial hashes ([[PolyCoef]]): injective per
    * gram before the 2^40 fold, so k-gram identity is approximate only
    * through the fold (MOSS ships the same trade at the same width)
    * and bit-identical cross-engine — the fingerprint needs
    * determinism, not cryptographic strength, and the polynomial is
    * codegen integer arithmetic instead of an md5+hex+base-conversion
    * chain per corpus position.
    */
  /** The winnowed fingerprint table as its own FrameMemo STORED
    * ARTIFACT over [[gramFrame]] — the MOSS fingerprint database a
    * plagiarism/contamination store persists per corpus snapshot (far
    * smaller than the gram stream: ~2 selections per [[WinnowW]]
    * window). q155's steady state is then the df cap + pair join —
    * the lookup work — not the per-doc window re-selection.
    */
  private[graft] def fingerprints(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "winnowFingerprints") {
      fingerprintsFromGrams(gramFrame(s, d))
    }

  /** The corpus (doc_id, p, h) gram-hash stream as a FrameMemo STORED
    * ARTIFACT — built once per (session, dir) and read by every
    * gram-family consumer: q155 winnows it, q171/q174 reconstruct
    * diagonal runs over it (q174 reads it twice: df table + both
    * posting sides — against the checkpoint those are cheap columnar
    * re-reads, not three recomputations of canon + rolling hashes).
    * At 100 TB a corpus gram/fingerprint table is a standard stored
    * decontamination asset built once per snapshot (the Lee et al.
    * pipeline materializes exactly this); Bench prices the build in
    * shared_build like the LSH pair frames and the DSIR score table.
    * Size: one row per canon char — ~24 B/row, linear in corpus bytes
    * (~30 MB at sf0.1). Residency note: after the derived artifacts
    * ([[ExactSubstr.keptGrams]], [[fingerprints]]) are built, nothing
    * reads this raw stream again in steady state, yet the FrameMemo
    * entry stays block-store-resident until JVM exit — accepted at
    * bench scale (tens of MB, visible in the bench line's `blk`
    * residency) because it saves recomputing canon + rolling hashes
    * once per derived-artifact build; at production scale all three
    * are disk tables, not block-store residents, and the raw stream's
    * lifetime is the snapshot build job.
    */
  private[graft] def gramFrame(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "gramStream")(gramsOf(Tables.documents(s, d)))

  /** The canon + k-gram-hash stage as its own frame (doc_id, p, h) —
    * q155 winnows it; q171/q174's exact-substring reports read the FULL
    * gram stream (no winnowing — run reconstruction needs every
    * position). The hash SEQUENCE is computed row-locally BEFORE the
    * explode, so exploded rows carry only (doc_id, p, h) — exploding
    * alongside a per-char array column would copy the O(doc) array into
    * every one of the O(doc) rows, a quadratic blowup that measured 8×
    * WORSE than the md5 chain it replaced (r15 lesson, pinned here).
    * The per-position hashing itself is the native one-pass rolling
    * [[graft.expressions.GramHashes]] expression — the earlier HOF
    * formulation (split → ascii transform → 8 element_at per position)
    * walked a boxed array object graph per gram and still dominated the
    * r16 profile at 4–6 s per gram-family query.
    */
  private[graft] def gramsOf(docs: DataFrame): DataFrame = {
    val canon = docs
      .select(col("doc_id"),
        substring(lower(regexp_replace(col("text"), "[^a-zA-Z0-9]", "")),
          1, MaxCanon).as("c"))
      .filter(length(col("c")) >= WinnowK)
    // native one-pass rolling hash (graft.expressions.GramHashes):
    // byte-identical to the retired HOF chain (split -> ascii transform
    // -> 8 element_at per position), which walked a boxed array per
    // gram; ExpressionsSpec pins native == HOF on canon fixtures and
    // the oracles replay the same per-gram polynomial unchanged
    import org.apache.spark.sql.graft.ColumnBridge
    canon
      .select(col("doc_id"), posexplode(ColumnBridge.column(
        graft.expressions.GramHashes(ColumnBridge.expression(col("c"))))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
  }

  /** Fingerprint core over any (doc_id, text) frame — exposed so the
    * spec can run planted-substring fixtures through the exact
    * production path (the classifierOn pattern).
    */
  private[graft] def fingerprintsOf(docs: DataFrame): DataFrame =
    fingerprintsFromGrams(gramsOf(docs))

  private[graft] def fingerprintsFromGrams(grams: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("p")
    val frame = byPos.rowsBetween(Window.currentRow, WinnowW - 1)
    grams
      .withColumn("mpk",
        min(col("h") * 65536L + (lit(65535) - col("p"))).over(frame))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("p") <= col("n") - (WinnowW - 1))
      .select(col("doc_id"),
        (lit(65535) - pmod(col("mpk"), lit(65536L))).cast("long").as("fp_pos"),
        shiftright(col("mpk"), 16).as("fp_hash"))
      .distinct()
  }

  /** q155: winnowed overlap report — doc pairs sharing ≥ [[MinShared]]
    * distinct kept fingerprints, with each side's kept-fingerprint count
    * for a density read. [[MinShared]] sits in a measured gap of the
    * corpus pair distribution at the oracle SFs (sf0.01: reported pairs
    * carry shared_fp 17–91, nothing lands in [9, 16], the coincidental-
    * overlap tail tops out at 8; sf0.001: reported 11–88, tail ≤ 6; at
    * sf0.1's 5000 docs the synthetic vocabulary's coincidental overlaps
    * form a continuum and the threshold is a plain cutoff, not a
    * separator). WinnowingSpec pins the guarantee + separation on
    * planted fixtures.
    */
  def overlapReport(s: SparkSession, d: String): DataFrame =
    overlapFromPosting(keptFpPosting(s, d))

  private[graft] def overlapReportOf(docs: DataFrame): DataFrame =
    overlapFromPosting(keptPostingOf(fingerprintsOf(docs)))

  /** The kept (df ≤ [[MaxDf]]) fingerprint POSTING LIST — one row per
    * kept hash with the sorted array of docs carrying it — as a FrameMemo
    * STORED ARTIFACT over [[fingerprints]]: the inverted index a MOSS
    * store keeps next to the fingerprint table. r22 (guide §2.4/§3.1):
    * q155's per-run plan used to re-derive the df cap with a full-table
    * window and SELF-JOIN the kept stream on fp_hash — planned as a
    * BroadcastHashJoin whose build side was the whole kept table (the
    * q174 anti-pattern). Grouped, the shared-fingerprint pairs fall out
    * of two chained explodes per posting row; the df cap bounds every
    * array at MaxDf = 8 docs, so the in-scan pair fanout is ≤ 28 per
    * hash by construction. Pair multiset is unchanged (each unordered
    * doc pair of a hash passes the < filter once). Priced in Bench's
    * chargram chain.
    */
  private[graft] def keptFpPosting(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "winnowKeptPosting") {
      keptPostingOf(fingerprints(s, d))
    }

  private[graft] def keptPostingOf(fp: DataFrame): DataFrame = {
    // the df cap runs on the flat distinct stream BEFORE grouping (as in
    // ExactSubstr.groupedPosting): a fingerprint carried by every doc is
    // dropped as a count, never collected into one unbounded row
    val flat = fp.select("doc_id", "fp_hash").distinct()
    val kept = flat.groupBy("fp_hash").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf).select("fp_hash")
    flat.join(kept, "fp_hash")
      .groupBy("fp_hash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
  }

  private def overlapFromPosting(kp: DataFrame): DataFrame = {
    // per-doc kept-fingerprint counts, re-derived narrowly from the
    // posting rows (size(ds) ≡ the old per-hash df by construction)
    val nfp = kp.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pairs = kp
      .select(explode(col("ds")).as("da"), col("ds"))
      .select(col("da"), explode(col("ds")).as("db"))
      .filter(col("da") < col("db"))
    pairs
      .groupBy(col("da").as("doc_a"), col("db").as("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= MinShared)
      .join(nfp.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_fp", "fp_a"), "doc_a")
      .join(nfp.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_fp", "fp_b"), "doc_b")
      .select("doc_a", "doc_b", "shared_fp", "fp_a", "fp_b")
      .orderBy(col("shared_fp").desc, col("doc_a"), col("doc_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q155_winnowing_overlap" -> ((s, d) => overlapReport(s, d)))

  val oracleSql: Map[String, String] = Map(
    "q155_winnowing_overlap" ->
      s"""WITH canon AS MATERIALIZED (
         |  SELECT doc_id,
         |         substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
         |                1, $MaxCanon) AS c
         |  FROM documents
         |), grams AS MATERIALIZED (
         |  SELECT doc_id, p,
         |         (${PolyCoef.zipWithIndex.map { case (coef, o) =>
                      s"CAST(ascii(substr(c, p + $o, 1)) AS BIGINT) * $coef"
                    }.mkString(" + ")}) % $HashMod AS h
         |  FROM (
         |    SELECT doc_id, c, unnest(range(1, length(c) - $WinnowK + 2)) AS p
         |    FROM canon WHERE length(c) >= $WinnowK
         |  )
         |), winmin AS MATERIALIZED (
         |  SELECT doc_id, p,
         |         MIN(h * 65536 + (65535 - p)) OVER (
         |           PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mpk,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS n
         |  FROM grams
         |), dh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, mpk // 65536 AS fp_hash
         |  FROM winmin WHERE p <= n - ${WinnowW - 1}
         |), kept AS MATERIALIZED (
         |  SELECT doc_id, fp_hash FROM dh
         |  QUALIFY COUNT(*) OVER (PARTITION BY fp_hash) <= $MaxDf
         |), nfp AS (
         |  SELECT doc_id, COUNT(*) AS n_fp FROM kept GROUP BY doc_id
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(COUNT(*) AS BIGINT) AS shared_fp,
         |       CAST(MIN(na.n_fp) AS BIGINT) AS fp_a,
         |       CAST(MIN(nb.n_fp) AS BIGINT) AS fp_b
         |FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |JOIN nfp na ON na.doc_id = a.doc_id
         |JOIN nfp nb ON nb.doc_id = b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING COUNT(*) >= $MinShared
         |ORDER BY shared_fp DESC, doc_a, doc_b""".stripMargin)
}
