package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.shingles

/** The word-shingle digest tables as FrameMemo STORED ARTIFACTS — the
  * r18 gram/fingerprint sweep (which took q174 from 3.13 to 1.02 s)
  * extended to the word-n-gram grain, closing the r18 verdict's #2:
  * q179 exploded the full corpus FIVE times per invocation (one per
  * n ∈ NoveltyCurve.Ns), q180 rebuilt its own 5-gram distinct stream
  * per call, and q219 re-exploded the 3-gram stream — all recomputing
  * the same canonical decontamination asset. q219's own scaladoc is
  * the 100 TB justification: the shingle-digest df table is "the table
  * the df-caps should be re-read from" — a production store builds it
  * once per corpus snapshot (the Lee et al. 2022 dedup pipeline
  * materializes exactly this posting asset) and every curve/matrix/
  * profile query reads it.
  *
  * Two grains, each the smallest that serves its consumers:
  *   - [[splitGrams]]: DISTINCT (split, digest) per n — the split-
  *     membership asset. One corpus explosion + one map-side-combined
  *     DISTINCT per n at build; q179's per-n novelty join and q180's
  *     overlap matrix are then group-keyed work over a few-hundred-KB
  *     checkpointed frame. Far smaller than a (doc_id, digest) posting
  *     table: |distinct grams per split|, not |corpus tokens|.
  *   - [[df3]]: (digest, df) document-frequency table at the q26/q219
  *     grain (n = 3) — doc counts are per-doc information the split
  *     grain cannot carry (shingles() is distinct within doc, so one
  *     count per digest IS the doc frequency).
  *
  * Digests are md5 — the q66 convention: md5, never xxhash64, wherever
  * the key itself crosses the engine boundary, so every consumer's
  * DuckDB oracle replays membership bit-for-bit. Builds are priced in
  * Bench's shared_build like the char-gram artifacts (Winnowing
  * .gramFrame chain); on non-snapshot scratch dirs each consumer
  * call materializes per invocation, uncached (FrameMemo contract).
  */
object ShingleStore {

  /** Per-digest split-membership flag table for word n-grams:
    * (gd, in_train, in_validation, in_test), one row per DISTINCT gram
    * digest. The flag grain (vs (split, gd) rows) is deliberate: the
    * novelty curve (q179) and the overlap matrix (q180) only ever ask
    * "is this gram in split A and split B?", and with the flags those
    * are single-scan aggregates over the checkpointed frame — no
    * distincts, no self-join in any consumer. Build cost: one corpus
    * explosion + one map-side-combined groupBy per n.
    */
  private[graft] def splitGrams(s: SparkSession, d: String, n: Int): DataFrame =
    FrameMemo.cached(s, d, s"splitGrams:$n") {
      Tables.documents(s, d)
        .select(Sampling.splitOf(col("doc_id")).as("split"),
          explode(shingles(col("text"), n)).as("g"))
        .select(col("split"), md5(col("g").cast("binary")).as("gd"))
        .groupBy("gd")
        .agg(max(col("split") === "train").as("in_train"),
          max(col("split") === "validation").as("in_validation"),
          max(col("split") === "test").as("in_test"))
    }

  /** (sd, df) 3-gram document-frequency table — the df-cap evidence
    * asset q219 profiles (df = row count per digest because shingles()
    * emits distinct shingles per doc).
    */
  private[graft] def df3(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "shingleDf:3") {
      Tables.documents(s, d)
        .select(explode(shingles(col("text"), 3)).as("sh"))
        .select(md5(col("sh").cast("binary")).as("sd"))
        .groupBy("sd").agg(count(lit(1)).as("df"))
    }
}
