package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.{fingerprint, foldFp, tokens, FoldPrime}

/** q223: SIGNATURE CONTRACT REPLAY — the q220 move applied to the last
  * two rows-only signature queries whose quality evidence lived solely
  * in ScalaTest: q24 (xxhash64 rolling fingerprint) and q28 (xxhash64
  * SimHash pairs). Their registered signatures are non-portable by
  * design (xxhash64 is the fast path), so the gate replays the SHARED
  * MACHINERY under portable hashes and asserts the fast path agrees
  * with that machinery, per sampled document:
  *
  *   - `sig48` rows (method `q28_simhash48`): the [[graft.expressions
  *     .SimHashBits]] vote/pack expression over 48-bit md5-prefix token
  *     hashes — the DuckDB oracle recomputes every vote and bit from
  *     md5(token) and must match bit-for-bit (the q213 "engine runs the
  *     machinery, oracle runs the contract" convention).
  *   - `q24_fingerprint_fold48` rows: [[foldFp]] — q24's rolling fold
  *     factored over pre-hashed tokens — under the same md5-48 hashes;
  *     the oracle replays the fold with DuckDB's list_reduce.
  *   - `xx_consistent` (both methods): the engine-side bridge from the
  *     replayed contract back to the REGISTERED query's exact
  *     expression — `SimHash(toks) == SimHashBits(transform(toks,
  *     xxhash64), 64)` and `fingerprint(text) == foldFp(transform(toks,
  *     xxhash64))` — emitted as a boolean the oracle pins to literal
  *     TRUE (the q220 verdict convention). A divergence between the
  *     single-pass fast paths and the contract-validated machinery
  *     flips the column and breaks the round's hash.
  *
  * Together: oracle validates machinery (md5-48), engine asserts
  * fast-path ≡ machinery (xxhash64), so q24/q28's signatures are
  * driver-hash-gated end to end — closing the r18 verdict's #3 (the
  * last rows-only queries named only by ScalaTest gates).
  *
  * Sample: the md5 hex-prefix rule (`Sampling.hexPrefix == "0"`,
  * ~1/16 of docs, split-independent) — deterministic, replayable, and
  * bounded: the oracle's 48-way vote unnest stays O(sample tokens ·
  * 48), not corpus-scale. Scale shape: the engine side is one narrow
  * per-row pass over the sampled slice (filter pushed to the scan; no
  * shuffle but the presentation sort); at 100 TB the same fixed-rate
  * sample keeps the gate's cost proportional to the AUDIT size, not
  * the corpus.
  */
object SignatureContract extends graft.QueryModule {

  import org.apache.spark.sql.graft.ColumnBridge.{column => asCol, expression => asExpr}

  private def simhashBits(hashes: Column, width: Int): Column =
    asCol(graft.expressions.SimHashBits(asExpr(hashes), width))

  /** 48-bit md5-prefix token hash — the q120 portable-hash convention:
    * DuckDB recomputes it bit-for-bit via ('0x'||substr(md5(w),1,12))
    * ::BIGINT, and 48 bits keeps every downstream sum/shift inside
    * int64 in both engines.
    */
  private def md5h48(t: Column): Column =
    conv(substring(md5(t), 1, 12), 16, 10).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q223_signature_contract" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(Sampling.hexPrefix(col("doc_id"), 1) === "0")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      val md5hs = transform(col("toks"), md5h48(_))
      val xxhs = transform(col("toks"), w => xxhash64(w))
      val rows = docs.select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        explode(array(
          struct(lit("q24_fingerprint_fold48").as("method"),
            foldFp(md5hs).as("sig48"),
            (fingerprint(col("text")) === foldFp(xxhs)).as("xx_consistent")),
          struct(lit("q28_simhash48").as("method"),
            simhashBits(md5hs, 48).as("sig48"),
            (Dedup.simhash(col("toks")) === simhashBits(xxhs, 64))
              .as("xx_consistent")))).as("m"))
      rows.select(col("m.method").as("method"), col("doc_id"),
          col("n_tokens"), col("m.sig48").as("sig48"),
          col("m.xx_consistent").as("xx_consistent"))
        .orderBy("method", "doc_id")
    }))

  val oracleSql: Map[String, String] = Map(
    "q223_signature_contract" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
         |  FROM documents
         |  WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0'
         |), h AS (
         |  SELECT doc_id, len(l) AS n_tokens,
         |         list_transform(l, w -> ('0x' || substr(md5(w), 1, 12))::BIGINT) AS hs
         |  FROM t
         |), tok AS (
         |  SELECT doc_id, unnest(hs) AS h FROM h
         |), votes AS (
         |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM tok, (SELECT unnest(range(48)) AS b) bits
         |  GROUP BY doc_id, b
         |), sig AS (
         |  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS sig48
         |  FROM votes GROUP BY doc_id
         |), fold AS (
         |  SELECT doc_id, list_reduce(
         |           list_prepend(0::BIGINT, list_transform(hs, x -> x % $FoldPrime)),
         |           (a, b) -> (a * 31 + b) % $FoldPrime) AS fp48
         |  FROM h
         |)
         |SELECT 'q24_fingerprint_fold48' AS method, h.doc_id,
         |       CAST(n_tokens AS INTEGER) AS n_tokens,
         |       fold.fp48 AS sig48, TRUE AS xx_consistent
         |FROM h JOIN fold USING (doc_id)
         |UNION ALL
         |SELECT 'q28_simhash48', h.doc_id, CAST(n_tokens AS INTEGER),
         |       sig.sig48, TRUE
         |FROM h JOIN sig USING (doc_id)
         |ORDER BY method, doc_id""".stripMargin)
}
