package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Sequence-packing input: id + shard + clamped token budget. */
private[ops] case class PackIn(doc_id: Long, shard: String, tok: Long)

/** Sequence-packing output: the bin each doc landed in (1-based,
  * per-shard) plus its token cost. */
private[ops] case class PackOut(doc_id: Long, shard: String, bin_seq: Long, tok: Long)

/** The last-mile corpus-preparation operators between the curation
  * verdict (TextAnalysis q50 / CorpusSignals q69) and the trainer:
  * packing documents into fixed context windows (q70), PII redaction
  * (q71), and corpus-frequency token scoring (q72). Reference scope:
  * the reference lakehouse has no text layer at all (its silver
  * cleaning is per-row casts/trims — reference
  * src/10_silver/bronze_to_silver.py); these extend the training-data
  * surface the driver prompt asks for.
  *
  * Scale shapes:
  *   - q70: ONE hash exchange on the shard key, then a single-pass
  *     O(rows) fold per shard with O(1) state (a running fill counter).
  *     Shard count is the parallelism knob: 16 here, thousands at
  *     100 TB. The fold is the textbook case where no relational
  *     operator fits (next-fit packing is order-dependent with a
  *     carry), so it runs as typed `mapPartitions` — the documented
  *     last-resort shape, and the text itself never enters the plan
  *     (only (doc_id, shard, tok) rows move).
  *   - q71: pure narrow per-row regex work (codegen'd built-ins, no
  *     UDF); the only exchange is the presentation sort.
  *   - q72: explode → two-phase count per token → join back → per-doc
  *     aggregate. Exchanges carry (doc_id, token) and (token, count)
  *     pairs — short tokens, never documents. All derived doubles are
  *     single divisions of exact integers, so results are bit-stable
  *     under any shuffle order (the oracle compares floats exactly).
  */
object CorpusPrep extends graft.QueryModule {

  /** Context-window token budget for q70 (tokens, chars/4 estimate). */
  val ContextTokens = 2048L

  /** A token's corpus frequency at or below this marks it "rare" (q72). */
  val RareCount = 3L

  /** chars/4 token estimate, clamped to one context window: an
    * over-long doc is truncated by the trainer, so it costs exactly one
    * full window. Null-size docs cost 0 (a null would NPE the typed
    * fold's non-nullable Long). */
  private def tokEstimate(nChars: Column): Column =
    least(ceil(coalesce(nChars, lit(0L)).cast("double") / lit(4.0)),
      lit(ContextTokens)).cast("long")

  /** md5 hex prefix of the doc id — the packing shard. The PREFIX
    * LENGTH is the parallelism knob: 1 char = 16 shards (the registered
    * q70, sized to the test corpus), 4 chars = 65k shards for a corpus
    * of billions — shard sizes stay ~uniform because the hash is.
    * md5 (not xxhash64) so the oracle can replay the sharding. */
  private def shardOf(id: Column, chars: Int): Column =
    substring(md5(id.cast("string").cast("binary")), 1, chars)

  /** Next-fit packing per shard: docs in doc_id order; a doc that no
    * longer fits seals the current bin and opens the next. Exposed for
    * the spec's invariant checks (fill ≤ budget, bins contiguous).
    */
  private[graft] def packSequences(s: SparkSession, d: String,
                                   shardChars: Int = 1): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      shardOf(col("doc_id"), shardChars).as("shard"),
      tokEstimate(col("n_chars")).as("tok"))
    base.as[PackIn]
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .mapPartitions { it =>
        // a partition holds >=0 whole shards (hash partitioning never
        // splits one); reset the fold state at each shard change
        var shard: String = null
        var fill = 0L
        var bin = 0L
        it.map { r =>
          if (r.shard != shard) { shard = r.shard; bin = 0L; fill = Long.MaxValue }
          // overflow-safe "fill + tok > budget" (fill starts at MaxValue
          // to force the first bin; tok <= budget keeps the rhs >= 0)
          if (fill > ContextTokens - r.tok) { bin += 1; fill = r.tok }
          else fill += r.tok
          PackOut(r.doc_id, r.shard, bin, r.tok)
        }
      }
      .toDF()
  }

  // --- q71 PII patterns: identical Java-regex / RE2 semantics (no
  // alternation, no lookaround — leftmost-greedy in both engines) ---
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Deterministic PII injection for the registered q71 surface: the
    * driver corpus is synthetic word salad with no PII, so — like the
    * reference's dirty-data injection (reference
    * src/00_generate_raw/generate_energy_emissions.py:61-66) — the
    * query plants reproducible PII for a known doc subset, then scrubs
    * it. Both engines build the identical string, so the oracle
    * replays the whole round trip. */
  private def withPii(text: Column, id: Column): Column = {
    val idStr = id.cast("string")
    concat(
      text,
      when(id % 7 === 0,
        concat(lit(" contact user"), idStr, lit("@mail.example.com now")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" from host 10.0."), (id % 250).cast("string"), lit(".77")))
        .otherwise(lit("")),
      when(id % 11 === 0,
        concat(lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"), lit("-0199")))
        .otherwise(lit("")))
  }

  /** Scrub order matters only for overlapping matches; these three
    * classes are disjoint (emails contain '@'; IPs are dotted digits;
    * phones are dashed digits). Exposed for the fixture spec. */
  private[graft] def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPat, "<EMAIL>"),
        Ipv4Pat, "<IP>"),
      PhonePat, "<PHONE>")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sequence packing: assign every doc to a fixed-2048-token context
    // window (next-fit per md5 shard). The per-doc assignment is the
    // trainer's shuffle-free manifest: (shard, bin_seq) is a stable
    // address, reproducible across runs and retries.
    "q70_pack_sequences" -> ((s, d) => packSequences(s, d).orderBy("doc_id")),

    // PII redaction: count + mask emails / IPv4s / phone numbers.
    // Narrow per-row regex work; the masked text reduces to its md5 so
    // the full round trip is hash-compared without shipping the text.
    "q71_pii_scrub" -> ((s, d) => {
      val t2 = withPii(col("text"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), t2.as("t2"))
        .select(
          col("doc_id"),
          regexp_count(col("t2"), lit(EmailPat)).as("n_emails"),
          regexp_count(col("t2"), lit(Ipv4Pat)).as("n_ips"),
          regexp_count(col("t2"), lit(PhonePat)).as("n_phones"),
          (length(col("t2")) - length(scrub(col("t2")))).as("chars_redacted"),
          md5(scrub(col("t2")).cast("binary")).as("masked_md5"))
        .orderBy("doc_id")
    }),

    // corpus-frequency token scoring (the exact-arithmetic core of a
    // unigram-LM quality filter): per doc, how common are its tokens in
    // the whole corpus? sum/min of corpus counts are exact BIGINTs; the
    // mean and the rare-token fraction are single divisions of those
    // exact integers (bit-stable); rare_frac feeds an OOV-style gate.
    "q72_token_rarity" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      toks.join(counts, Seq("tok"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          min(col("c")).as("min_count"),
          sum(col("c")).as("sum_count"),
          sum(when(col("c") <= RareCount, 1L).otherwise(0L)).as("n_rare"))
        .select(
          col("doc_id"), col("n_tokens"), col("min_count"), col("sum_count"),
          (col("sum_count").cast("double") / col("n_tokens")).as("avg_token_count"),
          (col("n_rare").cast("double") / col("n_tokens")).as("rare_frac"))
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // the same next-fit fold as a per-shard recursive CTE walking rows
    // in doc_id order (recursion depth = max rows per shard)
    "q70_pack_sequences" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id,
         |         substr(md5(doc_id::VARCHAR), 1, 1) AS shard,
         |         LEAST(CAST(ceil(COALESCE(n_chars, 0) / 4.0) AS BIGINT), $ContextTokens) AS tok,
         |         ROW_NUMBER() OVER (PARTITION BY substr(md5(doc_id::VARCHAR), 1, 1)
         |                            ORDER BY doc_id) AS rn
         |  FROM documents
         |), pack AS (
         |  SELECT shard, rn, doc_id, tok, CAST(1 AS BIGINT) AS bin_seq, tok AS fill
         |  FROM docs WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.rn, d.doc_id, d.tok,
         |         CASE WHEN p.fill + d.tok > $ContextTokens THEN p.bin_seq + 1
         |              ELSE p.bin_seq END,
         |         CASE WHEN p.fill + d.tok > $ContextTokens THEN d.tok
         |              ELSE p.fill + d.tok END
         |  FROM pack p JOIN docs d ON d.shard = p.shard AND d.rn = p.rn + 1
         |)
         |SELECT doc_id, shard, bin_seq, tok FROM pack ORDER BY doc_id""".stripMargin,

    "q71_pii_scrub" ->
      s"""WITH pii AS (
         |  SELECT doc_id,
         |         text
         |         || CASE WHEN doc_id % 7 = 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
         |              ELSE '' END
         |         || CASE WHEN doc_id % 5 = 0
         |              THEN ' from host 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.77'
         |              ELSE '' END
         |         || CASE WHEN doc_id % 11 = 0
         |              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
         |              ELSE '' END AS t2
         |  FROM documents
         |), masked AS (
         |  SELECT doc_id, t2,
         |         regexp_replace(
         |           regexp_replace(
         |             regexp_replace(t2, '$EmailPat', '<EMAIL>', 'g'),
         |             '$Ipv4Pat', '<IP>', 'g'),
         |           '$PhonePat', '<PHONE>', 'g') AS m
         |  FROM pii
         |)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t2, '$EmailPat')) AS INTEGER) AS n_emails,
         |       CAST(len(regexp_extract_all(t2, '$Ipv4Pat')) AS INTEGER) AS n_ips,
         |       CAST(len(regexp_extract_all(t2, '$PhonePat')) AS INTEGER) AS n_phones,
         |       CAST(length(t2) - length(m) AS INTEGER) AS chars_redacted,
         |       md5(m) AS masked_md5
         |FROM masked ORDER BY doc_id""".stripMargin,

    "q72_token_rarity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents
         |), counts AS (
         |  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
         |)
         |SELECT doc_id,
         |       COUNT(*) AS n_tokens,
         |       CAST(MIN(c) AS BIGINT) AS min_count,
         |       CAST(SUM(c) AS BIGINT) AS sum_count,
         |       CAST(SUM(c) AS DOUBLE) / COUNT(*) AS avg_token_count,
         |       CAST(SUM(CASE WHEN c <= $RareCount THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         |         AS rare_frac
         |FROM toks JOIN counts USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
