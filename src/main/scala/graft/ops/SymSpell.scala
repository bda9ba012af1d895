package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** SymSpell-style fuzzy vocabulary correction (Garbe's symmetric
  * delete algorithm; the same candidate structure as Norvig's corrector
  * but join-shaped): map out-of-vocabulary tokens — OCR noise, typos,
  * scrape damage — onto their nearest trusted-vocabulary word within
  * Levenshtein distance 1, the lexical-cleanup pass a web-scale text
  * pipeline runs between tokenization and vocabulary building (a
  * typo'd type fragments counts, inflates the vocab, and starves its
  * canonical's frequency).
  *
  * Reference scope: the reference lakehouse cleans VALUES
  * (src/10_silver/bronze_to_silver.py trim/cast); this is the
  * token-level analog for text corpora — no reference twin.
  *
  * The OOV query stream is GENERATED deterministically (the corpus
  * vocabulary is synthetic and uniform — every type occurs 25+ times,
  * so there are no natural typos to correct): each in-band vocabulary
  * word is corrupted by deleting the code point at an md5-derived
  * position (the q160 hash-noise move — both engines derive the same
  * position from the same bytes), already-valid corruptions are
  * anti-joined away, and the corrector must map each survivor back
  * into the vocabulary. This is the q141/q162 out-of-domain-replay
  * discipline: the workload is constructed, the OPERATOR is the real
  * one, and recall is observable (every corruption is distance 1 from
  * its source by construction, so an unmatched row would expose a
  * candidate-generation gap to the driver hash-compare).
  *
  * Mechanism vs semantics: the ORACLE defines the answer semantically —
  * every (noisy, canon) pair with `levenshtein = 1`, best suggestion by
  * (frequency desc, word asc) — as a full DuckDB cross join. The engine
  * never builds that cross product: both sides expand to their
  * symmetric-delete neighborhoods ({w} ∪ single-code-point deletions),
  * candidates come from the key equi-join, and the exact `levenshtein`
  * filter removes false candidates. Recall is exhaustive by the
  * SymSpell argument — d(a,b) ≤ 1 implies a = b (shared identity key),
  * one is a deletion of the other (identity key meets deletion key), or
  * they differ by one substitution (deleting the differing position
  * from each yields the SAME key) — so mechanism ≡ semantics, which the
  * driver hash-compare then proves per round. SymSpellSpec additionally
  * pins the recall argument against a driver-side brute-force sweep and
  * each edit class by hand.
  *
  * Scale shape: the corpus pays the ONE tokenize + word groupBy every
  * tokenizer family already pays; everything after runs on word TYPES
  * (Heaps-sublinear in corpus size). The deletion-key join shuffles
  * ≤ len+1 short keys per type — both sides stay distributed (a
  * frequency-≥-[[CanonMinFreq]] vocabulary at web scale is millions of
  * types, NOT broadcastable; the equi-join on `k` needs no driver
  * model). The verify filter and the (freq, word) argmax are codegen'd;
  * no window over the corpus, no cross product (PlanSpec's global
  * sweep applies).
  */
object SymSpell extends graft.QueryModule {

  /** A type this frequent is trusted vocabulary (suggestion targets). */
  private[graft] val CanonMinFreq = 5L

  /** Only words in this code-point length band are corrupted/corrected:
    * shorter ones match half the lexicon at distance 1 (precision
    * collapses — the standard SymSpell caveat), longer ones are junk
    * tokens. */
  private[graft] val MinLen = 4
  private[graft] val MaxLen = 20

  /** {w} ∪ all single-code-point deletions of w, deduplicated (a
    * repeated character yields the same deletion from adjacent
    * positions). Spark's length/substr count code points, so the
    * neighborhood is code-point-exact (non-BMP pinned in the spec). */
  private[graft] def delKeys(w: Column): Column =
    array_union(array(w), transform(sequence(lit(1), length(w)),
      i => concat(w.substr(lit(1), i - 1), w.substr(i + 1, length(w)))))

  /** 1-based md5-derived deletion position in [1, len] — 8 hex chars
    * (< 2^32) so conv() stays exact in int64 in both engines (the q157
    * bucket-hash discipline). */
  private[graft] def delPos(w: Column): Column =
    pmod(conv(substring(md5(w.cast("binary")), 1, 8), 16, 10).cast("long"),
      length(w).cast("long")).cast("int") + 1

  /** w with the [[delPos]] code point removed. */
  private[graft] def corrupt(w: Column): Column = {
    val p = delPos(w)
    concat(w.substr(lit(1), p - 1), w.substr(p + 1, length(w)))
  }

  /** (word, n) corpus frequency table — the tokenizer families' shape. */
  private def wordFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** The corrector proper: OOV query words against a (word, n) trusted
    * vocabulary — exposed for the spec to run on hand-built typo
    * fixtures. Output keeps unmatched queries with a null suggestion
    * (the OOV-that-can't-be-normalized report rows). */
  private[graft] def correct(noisy: DataFrame, canon: DataFrame): DataFrame = {
    val noisyKeys = noisy.select(col("word"),
      explode(delKeys(col("word"))).as("k"))
    // delKeys must read the SOURCE column: referencing the `sugg`
    // alias from the same select puts a lateral-column-alias ref
    // under the generator, which Catalyst rejects as INTERNAL_ERROR
    val canonKeys = canon.select(col("word").as("sugg"),
      col("n").as("n_sugg"), explode(delKeys(col("word"))).as("k"))
    val cand = noisyKeys.join(canonKeys, Seq("k"))
      .filter(levenshtein(col("word"), col("sugg")) === 1)
    // deterministic argmax: highest-frequency suggestion, then
    // lexicographically first — one two-phase aggregate, no window;
    // the winner's frequency IS max(n_sugg), so no struct unpacking
    val best = cand.groupBy("word")
      .agg(min_by(col("sugg"), struct((-col("n_sugg")).as("neg"),
          col("sugg").as("s"))).as("sugg"),
        max(col("n_sugg")).as("n_sugg"))
    noisy.select("word").join(best, Seq("word"), "left")
      .select("word", "sugg", "n_sugg")
      .orderBy("word")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_symspell_correct" -> ((s, d) => {
      // one corpus pass; the vocabulary, the trusted slice, and the
      // corrupted query stream are all type-table-sized derivations
      val freq = wordFreq(s, d).localCheckpoint()
      val canon = freq.filter(col("n") >= CanonMinFreq)
      val noisy = freq
        .filter(length(col("word")).between(MinLen, MaxLen))
        .select(corrupt(col("word")).as("word")).distinct()
        .join(freq.select("word"), Seq("word"), "left_anti")
      correct(noisy, canon)
    }))

  val oracleSql: Map[String, String] = Map(
    // the SEMANTIC definition: full noisy×canon sweep under levenshtein
    // — DuckDB affords the cross product the engine must never plan
    "q164_symspell_correct" ->
      s"""WITH freq AS MATERIALIZED (
         |  SELECT token AS word, COUNT(*) AS n
         |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |        FROM documents)
         |  GROUP BY token
         |), canon AS (
         |  SELECT word, n FROM freq WHERE n >= $CanonMinFreq
         |), noisy AS (
         |  SELECT word FROM (
         |    SELECT DISTINCT substr(word, 1, p - 1) || substr(word, p + 1) AS word
         |    FROM (SELECT word,
         |            1 + CAST(CAST('0x' || substr(md5(word), 1, 8) AS UBIGINT) AS BIGINT)
         |                % length(word) AS p
         |          FROM freq WHERE length(word) BETWEEN $MinLen AND $MaxLen)
         |  ) WHERE word NOT IN (SELECT word FROM freq)
         |), cand AS (
         |  SELECT r.word, c.word AS sugg, c.n AS n_sugg
         |  FROM noisy r JOIN canon c ON levenshtein(r.word, c.word) = 1
         |), best AS (
         |  SELECT word, sugg, n_sugg,
         |         ROW_NUMBER() OVER (PARTITION BY word
         |                            ORDER BY n_sugg DESC, sugg) AS rk
         |  FROM cand
         |)
         |SELECT r.word, b.sugg, b.n_sugg
         |FROM noisy r LEFT JOIN best b ON r.word = b.word AND b.rk = 1
         |ORDER BY r.word""".stripMargin)
}
