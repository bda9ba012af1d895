package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-hygiene signals a training-data pipeline computes between raw
  * ingest and the curation verdict (cf. the quality/dedup cascade in
  * TextAnalysis q50): within-document repetition, cross-document
  * boilerplate, benchmark decontamination, and the guarded end-to-end
  * cascade composing all of them (q69). Reference scope: the reference
  * lakehouse stops at per-row cleaning (reference
  * src/10_silver/bronze_to_silver.py trim/cast/impute); these are the
  * corpus-level extensions a 100 TB text pipeline adds on top.
  *
  * Scale shapes:
  *   - q64: repetition stats are per-doc — the duplicate-trigram
  *     fraction is a pure narrow transform, and the top-bigram fraction
  *     is a two-phase hash aggregation over exploded (doc_id, hash)
  *     whose map-side partials collapse each doc's repeats before the
  *     one shuffle. Nothing global, no text in any exchange.
  *   - q65: boilerplate detection shuffles md5 gram digests only (the
  *     gram strings never enter an exchange) — one doc-frequency
  *     aggregation + one semi-join back to the posting.
  *   - q66: the benchmark side of decontamination is tiny in practice
  *     (a handful of eval suites vs the corpus), so its distinct gram
  *     digests broadcast and the train-side scan stays shuffle-free up
  *     to the per-doc overlap count.
  *   - q69: the union of the above — every exchange carries ids,
  *     scores, hashes, or digests; the documents themselves never
  *     shuffle (pinned in PlanSpec alongside q50/q52).
  */
object CorpusSignals extends graft.QueryModule {

  /** A distinct 5-gram present in at least this many docs is
    * boilerplate (headers, license blurbs, navigation chrome). */
  val BoilerplateMinDf = 3

  /** Gopher-style repetition gates: docs whose most frequent bigram
    * covers more than [[TopBigramGate]] of all bigram positions, or
    * whose trigram positions are more than [[DupTrigramGate]] repeats,
    * are flagged repetitive.
    */
  val TopBigramGate = 0.18
  val DupTrigramGate = 0.30

  /** q69 drops a doc whose distinct 5-grams are mostly boilerplate. */
  val BoilerplateFracGate = 0.5

  /** Held-out-test membership — BY CONSTRUCTION the same rule q54
    * assigns (Sampling.splitOf), which q66/q69/q74 decontaminate
    * against: a retuned split can never diverge from the target here.
    */
  private def isTestSplit(doc: Column): Column =
    Sampling.splitOf(doc) === "test"

  /** Fixed-width digest of a gram: the only thing q65/q66/q69 ever
    * shuffle or broadcast — md5 (not xxhash64) where the key itself
    * crosses an engine boundary, so the oracle can replay it exactly. */
  private def gramDigest(g: Column): Column = md5(g.cast("binary"))

  /** Per-doc distinct 5-gram sets + split tag: the shared unit of
    * q65/q66/q69. */
  private def fiveGramDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"), shingles(col("text"), 5).as("sh"))
      .withColumn("n_grams", size(col("sh")))
      .withColumn("is_test", isTestSplit(col("doc_id")))

  /** Per-doc 5-gram metadata (doc_id, lang, is_test, n_grams) as a
    * FrameMemo stored artifact (r19 sweep #3) — the doc-catalog side of
    * the decontamination asset; no gram arrays, ~30 B/doc.
    */
  private[graft] def fiveGramMeta(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "fiveGramMeta") {
      fiveGramDocs(s, d).select("doc_id", "lang", "is_test", "n_grams")
    }

  /** The doc-grain 5-gram digest posting (doc_id, is_test, gd) as a
    * FrameMemo stored artifact (r19 sweep #3) — THE decontamination
    * posting table (the Lee et al. stored asset) that q65/q66/q69/q163
    * each rebuilt per invocation before: one corpus explosion at build,
    * then every consumer is posting-sized filters/joins over the
    * checkpointed 40-byte rows.
    */
  private[graft] def fiveGramPosting(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "fiveGramPosting") {
      val docs = fiveGramDocs(s, d)
      docs.filter(col("n_grams") > 0)
        .select(col("doc_id"), col("is_test"), explode(col("sh")).as("g"))
        .select(col("doc_id"), col("is_test"), gramDigest(col("g")).as("gd"))
    }

  /** q64's per-doc repetition signals, unsorted (q69 joins the flag). */
  private[graft] def repetitionSignals(s: SparkSession, d: String): DataFrame =
    // FrameMemo stored artifact (r19 sweep #3): q64 presents it, q69's
    // cascade joins the flag — one two-pass build per snapshot
    FrameMemo.cached(s, d, "repSignals")(buildRepetitionSignals(s, d))

  private def buildRepetitionSignals(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      ngrams(col("text"), 2).as("bg"),
      ngrams(col("text"), 3).as("tg"))
      .withColumn("dup_trigram_frac",
        when(size(col("tg")) === 0, lit(0.0)).otherwise(
          (size(col("tg")) - size(array_distinct(col("tg"))))
            .cast("double") / size(col("tg"))))
    // count on the 8-byte gram hash, not the string: only the counts
    // reach the output, so the exchange carries (doc_id, hash) rows —
    // the q26-posting convention (equal counts modulo ~n²/2⁶⁴
    // collision odds)
    val top = base.select(col("doc_id"), explode(col("bg")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
    base.select("doc_id", "n_tokens", "dup_trigram_frac")
      .join(top, Seq("doc_id"), "left") // sub-2-token docs have no bigrams
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("top_bigram_n", coalesce(col("top_bigram_n"), lit(0L)))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("top_bigram_n").cast("double") / col("n_bigrams")))
      .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
        col("top_bigram_n"), col("top_bigram_frac"), col("dup_trigram_frac"))
      .withColumn("repetitive",
        (col("top_bigram_frac") > TopBigramGate ||
          col("dup_trigram_frac") > DupTrigramGate).cast("int"))
  }

  /** (doc_id, lang, sh, n_grams) exploded to (doc_id, gram digest). */
  private def gramPosting(docs: DataFrame): DataFrame =
    docs.filter(col("n_grams") > 0)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), gramDigest(col("g")).as("gd"))

  /** q74's verification threshold: a train doc whose 3-gram Jaccard
    * against some test doc reaches this is a paraphrase-level leak. */
  val FuzzyJaccardGate = 0.5

  /** Fuzzy benchmark decontamination — the sub-quadratic companion to
    * q66's exact-gram overlap: q66 catches verbatim gram leaks, this
    * catches PARAPHRASED test documents (reordered/lightly edited
    * copies that share few exact 5-grams but high 3-gram-set Jaccard).
    * Bipartite MinHash LSH: one signature pass over every doc, band
    * keys on both sides, candidates only where a train and a test doc
    * share a band bucket, then exact Jaccard verification of the
    * candidates (precision 1 — LSH decides what gets COMPARED, never
    * what gets FLAGGED). At 100 TB the shapes hold: signatures are 32
    * longs/doc, the band join carries (doc_id, 8-byte key) rows, and
    * the quadratic exact-verify runs only on the candidate set.
    */
  private[graft] def fuzzyContamination(s: SparkSession, d: String,
                                        threshold: Double): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      isTestSplit(col("doc_id")).as("is_test"),
      shingles(col("text"), 3).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
    // only (doc_id, is_test, sig) materializes — 32 longs per doc; the
    // shingle arrays are recomputed for the candidate verification join
    // (the q27 convention: keep array blocks out of the block store)
    val sigs = docs.select(col("doc_id"), col("is_test"),
      Dedup.minhashSignature(col("sh")).as("sig"))
      .localCheckpoint()
    val bands = sigs.select(col("doc_id"), col("is_test"),
      explode(Dedup.minhashBandKeys(col("sig"))).as("bkey"))
    val cand = bands.filter(!col("is_test")).as("a")
      .join(bands.filter(col("is_test")).as("b"), col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("train_id"), col("b.doc_id").as("test_id"))
      .distinct()
    val sets = docs.select(col("doc_id"), col("sh"), col("n_sh"))
    cand
      .join(sets.select(col("doc_id").as("train_id"),
        col("sh").as("sh_a"), col("n_sh").as("n_a")), "train_id")
      .join(sets.select(col("doc_id").as("test_id"),
        col("sh").as("sh_b"), col("n_sh").as("n_b")), "test_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_test_matches"),
        max(col("jaccard")).as("best_jaccard"))
      .join(docs.select(col("doc_id").as("train_id"), col("lang")), "train_id")
      .select("train_id", "lang", "n_test_matches", "best_jaccard")
      .orderBy("train_id")
  }

  /** q163 Bloom sizing: 2^17 bits (16 KiB as 2048 longs) at
    * [[BloomHashes]]=3 probes holds ~12k test grams under 1% FP
    * (ε ≈ (1−e^(−kn/m))^k); at a 10M-gram eval union the same math
    * says m=2^27 (16 MiB) — still a scalar broadcast next to the
    * 320 MB+ hash relation q66's plain semi-join would ship.
    */
  private[graft] val BloomBits = 1 << 17
  private[graft] val BloomHashes = 3

  /** The i-th Bloom probe position for a gram digest: xxhash64 over
    * (digest, probe-index) folded into [0, bits). Engine-only — the
    * oracle never sees these (the exact verify join restores q66's
    * answer regardless of the bit pattern).
    */
  private def bloomPos(gd: Column, i: Int, bits: Int): Column =
    pmod(xxhash64(gd, lit(i)), lit(bits.toLong))

  /** Build the Bloom bit array from the distinct test-gram digests.
    * The collect is bounded by the FILTER geometry (≤ bits/64 longs'
    * worth of distinct positions — 2048 rows here), never by corpus
    * volume: the collected-model pattern (IVF centroids, q161 merge
    * rows). */
  private[graft] def bloomBitmap(grams: DataFrame, bits: Int): Array[Long] = {
    val pos = grams.select(explode(array((0 until BloomHashes).map(i =>
        bloomPos(col("gd"), i, bits)): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val bm = new Array[Long](bits / 64)
    pos.foreach(p => bm((p >> 6).toInt) |= (1L << (p & 63)))
    bm
  }

  /** All-k-bits-set membership test as pure codegen arithmetic over a
    * literal long array: word = shiftright(pos, 6), bit = pos & 63.
    * The array literal is materialized once per generated class, not
    * per row. */
  private[graft] def bloomHit(gd: Column, bm: Array[Long]): Column = {
    val bmLit = typedLit(bm.toSeq)
    val bits = bm.length * 64
    (0 until BloomHashes).map { i =>
      val h = bloomPos(gd, i, bits)
      val word = element_at(bmLit,
        call_function("shiftright", h, lit(6)).cast("int") + 1)
      // unsigned shift + bitwise AND: a set bit 63 makes the word
      // negative; an arithmetic shift would smear the sign, and a
      // `% 2` parity test follows the dividend's sign (a zero shift
      // leaves the word negative → -1, not 1)
      call_function("shiftrightunsigned", word, (h % 64).cast("int"))
        .bitwiseAND(lit(1L)) === 1
    }.reduce(_ && _)
  }

  /** q163 body, parameterized on the bitmap size so the spec can force
    * false positives with a deliberately tiny filter and pin that the
    * answer never moves (verification independence of the Bloom
    * geometry). */
  private[graft] def decontaminateBloom(s: SparkSession, d: String,
                                        bits: Int): DataFrame = {
    val posting = fiveGramPosting(s, d)
    val testGrams = posting.filter(col("is_test"))
      .select("gd").distinct()
    val bm = bloomBitmap(testGrams, bits)
    val overlap = posting.filter(!col("is_test"))
      .filter(bloomHit(col("gd"), bm))
      .join(broadcast(testGrams), Seq("gd"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    fiveGramMeta(s, d).filter(!col("is_test"))
      .select(col("doc_id"), col("lang"), col("n_grams"))
      .join(overlap, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", (col("n_overlap") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** Bloom funnel over the distinct TRAIN grams (spec hook):
    * (trials, candidates, true members) — false positives are
    * candidates − members, out of trials − members non-member probes. */
  private[graft] def bloomCandidates(s: SparkSession, d: String,
                                     bits: Int): (Long, Long, Long) = {
    val docs = fiveGramDocs(s, d)
    val testGrams = gramPosting(docs.filter(col("is_test")))
      .select("gd").distinct().localCheckpoint()
    val bm = bloomBitmap(testGrams, bits)
    val trainGrams = gramPosting(docs.filter(!col("is_test")))
      .select("gd").distinct().localCheckpoint()
    val cand = trainGrams.filter(bloomHit(col("gd"), bm))
    val trials = trainGrams.count()
    val hits = cand.count()
    val real = cand.join(broadcast(testGrams), Seq("gd")).count()
    org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(testGrams)
    org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(trainGrams)
    (trials, hits, real)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // within-doc repetition (Gopher-style quality gates): fraction of
    // bigram positions covered by the single most frequent bigram +
    // fraction of trigram positions that are repeats. The trigram part
    // never leaves the row; the bigram mode needs only the max count
    // per doc, so it's explode → count(doc, hash) → max/sum — all
    // hash-aggregable, no window, no sort.
    "q64_doc_repetition" -> ((s, d) => repetitionSignals(s, d).orderBy("doc_id")),

    // cross-doc boilerplate: distinct 5-grams appearing in >=
    // BoilerplateMinDf docs, reported as a per-doc contamination
    // fraction. shingles() emits distinct grams per doc, so the gram
    // digest's plain count IS its document frequency.
    "q65_boilerplate_ngrams" -> ((s, d) => {
      // the stored posting artifact (r19): the df aggregation and the
      // per-doc join both read the checkpointed 40-byte rows — no
      // per-call explosion or localCheckpoint
      val posting = fiveGramPosting(s, d)
      val boiler = posting.groupBy("gd").agg(count(lit(1)).as("df"))
        .filter(col("df") >= BoilerplateMinDf)
        .select("gd")
      val perDoc = posting.join(boiler, Seq("gd"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
      fiveGramMeta(s, d).select(col("doc_id"), col("lang"), col("n_grams"))
        .join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
        .withColumn("boiler_frac",
          when(col("n_grams") === 0, lit(0.0))
            .otherwise(col("n_boiler").cast("double") / col("n_grams")))
        .orderBy("doc_id")
    }),

    // benchmark decontamination: flag every non-test doc sharing any
    // distinct 5-gram with the q54 held-out test split. The test side
    // collapses to distinct gram digests and broadcasts (an eval suite
    // is tiny next to the corpus); the train side is then a narrow scan
    // + broadcast semi-join — no shuffle until the per-doc count.
    "q66_decontaminate" -> ((s, d) => {
      // both sides read the stored posting artifact (r19): the test
      // side collapses to distinct digests and broadcasts, the train
      // side is a filter over the same checkpointed rows
      val posting = fiveGramPosting(s, d)
      val testGrams = posting.filter(col("is_test"))
        .select("gd").distinct()
      val overlap = posting.filter(!col("is_test"))
        .join(broadcast(testGrams), Seq("gd"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      fiveGramMeta(s, d).filter(!col("is_test"))
        .select(col("doc_id"), col("lang"), col("n_grams"))
        .join(overlap, Seq("doc_id"), "left")
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
        .withColumn("contaminated", (col("n_overlap") > 0).cast("int"))
        .orderBy("doc_id")
    }),

    // q66 through a BLOOM PREFILTER — the shape Spark's own runtime
    // bloom-filter join injection uses, made explicit: the test-split
    // gram set compresses to a BloomBits-bit array (16 KiB vs a
    // broadcast hash relation whose probe-side entries are 32-byte
    // digests — at web scale an eval union holds 10M+ grams and the
    // hash relation stops being free), every train gram pays k
    // xxhash64+bit-test probes (codegen arithmetic, no join), and only
    // the ~FP-rate survivors reach the exact broadcast join that
    // removes false positives. Result is therefore IDENTICAL to q66 —
    // the oracle replays q66's SQL verbatim; the Bloom stage can only
    // change the plan, never the answer (BloomSpec forces FPs with a
    // deliberately small bitmap and pins result-invariance).
    "q163_decontaminate_bloom" -> ((s, d) => decontaminateBloom(s, d, BloomBits)),

    // paraphrase-level decontamination: MinHash-LSH candidates between
    // the train and test splits, exact-Jaccard-verified. Rows-only (the
    // signature is hash-derived); CorpusSignalsSpec gates recall against
    // a bipartite exact-Jaccard sweep and pins constructed leaks.
    "q74_decontaminate_fuzzy" -> ((s, d) =>
      fuzzyContamination(s, d, FuzzyJaccardGate)),

    // q66 with EVIDENCE — what makes a decontamination run reviewable:
    // not just "doc 17 is contaminated" but WHICH test doc it leaks and
    // the first shared 5-gram, per (train, test) pair with the distinct
    // shared-gram count. Scale shape: per-doc gram sets dedup IN-ROW
    // (array_distinct before explode — zero pre-join shuffle, unlike a
    // posting-level distinct which would shuffle every train gram
    // string); the test posting broadcasts (an eval suite is tiny by
    // definition — same q66 assumption); so the only exchange carries
    // the MATCHED evidence rows, i.e. contamination volume, not corpus
    // volume. min(gram) is the deterministic evidence pick (binary
    // string order agrees cross-engine).
    "q146_contamination_evidence" -> ((s, d) => {
      val docs = fiveGramDocs(s, d)
      val testPost = docs.filter(col("is_test"))
        .select(col("doc_id").as("test_doc_id"),
          explode(array_distinct(col("sh"))).as("g"))
      val trainPost = docs.filter(!col("is_test"))
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("g"))
      trainPost.join(broadcast(testPost), Seq("g"))
        .groupBy("doc_id", "test_doc_id")
        .agg(count(lit(1)).as("n_shared"), min(col("g")).as("first_gram"))
        .orderBy("doc_id", "test_doc_id")
    }),

    // the GUARDED end-to-end curation cascade — q50 extended with the
    // hygiene signals: the held-out test split is excluded outright
    // (it is not training data), then every train doc gets exactly one
    // prioritized verdict:
    //   duplicate > contaminated > repetitive > boilerplate >
    //   quality > lang_mismatch > keep.
    // Exact-dup canon is computed among TRAIN docs only (a train doc
    // whose sole twin sits in the test split is contamination, not a
    // duplicate). Scale shape: narrow scoring; exchanges carry ids,
    // scores, digests, and hashes — never the documents.
    "q69_corpus_curation_guarded" -> ((s, d) => {
      // every corpus-scale input arrives as a stored artifact (r19):
      // scored docs, the 5-gram posting/meta, repetition signals — the
      // cascade itself is filters/joins over checkpointed frames
      val train = fiveGramMeta(s, d).filter(!col("is_test"))
      val trainScored = TextAnalysis.scoredDocs(s, d)
        .join(train.select("doc_id", "n_grams"), Seq("doc_id"))
      // contamination flag (q66's broadcast shape, flag only)
      val allPosting = fiveGramPosting(s, d)
      val testGrams = allPosting.filter(col("is_test"))
        .select("gd").distinct()
      val posting = allPosting.filter(!col("is_test"))
      val contaminated = posting
        .join(broadcast(testGrams), Seq("gd"))
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(1))
      // boilerplate fraction among train docs (q65's digest shape; df
      // counted over the post-exclusion corpus — what training sees)
      val boiler = posting.groupBy("gd").agg(count(lit(1)).as("df"))
        .filter(col("df") >= BoilerplateMinDf)
        .select("gd")
      val boilerCounts = posting.join(boiler, Seq("gd"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
      val rep = repetitionSignals(s, d).select("doc_id", "repetitive")
      val canon = trainScored.groupBy("digest").agg(min(col("doc_id")).as("canon_id"))
      trainScored
        .join(canon, Seq("digest"))
        .join(contaminated, Seq("doc_id"), "left")
        .join(rep, Seq("doc_id"), "left")
        .join(boilerCounts, Seq("doc_id"), "left")
        .withColumn("boiler_frac",
          when(col("n_grams") === 0, lit(0.0))
            .otherwise(coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_grams")))
        .withColumn("verdict",
          when(col("doc_id") =!= col("canon_id"), "drop_duplicate")
            .when(col("contaminated") === 1, "drop_contaminated")
            .when(col("repetitive") === 1, "drop_repetitive")
            .when(col("boiler_frac") > BoilerplateFracGate, "drop_boilerplate")
            .when(col("quality") < 0.5, "drop_quality")
            .when(col("predicted") =!= col("lang"), "drop_lang_mismatch")
            .otherwise("keep"))
        .groupBy("lang", "verdict")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("quality").cast("decimal(18,9)")).cast("double").as("sum_quality"))
        .orderBy("lang", "verdict")
    })
  )

  /** Tokenized docs + the q64 gram lists as DuckDB CTEs. */
  private val GramCtes =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), grams AS (
      |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
      |         CASE WHEN len(w) >= 2
      |           THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
      |           ELSE [] END AS bg,
      |         CASE WHEN len(w) >= 3
      |           THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]
      |           ELSE [] END AS tg
      |  FROM toks
      |)""".stripMargin

  /** The q64 signal pipeline ending in a `rep_flags(doc_id, n_tokens,
    * n_bigrams, top_bigram_n, top_bigram_frac, dup_trigram_frac,
    * repetitive)` relation — shared by the q64 and q69 oracles.
    */
  private val RepetitionCtes =
    s"""$GramCtes, rep AS (
       |  SELECT doc_id, n_tokens,
       |         CASE WHEN len(tg) = 0 THEN 0.0
       |              ELSE CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg)
       |              END AS dup_trigram_frac
       |  FROM grams
       |), top AS (
       |  SELECT doc_id, MAX(n) AS top_bigram_n, CAST(SUM(n) AS BIGINT) AS n_bigrams
       |  FROM (SELECT doc_id, g, COUNT(*) AS n
       |        FROM (SELECT doc_id, UNNEST(bg) AS g FROM grams)
       |        GROUP BY doc_id, g)
       |  GROUP BY doc_id
       |), rep_joined AS (
       |  SELECT r.doc_id, r.n_tokens,
       |         COALESCE(t.n_bigrams, 0) AS n_bigrams,
       |         COALESCE(t.top_bigram_n, 0) AS top_bigram_n,
       |         CASE WHEN COALESCE(t.n_bigrams, 0) = 0 THEN 0.0
       |              ELSE CAST(t.top_bigram_n AS DOUBLE) / t.n_bigrams END AS top_bigram_frac,
       |         r.dup_trigram_frac
       |  FROM rep r LEFT JOIN top t ON r.doc_id = t.doc_id
       |), rep_flags AS (
       |  SELECT *,
       |         CAST(top_bigram_frac > $TopBigramGate
       |              OR dup_trigram_frac > $DupTrigramGate AS INTEGER) AS repetitive
       |  FROM rep_joined
       |)""".stripMargin

  /** Distinct 5-gram sets per doc + the q54 split tag (the q65/q66/q69
    * unit) as DuckDB CTEs — mirrors [[fiveGramDocs]].
    */
  private val FiveGramCtes =
    """sets AS (
      |  SELECT doc_id, lang,
      |         list_distinct(CASE WHEN len(w) >= 5
      |           THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      |                 FOR i IN range(1, len(w) - 3)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents)
      |), sized AS (
      |  SELECT doc_id, lang, CAST(len(sh) AS INTEGER) AS n_grams, sh,
      |         substr(md5(doc_id::VARCHAR), 1, 1) IN ('e', 'f') AS is_test
      |  FROM sets
      |)""".stripMargin

  /** Shared by q66 and q163 — the two are the SAME query under
    * different physical plans (plain broadcast semi-join vs Bloom
    * prefilter + verify), so one oracle text serves both.
    */
  private val Q66Sql =
    s"""WITH $FiveGramCtes, test_grams AS (
       |  SELECT DISTINCT md5(g) AS gd
       |  FROM (SELECT UNNEST(sh) AS g FROM sized WHERE is_test)
       |), overlap AS (
       |  SELECT doc_id, COUNT(*) AS n_overlap
       |  FROM (SELECT doc_id, md5(g) AS gd
       |        FROM (SELECT doc_id, UNNEST(sh) AS g FROM sized WHERE NOT is_test))
       |  WHERE gd IN (SELECT gd FROM test_grams)
       |  GROUP BY doc_id
       |)
       |SELECT t.doc_id, t.lang, t.n_grams,
       |       COALESCE(o.n_overlap, 0) AS n_overlap,
       |       CAST(COALESCE(o.n_overlap, 0) > 0 AS INTEGER) AS contaminated
       |FROM sized t LEFT JOIN overlap o ON t.doc_id = o.doc_id
       |WHERE NOT t.is_test
       |ORDER BY t.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q64_doc_repetition" ->
      s"""WITH $RepetitionCtes
         |SELECT * FROM rep_flags ORDER BY doc_id""".stripMargin,

    "q65_boilerplate_ngrams" ->
      s"""WITH $FiveGramCtes, posting AS (
         |  SELECT doc_id, md5(g) AS gd
         |  FROM (SELECT doc_id, UNNEST(sh) AS g FROM sized WHERE n_grams > 0)
         |), boiler AS (
         |  SELECT gd FROM posting GROUP BY gd HAVING COUNT(*) >= $BoilerplateMinDf
         |), perdoc AS (
         |  SELECT p.doc_id, COUNT(*) AS n_boiler
         |  FROM posting p JOIN boiler b ON p.gd = b.gd
         |  GROUP BY p.doc_id
         |)
         |SELECT s.doc_id, s.lang, s.n_grams,
         |       COALESCE(pd.n_boiler, 0) AS n_boiler,
         |       CASE WHEN s.n_grams = 0 THEN 0.0
         |            ELSE CAST(COALESCE(pd.n_boiler, 0) AS DOUBLE) / s.n_grams END AS boiler_frac
         |FROM sized s LEFT JOIN perdoc pd ON s.doc_id = pd.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    // per-(train, test) distinct shared 5-grams + the lexicographically
    // first one as evidence; list_distinct mirrors the in-row dedup
    "q146_contamination_evidence" ->
      s"""WITH $FiveGramCtes, test_post AS (
         |  SELECT doc_id AS test_doc_id, UNNEST(list_distinct(sh)) AS g
         |  FROM sized WHERE is_test
         |), train_post AS (
         |  SELECT doc_id, UNNEST(list_distinct(sh)) AS g
         |  FROM sized WHERE NOT is_test
         |)
         |SELECT t.doc_id, p.test_doc_id, COUNT(*) AS n_shared,
         |       MIN(t.g) AS first_gram
         |FROM train_post t JOIN test_post p ON p.g = t.g
         |GROUP BY 1, 2
         |ORDER BY doc_id, test_doc_id""".stripMargin,

    "q66_decontaminate" -> Q66Sql,

    // q163 IS q66 through a different physical plan: the Bloom stage
    // is an engine-side prefilter whose false positives the exact join
    // removes, so the reference answer is the same SQL verbatim.
    "q163_decontaminate_bloom" -> Q66Sql,

    "q69_corpus_curation_guarded" ->
      s"""WITH $RepetitionCtes, $FiveGramCtes, scored AS (
         |  SELECT doc_id, lang, md5(text) AS digest,
         |         ${TextAnalysis.QualitySql} AS quality,
         |         ${TextAnalysis.PredictedSql} AS predicted
         |  FROM (
         |    SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS w,
         |           ${TextAnalysis.langScoreSql}
         |    FROM documents
         |  )
         |), train AS (
         |  SELECT s.*, z.n_grams, z.sh
         |  FROM scored s JOIN sized z ON s.doc_id = z.doc_id
         |  WHERE NOT z.is_test
         |), test_grams AS (
         |  SELECT DISTINCT md5(g) AS gd
         |  FROM (SELECT UNNEST(sh) AS g FROM sized WHERE is_test)
         |), train_posting AS (
         |  SELECT doc_id, md5(g) AS gd
         |  FROM (SELECT doc_id, UNNEST(sh) AS g FROM train)
         |), contaminated AS (
         |  SELECT DISTINCT doc_id FROM train_posting
         |  WHERE gd IN (SELECT gd FROM test_grams)
         |), boiler AS (
         |  SELECT gd FROM train_posting GROUP BY gd HAVING COUNT(*) >= $BoilerplateMinDf
         |), boiler_counts AS (
         |  SELECT p.doc_id, COUNT(*) AS n_boiler
         |  FROM train_posting p JOIN boiler b ON p.gd = b.gd
         |  GROUP BY p.doc_id
         |), canon AS (
         |  SELECT digest, MIN(doc_id) AS canon_id FROM train GROUP BY digest
         |), verdicts AS (
         |  SELECT t.lang, t.quality,
         |         CASE WHEN t.doc_id <> c.canon_id THEN 'drop_duplicate'
         |              WHEN ct.doc_id IS NOT NULL THEN 'drop_contaminated'
         |              WHEN rf.repetitive = 1 THEN 'drop_repetitive'
         |              WHEN (CASE WHEN t.n_grams = 0 THEN 0.0
         |                    ELSE CAST(COALESCE(bc.n_boiler, 0) AS DOUBLE) / t.n_grams END)
         |                   > $BoilerplateFracGate THEN 'drop_boilerplate'
         |              WHEN t.quality < 0.5 THEN 'drop_quality'
         |              WHEN t.predicted <> t.lang THEN 'drop_lang_mismatch'
         |              ELSE 'keep' END AS verdict
         |  FROM train t
         |  JOIN canon c ON t.digest = c.digest
         |  LEFT JOIN contaminated ct ON t.doc_id = ct.doc_id
         |  LEFT JOIN rep_flags rf ON t.doc_id = rf.doc_id
         |  LEFT JOIN boiler_counts bc ON t.doc_id = bc.doc_id
         |)
         |SELECT lang, verdict, COUNT(*) AS n_docs,
         |       CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE) AS sum_quality
         |FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict""".stripMargin
  )

  override val rowsOnly: Set[String] = Set("q74_decontaminate_fuzzy")
}
