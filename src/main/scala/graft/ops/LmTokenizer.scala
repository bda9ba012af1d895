package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Language-model-adjacent corpus operators: n-gram LM perplexity
  * scoring (the CCNet/KenLM-style quality filter — score every document
  * by how "in-distribution" its token sequence is) and BPE merge
  * training (the tokenizer-building step every training-data pipeline
  * runs before anything else). Both are exact, oracle-checked, and
  * shaped for corpus scale:
  *
  *  - the LM is trained and applied in ONE pass family — bigram/unigram
  *    counting is a map-side-combined shuffle, scoring is a join of the
  *    doc's bigrams against the count tables (at real scale the model is
  *    pruned to top-M bigrams and broadcast; here the full join is the
  *    exact anchor);
  *  - BPE trains on the word-TYPE dictionary, not the corpus: the only
  *    corpus-sized action is the word-frequency extraction shuffle, and
  *    every merge round then runs over the vocabulary table (millions of
  *    rows at web scale, never billions) — exactly how production BPE
  *    trainers are structured.
  */
object LmTokenizer extends graft.QueryModule {

  // ---------------------------------------------------------------- q134

  /** Bigram-LM negative log-likelihood per document, add-one smoothed:
    * p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). Self-scoring on the training
    * corpus (the standard perplexity-filter setup scores against a
    * reference-corpus LM; the +1 smoothing is what makes the SAME
    * operator well-defined on unseen bigrams when the model table comes
    * from a different corpus).
    *
    * Shapes: bigrams are built NARROWLY per document (slice+arrays_zip
    * inside the row — codegen'd, zero exchanges, no per-doc window
    * shuffle); the count tables aggregate with map-side combine; scoring
    * joins on the bigram key. Cross-engine floats: counts stay exact
    * integers until one smoothed-ratio ln per bigram, identical
    * expression shape both sides, and the compare rounds avg-NLL to 6 /
    * perplexity to 4 decimals (the q115 discipline: summing ~100 O(1)
    * terms per doc leaves ~1e-13 of order noise against a 5e-7 grain).
    */
  def bigramPerplexity(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = tokens(col("text"))
    val bi = docs
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(t, lit(1), size(t) - 1).as("w1"),
          slice(t, lit(2), size(t) - 1).as("w2"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = docs.select(explode(t).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v_n"))
    bi.join(c12, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll",
        -log((col("c12") + lit(1)).cast("double") / (col("c1") + col("v_n"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s") / col("n_bigrams"), 6).as("avg_nll"),
        round(exp(col("s") / col("n_bigrams")), 4).as("ppl"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q135

  /** Merge rounds for q135. The synthetic vocabulary saturates well past
    * 10 (the prototype run shows distinct best-pairs each round).
    */
  private[graft] val BpeRounds = 10

  /** Classic BPE pair-merge training (Sennrich et al., the exact
    * algorithm `learn_bpe` implements), expressed as fixed-round
    * DataFrame iteration over the word-type table:
    *
    *  1. state = (word, freq, pos, sym) — each distinct word split into
    *     single-character symbols, weighted by corpus frequency;
    *  2. per round: count adjacent symbol pairs (weighted, overlapping
    *     occurrences included — `get_stats` semantics), pick the argmax
    *     with a DETERMINISTIC tie-break (count desc, then pair
    *     lexicographic), and rewrite every sequence leftmost-greedily.
    *
    * Leftmost-greedy overlap handling without recursion: within a
    * maximal run of consecutive match positions (only same-symbol pairs
    * like (a,a) on "aaaa" produce runs > 1), exactly the even offsets
    * from the run start merge. That is a pure window computation —
    * run starts flag where a match follows a non-match, a running MAX
    * carries the run-start position forward, and parity of
    * (pos - run_start) decides; the row after a kept merge is consumed
    * (lag). Every step is integer/string-exact, so the merge table is
    * bit-reproducible under any partitioning and in any engine — the
    * oracle unrolls the identical window algebra per round (q118's
    * fixed-round MATERIALIZED-CTE twin design).
    *
    * Scale: the corpus-sized work is the word-frequency groupBy (one
    * map-side-combined shuffle). Rounds touch only the type table: one
    * per-word window pass (the table is re-shuffled by word each round —
    * vocabulary-sized, not corpus-sized), an alphabet²-keyed pair count,
    * TakeOrdered(1) collected as the 1-row model and folded back as
    * literals (the IVF collected-model pattern). localCheckpoint per
    * round truncates the 10-deep lineage (the q118 PageRank rule).
    */
  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainOn(
      Tables.documents(s, d).select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n")),
      BpeRounds)

  /** Core trainer over a (word, n) frequency table; exposed for the spec
    * to run against hand-built vocabularies and the brute-force
    * reference implementation.
    */
  private[graft] def bpeTrainOn(words: DataFrame, rounds: Int): DataFrame =
    bpeIterate(words, rounds)._1

  /** Batched trainer (q140): up to `maxBatch` merges per Spark round,
    * PROVABLY equal to `maxBatch` sequential rounds — the production-
    * vocabulary shape (tens of thousands of merges can't pay one full
    * pass per merge; batching non-interacting merges cuts rounds ~k×
    * with zero semantic drift). See [[bpeIterate]] for the guard.
    */
  private[graft] def bpeTrainOnBatched(words: DataFrame, merges: Int,
                                       maxBatch: Int): DataFrame =
    bpeIterate(words, merges, maxBatch)._1

  /** Final segmented symbol table (word, n, pos, sym) after `rounds`
    * merges — the ENCODE side of the tokenizer (apply the learned vocab
    * to text). Exposed for q136 and the spec. `maxBatch` > 1 applies the
    * q140 batching — the STATE after the same merge sequence is
    * identical (batched ≡ sequential covers the rewrite, not just the
    * merge table; LmTokenizerSpec pins segment equality directly), it
    * just arrives in fewer Spark rounds.
    */
  private[graft] def bpeSegments(words: DataFrame, rounds: Int,
                                 maxBatch: Int = 1): DataFrame =
    bpeIterate(words, rounds, maxBatch)._2

  /** How many sorted pair-count rows the batched selector collects per
    * round — the window it can PROVE safe prefixes inside. If the table
    * has more rows than this, everything past the window is treated as a
    * potential tie/overlap (the conservative stop bound).
    */
  private[graft] val BpeBatchWindow = 64

  /** Iterate `merges` total merges, applying up to `maxBatch` per Spark
    * round. maxBatch = 1 is the exact classic loop (one argmax collected
    * per round). maxBatch > 1 selects a batch that is PROVABLY equal to
    * running the same merges sequentially:
    *
    *  - the batch is a PREFIX of the (cnt desc, p1, p2)-sorted pair list
    *    that is pairwise symbol-disjoint — disjoint merges can't consume
    *    each other's occurrences, never create adjacencies between
    *    non-merged symbols, and leave each other's counts untouched, so
    *    the single-pass leftmost-greedy window rewrite applies them all
    *    at once (adjacent match positions always belong to the SAME
    *    pair: different-pair adjacency would share the middle symbol);
    *  - every kept pair's count is STRICTLY above the first rejected or
    *    unscanned candidate's count (`cstop`). Any pair a batch merge
    *    CREATES maps occurrence-wise onto a pre-merge pair that overlaps
    *    the merged pair, so its count is ≤ cstop < every kept count —
    *    sequential rounds would therefore pick exactly the kept pairs,
    *    in order, with the same counts and the same lex tie-breaks;
    *  - a same-symbol pair (x,x) ENDS its batch: merging it can create
    *    (xx,x)-style pairs whose occurrences map onto (x,x) itself, so
    *    they're bounded only by its own count, not by cstop.
    *
    * LmTokenizerSpec proves batched ≡ sequential on adversarial overlap
    * fixtures, random vocabularies, and the real corpus (q140 ≡ q135
    * under the same DuckDB oracle).
    */
  /** The sequential-equivalent batch from the sorted top-`window` pair
    * rows (semantics in [[bpeIterate]]'s doc). Greedy scan in sort
    * order: stop at the first candidate sharing a symbol with an earlier
    * pick, after a same-symbol pick, or at `maxBatch`; then keep only
    * the prefix whose counts are STRICTLY above the first non-picked
    * candidate (`cstop` — hidden candidates past a full window are
    * bounded by the window's last count). Never empty: the head is the
    * plain argmax and needs no guard. Exposed for the spec's direct
    * adversarial cases.
    */
  private[graft] def selectBatch(top: Seq[(String, String, Long)],
                                 window: Int, maxBatch: Int)
      : Seq[(String, String, Long)] = {
    if (maxBatch <= 1 || top.length <= 1) return top.take(1)
    val picked = collection.mutable.ListBuffer.empty[(String, String, Long)]
    val used = collection.mutable.Set.empty[String]
    var i = 0
    var stopped = false
    while (i < top.length && !stopped && picked.length < maxBatch) {
      val (p1, p2, _) = top(i)
      if (picked.nonEmpty && (used(p1) || used(p2))) stopped = true
      else {
        picked += top(i); used += p1; used += p2
        i += 1
        if (p1 == p2) stopped = true // its merges create pairs bounded by its own count
      }
    }
    // first candidate NOT picked, or the conservative bound for rows
    // beyond a full collected window (they may tie and overlap)
    val cstop =
      if (i < top.length) top(i)._3
      else if (top.length == window) top.last._3
      else Long.MinValue
    val safe = picked.takeWhile(_._3 > cstop).toSeq
    if (safe.isEmpty) top.take(1) else safe
  }

  private[graft] val wOrd = Window.partitionBy("word").orderBy("pos")
  private val runWOrd = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Initial (word, n, pos, sym) state: CODE-POINT split, not
    * split(word, "") — the latter cuts at UTF-16 code units, so a
    * non-BMP character (emoji, musical symbols) would shatter into two
    * lone surrogates while the DuckDB oracle's substr walks code
    * points. Java regex '.' consumes exactly one code point, and the
    * (cnt, sym, nxt) argmax tie-break then agrees cross-engine because
    * Spark's UTF8_BINARY string comparison and DuckDB's binary
    * collation are both UTF-8 byte order, which preserves code-point
    * order. Pinned on non-BMP fixtures in LmTokenizerSpec.
    */
  private[graft] def symSplit(words: DataFrame): DataFrame =
    words.select(col("word"), col("n"),
      posexplode(regexp_extract_all(col("word"), lit("(?s)."), lit(0)))
        .as(Seq("pos", "sym")))

  /** One leftmost-greedy rewrite pass applying every pair in `pairs`
    * simultaneously. Pairs must be mutually non-interacting (pairwise
    * symbol-disjoint — see [[bpeIterate]]/[[applyGroups]]): adjacent
    * match positions then always belong to the same pair, so the
    * run-start + position-parity window algebra resolves overlapping
    * same-symbol runs exactly as the textbook loop does. Each pair
    * carries its merged OUTPUT symbol explicitly (`(p1, p2, merged)`):
    * BPE merges to plain concatenation `p1+p2`, WordPiece (q161) to
    * `p1 + p2-without-the-## marker` — the window algebra is identical,
    * only the produced literal differs.
    */
  private[graft] def applyPairs(state: DataFrame,
                                pairs: Seq[(String, String, String)]): DataFrame = {
    val isAnyMatch = pairs
      .map { case (p1, p2, _) => col("sym") === lit(p1) && col("nxt") === lit(p2) }
      .reduce(_ || _)
    // keep-rows match exactly one pair (pairs are symbol-disjoint), so
    // the chained CASE picks that pair's merged literal
    val mergedExpr = pairs.tail.foldLeft(
      when(col("sym") === lit(pairs.head._1) && col("nxt") === lit(pairs.head._2),
        lit(pairs.head._3))) { case (acc, (p1, p2, m)) =>
      acc.when(col("sym") === lit(p1) && col("nxt") === lit(p2), lit(m))
    }
    state.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      .withColumn("ismatch", coalesce(isAnyMatch, lit(false)))
      .withColumn("startflag",
        col("ismatch") && !coalesce(lag(col("ismatch"), 1).over(wOrd), lit(false)))
      .withColumn("run_start",
        max(when(col("startflag"), col("pos"))).over(runWOrd))
      .withColumn("keep",
        col("ismatch") && (col("pos") - col("run_start")) % 2 === 0)
      .withColumn("consumed",
        coalesce(lag(col("keep"), 1).over(wOrd), lit(false)))
      .filter(!col("consumed"))
      .select(col("word"), col("n"),
        (row_number().over(wOrd) - 1).as("pos"),
        when(col("keep"), mergedExpr).otherwise(col("sym")).as("sym"))
  }

  private def bpeIterate(words: DataFrame, rounds: Int,
                         maxBatch: Int = 1): (DataFrame, DataFrame) = {
    require(maxBatch >= 1 && maxBatch < BpeBatchWindow,
      s"maxBatch must be in [1, $BpeBatchWindow): $maxBatch")
    val s = words.sparkSession
    val w = wOrd
    var state = symSplit(words).localCheckpoint()
    // (round, p1, p2, count). The per-round argmax is ONE row by
    // construction — collecting it is the IVF collected-model pattern
    // (the model RIDES the driver; every real BPE trainer holds the
    // current best pair as a scalar), and the literals keep the whole
    // merge rewrite inside codegen with no per-round join or extra
    // materialization job.
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var done = 0
    var exhausted = false
    while (done < rounds && !exhausted) {
      val withNext = state.withColumn("nxt", lead(col("sym"), 1).over(w))
      val counted = withNext.filter(col("nxt").isNotNull)
        .groupBy("sym", "nxt").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym"), col("nxt"))
      val window = if (maxBatch == 1) 1 else BpeBatchWindow
      val top = counted.limit(window).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) {
        // every word fully merged to one symbol — nothing left to count
        exhausted = true
      } else {
        val batch = selectBatch(top, window,
          math.min(maxBatch, rounds - done))
        batch.zipWithIndex.foreach { case ((p1, p2, cnt), i) =>
          merges += ((done + i + 1, p1, p2, cnt))
        }
        val prevState = state // superseded once the rewrite materializes
        state = applyPairs(state, batch.map(b => (b._1, b._2, b._1 + b._2)))
          .localCheckpoint()
        // eager-release the superseded round (the q118 retention rule):
        // the new state is materialized, nothing reads the old blocks
        org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(prevState)
        done += batch.length
      }
    }
    import s.implicits._
    val mergeTable = merges.result()
      .map { case (rnd, p1, p2, cnt) => (rnd, p1, p2, p1 + p2, cnt) }
      .toDF("merge_round", "p1", "p2", "merged", "cnt")
      .orderBy("merge_round")
    (mergeTable, state)
  }

  /** The trained tokenizer over the documents corpus as ONE stored
    * artifact frame — the union of the fully-merged symbol STATE
    * (kind 0: word, n, pos, sym) and the merge TABLE (kind 1: rnd, p1,
    * p2, cnt), built by a single batched training run (r21). This is the
    * "train once, encode anywhere" split every production tokenizer
    * ships, and the two CONSUMER queries read it the way q117 reads the
    * stored k-NN frames: q136 (encode) derives its per-word dictionary
    * from the state rows, q141 (apply-OOV) collects the 10-row merge
    * list as its model. q135/q140 still TRAIN live per timed run —
    * training cost is their contract; this artifact only stops the two
    * encode/apply queries from re-training per run (they were paying
    * the full 10-merge iteration ×3 runs each). Deterministic: training
    * is integer/string-exact and partition-order-independent — the
    * q135 ≡ q140 oracle hash-gate IS that proof, and both consumers'
    * oracles replay the identical chain. Priced in Bench's shared build.
    */
  private[graft] def trainedBpe(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "bpeTrained") {
      val words = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      val (mergeTable, state) = bpeIterate(words, BpeRounds, BpeQ140Batch)
      state.select(lit(0).as("kind"), col("word"), col("n"),
        col("pos").cast("int").as("pos"), col("sym"),
        lit(null).cast("int").as("rnd"), lit(null).cast("string").as("p1"),
        lit(null).cast("string").as("p2"), lit(null).cast("long").as("cnt"))
        .unionByName(mergeTable.select(lit(1).as("kind"),
          lit(null).cast("string").as("word"), lit(null).cast("long").as("n"),
          lit(null).cast("int").as("pos"), lit(null).cast("string").as("sym"),
          col("merge_round").as("rnd"), col("p1"), col("p2"), col("cnt")))
    }

  // ---------------------------------------------------------------- q141

  /** Group an ORDERED merge list into consecutive runs that can be
    * applied in ONE rewrite pass each. A merge joins the current group
    * only if its {p1, p2, p1+p2} is disjoint from every symbol the group
    * already consumes OR produces — that excludes both rewrite
    * interaction (shared match symbols) and produce/consume chains
    * (merge k's input symbol being merge j<k's output, which does not
    * exist until j runs). Within such a group application order is
    * irrelevant, so simultaneous == sequential.
    */
  private[graft] def applyGroups(merges: Seq[(String, String)])
      : Seq[Seq[(String, String)]] = {
    val groups = collection.mutable.ListBuffer.empty[collection.mutable.ListBuffer[(String, String)]]
    var touched = Set.empty[String]
    for (m @ (p1, p2) <- merges) {
      val syms = Set(p1, p2, p1 + p2)
      if (groups.isEmpty || (touched & syms).nonEmpty) {
        groups += collection.mutable.ListBuffer(m)
        touched = syms
      } else {
        groups.last += m
        touched ++= syms
      }
    }
    groups.map(_.toSeq).toSeq
  }

  /** Segment a (word, n) table with an ALREADY-TRAINED ordered merge
    * list — the apply-to-anything half every production tokenizer ships:
    * train once, encode any corpus, including words the trainer never
    * saw. No counting, no argmax: each group of non-interacting merges
    * is one window rewrite pass with the pairs as literals (3–5 passes
    * for a 10-merge vocab instead of 10), per-round checkpoints released
    * eagerly (the q118 rule). Returns (word, n, n_bpe, segmentation).
    */
  private[graft] def bpeReplay(words: DataFrame,
                               merges: Seq[(String, String)]): DataFrame = {
    var state = symSplit(words).localCheckpoint()
    applyGroups(merges).foreach { group =>
      val prev = state
      state = applyPairs(state, group.map(p => (p._1, p._2, p._1 + p._2)))
        .localCheckpoint()
      org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(prev)
    }
    state.groupBy("word")
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_bpe"),
        concat_ws("|",
          transform(array_sort(collect_list(struct(col("pos"), col("sym")))),
            x => x.getField("sym"))).as("segmentation"))
      .orderBy("word")
  }

  /** q141: the trained tokenizer applied OUT OF DOMAIN. Trains on the
    * documents corpus (the q135/q140 iteration, batched), collects the
    * merge list as the driver-side model (10 rows — the IVF pattern),
    * then segments the PART-NAME vocabulary — words the trainer never
    * saw. This is the capability gap between "encode the training
    * corpus" (q136) and a real tokenizer: OOV words must segment by
    * merge-rule replay, not dictionary lookup. Scale: training state is
    * the type table; apply is rule-replay over the NEW domain's type
    * table; the unbounded corpus would only ever pay tokenize + join.
    */
  def bpeApplyOov(s: SparkSession, d: String): DataFrame = {
    // the 10-row merge list off the STORED trained artifact (r21): the
    // apply-side query no longer re-trains per run — identical model by
    // the batched ≡ sequential contract (same bpeIterate call as before,
    // now amortized in shared_build)
    val model = trainedBpe(s, d).filter(col("kind") === 1)
      .select(col("rnd"), col("p1"), col("p2"))
      .collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val oov = Tables.part(s, d)
      .select(explode(tokens(col("p_name"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    bpeReplay(oov, model)
  }

  // ---------------------------------------------------------------- q136

  /** BPE ENCODE — the apply half of the tokenizer: segment every word
    * with the trained merge vocabulary and report each document's true
    * BPE token count next to its whitespace token count (the
    * compression-ratio ledger a token-budget planner prices corpora
    * with; q114 plans in whitespace tokens, this prices the same docs in
    * tokenizer units).
    *
    * Scale: segmentation happens ONCE PER WORD TYPE (the q135 iteration
    * already leaves the fully merged symbol table), and documents join
    * the resulting (word → n_bpe_tokens) dictionary — corpus-sized work
    * is one token explode + one dictionary join + one per-doc sum,
    * which is exactly how production pipelines tokenize: encode the
    * vocabulary, broadcast it, stream the corpus through. The oracle
    * re-derives the merge chain (same unrolled CTEs as q135) and counts
    * surviving symbols per word.
    */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val docTokens = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    // per-word piece counts off the STORED trained artifact's state rows
    // (r21): the encode-side query no longer re-trains per run. The
    // state is the same batched segmentation as before (q136's oracle
    // still unrolls one merge per CTE round; batched ≡ sequential)
    val dict = trainedBpe(s, d).filter(col("kind") === 0)
      .groupBy("word").agg(count(lit(1)).as("n_bpe"))
    docTokens.join(broadcast(dict), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_bpe")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- queries

  /** Batch cap for q140 — small enough that the 64-row selection window
    * always sees past the batch, large enough to show multi-merge rounds
    * on the real corpus.
    */
  private[graft] val BpeQ140Batch = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_bigram_perplexity" -> ((s, d) => bigramPerplexity(s, d)),
    "q135_bpe_train" -> ((s, d) => bpeTrain(s, d)),
    "q136_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    // the batched trainer, driver-checked against the SAME oracle as
    // q135: the unrolled one-merge-per-round CTE chain — equality here
    // IS the sequential-equivalence proof running under the hash gate
    "q140_bpe_train_batched" -> ((s, d) =>
      bpeTrainOnBatched(
        graft.Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n")),
        BpeRounds, BpeQ140Batch)),
    "q141_bpe_apply_oov" -> ((s, d) => bpeApplyOov(s, d)))

  /** The q135 oracle replays the identical fixed-round window algebra as
    * chained CTEs. MATERIALIZED is load-bearing (the q118 lesson): each
    * round's state is referenced by the next round's lead-pass AND the
    * pair count, and each best-pair by the merge AND the final union —
    * plain CTEs would inline the whole chain exponentially.
    */
  private def bpeChainSql: String = {
    val rounds = (1 to BpeRounds).map { k =>
      val p = k - 1
      s"""n$k AS MATERIALIZED (
         |  SELECT word, n, pos, sym,
         |         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM s$p
         |), b$k AS MATERIALIZED (
         |  SELECT sym AS p1, nxt AS p2, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM n$k WHERE nxt IS NOT NULL
         |  GROUP BY sym, nxt
         |  ORDER BY cnt DESC, sym, nxt LIMIT 1
         |), m$k AS MATERIALIZED (
         |  -- LEFT JOIN ON TRUE, not CROSS JOIN: when training exhausts
         |  -- early b$k is EMPTY, and a cross join would annihilate the
         |  -- state (s$k..s$BpeRounds all empty -> a correct engine
         |  -- result would false-mismatch). With nulls ismatch is FALSE
         |  -- and the round carries the fully-merged state forward,
         |  -- mirroring the engine's early-stop.
         |  SELECT word, n, pos, sym, nxt,
         |         COALESCE(sym = b.p1 AND nxt = b.p2, FALSE) AS ismatch
         |  FROM n$k LEFT JOIN b$k b ON TRUE
         |), f$k AS MATERIALIZED (
         |  SELECT *,
         |         ismatch AND NOT COALESCE(
         |           LAG(ismatch) OVER (PARTITION BY word ORDER BY pos), FALSE)
         |           AS startflag
         |  FROM m$k
         |), g$k AS MATERIALIZED (
         |  SELECT *,
         |         MAX(CASE WHEN startflag THEN pos END)
         |           OVER (PARTITION BY word ORDER BY pos
         |                 ROWS UNBOUNDED PRECEDING) AS run_start,
         |         ismatch AND (pos - MAX(CASE WHEN startflag THEN pos END)
         |           OVER (PARTITION BY word ORDER BY pos
         |                 ROWS UNBOUNDED PRECEDING)) % 2 = 0 AS keep
         |  FROM f$k
         |), h$k AS MATERIALIZED (
         |  SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY word ORDER BY pos),
         |                     FALSE) AS consumed
         |  FROM g$k
         |), s$k AS MATERIALIZED (
         |  SELECT word, n,
         |         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         |         CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
         |  FROM h$k WHERE NOT consumed
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT token AS word, COUNT(*) AS n
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
       |        FROM documents)
       |  GROUP BY token
       |), s0a AS (
       |  SELECT word, n, unnest(range(1, length(word) + 1)) AS i FROM w0
       |), s0 AS MATERIALIZED (
       |  SELECT word, n, i - 1 AS pos, substr(word, CAST(i AS INT), 1) AS sym
       |  FROM s0a
       |),
       |$rounds""".stripMargin
  }

  private def q135OracleSql: String = {
    val unioned = (1 to BpeRounds).map { k =>
      s"SELECT $k AS merge_round, p1, p2, p1 || p2 AS merged, cnt FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""$bpeChainSql
       |SELECT * FROM ($unioned)
       |ORDER BY merge_round""".stripMargin
  }

  /** q136: the q135 chain's final state counted per word, joined back to
    * the per-doc token stream.
    */
  /** q141 oracle: the full q135 training chain (b1..bN hold the trained
    * pairs), then a REPLAY chain over the part-name vocabulary — the
    * identical per-round window algebra minus counting/argmax, one merge
    * per round (the engine's grouped simultaneous apply is provably
    * equal — [[applyGroups]]). Empty b$k rounds (early training
    * exhaustion) carry the state forward via the same LEFT JOIN pin.
    */
  private def q141OracleSql: String = {
    val replay = (1 to BpeRounds).map { k =>
      val p = k - 1
      s"""on$k AS MATERIALIZED (
         |  SELECT word, n, pos, sym,
         |         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM o$p
         |), om$k AS MATERIALIZED (
         |  SELECT word, n, pos, sym, nxt,
         |         COALESCE(sym = b.p1 AND nxt = b.p2, FALSE) AS ismatch
         |  FROM on$k LEFT JOIN b$k b ON TRUE
         |), of$k AS MATERIALIZED (
         |  SELECT *,
         |         ismatch AND NOT COALESCE(
         |           LAG(ismatch) OVER (PARTITION BY word ORDER BY pos), FALSE)
         |           AS startflag
         |  FROM om$k
         |), og$k AS MATERIALIZED (
         |  SELECT *,
         |         ismatch AND (pos - MAX(CASE WHEN startflag THEN pos END)
         |           OVER (PARTITION BY word ORDER BY pos
         |                 ROWS UNBOUNDED PRECEDING)) % 2 = 0 AS keep
         |  FROM of$k
         |), oh$k AS MATERIALIZED (
         |  SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY word ORDER BY pos),
         |                     FALSE) AS consumed
         |  FROM og$k
         |), o$k AS MATERIALIZED (
         |  SELECT word, n,
         |         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         |         CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
         |  FROM oh$k WHERE NOT consumed
         |)""".stripMargin
    }.mkString(",\n")
    s"""$bpeChainSql,
       |ow AS MATERIALIZED (
       |  SELECT token AS word, COUNT(*) AS n
       |  FROM (SELECT unnest(string_split_regex(trim(p_name), '\\s+')) AS token
       |        FROM part)
       |  GROUP BY token
       |), o0a AS (
       |  SELECT word, n, unnest(range(1, length(word) + 1)) AS i FROM ow
       |), o0 AS MATERIALIZED (
       |  SELECT word, n, i - 1 AS pos, substr(word, CAST(i AS INT), 1) AS sym
       |  FROM o0a
       |),
       |$replay
       |SELECT word, MAX(n) AS n, COUNT(*) AS n_bpe,
       |       string_agg(sym, '|' ORDER BY pos) AS segmentation
       |FROM o$BpeRounds
       |GROUP BY word
       |ORDER BY word""".stripMargin
  }

  private def q136OracleSql: String =
    s"""$bpeChainSql,
       |wc AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS n_bpe FROM s$BpeRounds GROUP BY word
       |), dt AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents
       |)
       |SELECT dt.doc_id, COUNT(*) AS n_tokens,
       |       CAST(SUM(wc.n_bpe) AS BIGINT) AS n_bpe_tokens
       |FROM dt JOIN wc USING (word)
       |GROUP BY dt.doc_id
       |ORDER BY dt.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q134_bigram_perplexity" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents
        |), ta AS (
        |  SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS pos FROM d
        |), tok AS (
        |  SELECT doc_id, pos, arr[CAST(pos AS INT)] AS w FROM ta
        |), bi AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |), c12 AS (
        |  SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
        |), uni AS (
        |  SELECT w AS w1, COUNT(*) AS c1 FROM tok GROUP BY w
        |), v AS (SELECT COUNT(*) AS v_n FROM uni),
        |terms AS (
        |  SELECT bi.doc_id,
        |         -LN(CAST(c12.c12 + 1 AS DOUBLE) / (uni.c1 + v.v_n)) AS nll
        |  FROM bi JOIN c12 USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(nll) AS s
        |  FROM terms GROUP BY doc_id
        |)
        |SELECT doc_id, n_bigrams,
        |       ROUND(s / n_bigrams, 6) AS avg_nll,
        |       ROUND(EXP(s / n_bigrams), 4) AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q135_bpe_train" -> q135OracleSql,
    "q136_bpe_encode" -> q136OracleSql,
    // q140 shares q135's oracle verbatim: batched ≡ sequential is the
    // operator's contract, and the driver's hash compare enforces it
    "q140_bpe_train_batched" -> q135OracleSql,
    "q141_bpe_apply_oov" -> q141OracleSql)
}
