package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._

/** Corpus deduplication at training-data scale. Five families, each with
  * a different scale/recall trade-off:
  *
  *   - exact: hash-groupBy on content digest — one shuffle on the digest,
  *     the 100 TB workhorse.
  *   - n-gram Jaccard: shingle-set overlap via exploded shingle self-join
  *     — exact pair similarity; the frequency cap bounds join fan-out on
  *     pathological shingles (skew guard).
  *   - MinHash+LSH: per-row signatures (NO shuffle to compute — HOFs over
  *     the shingle array), banded bucketing, candidate join, exact-Jaccard
  *     verification. Sub-quadratic; the scale path for near-dup.
  *   - SimHash: 64-bit sketch + pigeonhole chunk join for hamming<=3.
  *   - embedding cosine: near-dup via vector similarity.
  *
  * Hash-based signatures use xxhash64 → deterministic on any cluster,
  * but not expressible in portable SQL → those queries are rows-only.
  */
object Dedup extends graft.QueryModule {

  private val Prime = 2038074743L
  /** (a, b) parameters for 32 minhash permutations h_j(x) = (a·x+b) mod p,
    * derived from a fixed seed sequence — stable across runs and versions.
    * Reduced mod p so a·x stays below (p−1)² < Long.Max: no ANSI overflow.
    */
  private val Perms: Seq[(Long, Long)] =
    (1 to 32).map(j => ((2654435761L * j + 1) % Prime, (40503L * j + 7) % Prime))

  import org.apache.spark.sql.graft.ColumnBridge.{column => asCol, expression => asExpr}

  /** Bound on the exact (all-pairs) embedding-dedup slice: ≤ Cap² pair
    * candidates no matter the corpus size. The Spark query and the DuckDB
    * oracle apply the same cap.
    */
  val EmbeddingExactCap = 1000

  /** MinHash signature (array<long>, one min per permutation), computed
    * in a single pass over the shingle array by a native expression —
    * pure narrow transform, no shuffle, no per-permutation intermediate.
    */
  def minhashSignature(shingleCol: Column): Column =
    asCol(graft.expressions.MinHashSignature(asExpr(shingleCol), 32, Prime, Perms))

  /** 64-bit SimHash: bit i set iff Σ ±1 votes over token-hash bits > 0 —
    * single-pass native expression.
    */
  def simhash(tokensCol: Column): Column =
    asCol(graft.expressions.SimHash(asExpr(tokensCol)))

  /** Banded LSH bucket keys (8 bands × 4 rows) over a 32-perm MinHash
    * signature, one 64-bit key per band with the band index baked into
    * the hash — two docs share a key iff they agree on that band's 4
    * signature rows. Shared by the near-dup pair join (q27/q49) and the
    * bipartite fuzzy-decontamination join (q74).
    */
  def minhashBandKeys(sig: Column): Column =
    array((0 until 8).map(b =>
      xxhash64(lit(b), sig(4 * b), sig(4 * b + 1),
        sig(4 * b + 2), sig(4 * b + 3))): _*)

  /** Df cap shared by the exact-pair family (q26/q47/q108/q218) and
    * PROFILED by q219: shingles in more docs than this are stopword-like
    * and create quadratic fanout.
    */
  private[graft] val DefaultMaxDocFreq = 100

  /** doc_id, lang, distinct word-3-gram shingles + set size. */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      shingles(col("text"), 3).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)

  /** Exact Jaccard pairs via exploded shingle join. Shingles present in
    * more than [[DefaultMaxDocFreq]] docs are dropped (stopword-like
    * shingles create quadratic fan-out at corpus scale; real pipelines
    * always cap).
    */
  def jaccardPairs(s: SparkSession, d: String, threshold: Double): DataFrame =
    // q26 registers these pairs and q47 feeds them to connected
    // components: one posting build + self-join per (dir, params), not
    // one per consumer (FrameMemo; the q43/q90/q93 edge-list discipline)
    FrameMemo.cached(s, d, s"jaccard:$threshold") {
      buildJaccardPairs(s, d, threshold)
    }

  private def buildJaccardPairs(s: SparkSession, d: String,
                                threshold: Double): DataFrame = {
    // The ONLY materialized state is the hashed posting list — 24-byte
    // rows of (doc_id, lang, 8-byte shingle hash); same pairs as joining
    // the strings (64-bit collision odds ~n²/2⁶⁴), and the string shingle
    // ARRAYS never enter the block store. (An earlier version checkpointed
    // the array frame: at 3 bench runs × 3 queries sharing it, the piled-up
    // blocks outlived driver GC and later queries paid in memory pressure.)
    // Set sizes are re-derived as posting counts per doc — shingles() emits
    // distinct shingles, so the count equals size(sh) exactly.
    val posting = FrameMemo.scratch(shingleSets(s, d)
      .select(col("doc_id"), col("lang"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("lang"), xxhash64(col("shingle")).as("shingle")))
    val rare = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DefaultMaxDocFreq)
    val filtered = posting.join(rare.select("shingle"), Seq("shingle"))
    val inter = filtered.as("a")
      .join(filtered.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = posting.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Internal frames for the prefix-filtered exact-Jaccard join:
    * (posting, filtered, docToks, candidates). `posting` is the hashed,
    * localCheckpointed posting list (as in [[jaccardPairs]]);
    * `filtered` is the doc-freq-capped posting list; `docToks` holds
    * each doc's capped tokens as ONE array in canonical rarest-first
    * order (df asc, hash tiebreak — the order that makes prefixes
    * selective, since a rare token's posting list generates few
    * candidate pairs) plus the prefix slice; `candidates` is the
    * distinct (doc_a, doc_b) pair set surviving the prefix filter.
    * Split out so RecallSpec can gate the candidate count against the
    * full join's.
    *
    * One doc_id exchange serves the whole query: the sorted array is
    * built by a single groupBy + sort_array, the prefix is a slice of
    * it, and the SAME arrays verify candidates. (The previous
    * row_number/count window formulation paid a second WindowExec pass
    * for the per-doc count, a separate collect_list exchange to rebuild
    * verification arrays, and a full-posting aggregate for set sizes —
    * measured at sf0.1: warm-state par, ~30% cheaper cold, and two
    * fewer full-posting exchanges, which is what compounds at corpus
    * scale.)
    */
  private[graft] def prefixJaccardFrames(s: SparkSession, d: String,
      tNum: Int, tDen: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // scratch, not bare localCheckpoint (r21): inside the q108 stored-
    // artifact build this intermediate is released once the pair frame
    // materializes; outside a cached build it is a plain localCheckpoint
    val posting = FrameMemo.scratch(shingleSets(s, d)
      .select(col("doc_id"), col("lang"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("lang"), xxhash64(col("shingle")).as("shingle")))
    val docFreq = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    val filtered = posting
      .join(docFreq.filter(col("df") <= DefaultMaxDocFreq), Seq("shingle"))
    // J >= t forces |A'∩B'| >= ceil(t/(1+t)·n'_X) =: beta_X for EACH
    // side (Chaudhuri et al. SSJoin / Bayardo et al. All-Pairs, WWW'07),
    // so a qualifying pair must share a token within both docs' first
    // (n' - beta + 1) positions. beta in exact integer arithmetic —
    // ceil(a/b) = (a + b - 1) div b — because a float ceil rounding the
    // wrong way by 1 would silently drop true pairs.
    val denom = tNum + tDen
    // scratch-materialized (r22): four consumers read this frame (the
    // prefix explode on BOTH join sides, the two verification lookups) —
    // unmaterialized, the groupBy + its whole posting/df-cap subtree
    // replanned and re-executed once per consumer (the 38-Exchange plan
    // in plans/r21/q108_dedup_jaccard_prefix_before.txt); checkpointed,
    // each consumer is a columnar scan. Guide §1.2 / §5 localCheckpoint.
    val docToks = FrameMemo.scratch(filtered
      .groupBy("doc_id", "lang")
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ts"))
      .select(col("doc_id"), col("lang"),
        transform(col("ts"), x => x.getField("shingle")).as("toks"))
      .withColumn("n_capped", size(col("toks")))
      .withColumn("prefix", slice(col("toks"), lit(1),
        col("n_capped") -
          expr(s"(n_capped * $tNum + ${denom - 1}) div $denom") + lit(1))))
    val prefix = docToks.select(col("doc_id"), col("lang"),
      explode(col("prefix")).as("shingle"))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (posting, filtered, docToks, candidates)
  }

  /** Exact Jaccard pairs via PREFIX FILTERING — the published exact
    * algorithm for set-similarity joins at scale (All-Pairs/PPJoin
    * family): order each doc's capped shingles rarest-first, join only
    * on tokens inside each side's (1 - t/(1+t))-length prefix, then
    * verify candidates exactly. Zero false negatives by the prefix
    * lemma — unlike LSH (q27/q49) this needs no recall gate, so it
    * shares q26's oracle — while candidates shrink from "docs sharing
    * ANY rare shingle" to "docs sharing a PREFIX shingle" (gated in
    * RecallSpec). Scale shape: same posting-list exchanges as q26 plus
    * one per-doc window; the verification join touches only candidate
    * docs' token arrays, never the corpus.
    */
  /** q108's pair frame as a FrameMemo artifact (r21) —
    * the same stored-pair-frame contract its siblings q26 (jaccard),
    * q27 (minhashLsh) and q28 (simhash) already present: the pair graph
    * is built once per corpus snapshot (priced in Bench's dedup chain),
    * and the registered query presents it. Deterministic: integer doc
    * ids/counts plus one per-row double division (the allowed per-row
    * float class). q108 was the one exact-pair query still paying its
    * full posting + prefix-join build inside every timed run.
    */
  def prefixJaccardPairsStored(s: SparkSession, d: String,
                               tNum: Int, tDen: Int): DataFrame =
    FrameMemo.cached(s, d, s"prefixJaccard:$tNum:$tDen")(
      prefixJaccardPairs(s, d, tNum, tDen))

  def prefixJaccardPairs(s: SparkSession, d: String, tNum: Int,
                         tDen: Int): DataFrame = {
    val (_, _, docToks, candidates) = prefixJaccardFrames(s, d, tNum, tDen)
    // verification reuses docToks' already-built arrays (exchange reuse
    // materializes the groupBy once across the four consumers); the
    // candidate side is the small one, so AQE broadcasts it and the
    // array frame never re-shuffles
    val toks = docToks.select(col("doc_id"), col("toks"))
    // full (uncapped) set sizes come narrowly off the shingle arrays —
    // no full-posting re-aggregation, no exchange
    val sizes = shingleSets(s, d).select(col("doc_id"), col("n_sh"))
    candidates
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
      // same intersection the full join counts: per-doc shingles are
      // distinct, so the intersect size IS the shared-shingle count
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= lit(tNum.toDouble / tDen))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash+LSH near-dup pairs — the sub-quadratic 100 TB pair path:
    * 32-perm signatures (single-pass native expression), 8 bands × 4
    * rows banded bucketing, candidate equi-join on band keys, exact
    * Jaccard verification of candidates only (precision 1 — LSH decides
    * what gets COMPARED, never what gets KEPT). Recall vs the exact q26
    * pairs is gated in RecallSpec.
    */
  def minhashLshPairs(s: SparkSession, d: String, threshold: Double): DataFrame =
    // shared by q27 (pairs) and q49 (components over the same pairs) —
    // one band join + exact verification per (dir, threshold)
    FrameMemo.cached(s, d, s"minhashLsh:$threshold") {
      buildMinhashLshPairs(s, d, threshold)
    }

  private def buildMinhashLshPairs(s: SparkSession, d: String,
                                   threshold: Double): DataFrame = {
    // only (doc_id, lang, sig) is materialized — 32 longs per doc; the
    // shingle arrays are recomputed for the (small) candidate verification
    // joins below rather than checkpointed, keeping array blocks out of
    // the block store (see jaccardPairs for why that residency matters)
    val sigs = FrameMemo.scratch(shingleSets(s, d)
      .select(col("doc_id"), col("lang"), minhashSignature(col("sh")).as("sig")))
    val sets = shingleSets(s, d)
    val bands = sigs.select(col("doc_id"), col("lang"),
      explode(array((0 until 8).map(b =>
        struct(lit(b).as("band"),
          xxhash64(lit(b), col("sig")(4 * b), col("sig")(4 * b + 1),
            col("sig")(4 * b + 2), col("sig")(4 * b + 3)).as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"), col("lang"), col("bb.band"), col("bb.bkey"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verification on the candidate set only
    val withSets = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
    withSets.filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: digest groupBy, keep min doc_id as canonical
    "q25_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("content_md5"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("keep_doc_id")),

    // n-gram Jaccard near-dup pairs (exact similarity, capped fan-out)
    "q26_dedup_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d, threshold = 0.2).orderBy("doc_a", "doc_b")),

    // prefix-filtered EXACT Jaccard at the near-duplicate threshold
    // (t = 4/5): the sub-quadratic path that, unlike LSH, provably
    // misses nothing — so it gets a full oracle, not a recall gate
    "q108_dedup_jaccard_prefix" -> ((s, d) =>
      prefixJaccardPairsStored(s, d, tNum = 4, tDen = 5).orderBy("doc_a", "doc_b")),

    // MinHash+LSH: 32 perms, 8 bands x 4 rows; verify candidates exactly
    "q27_dedup_minhash_lsh" -> ((s, d) =>
      minhashLshPairs(s, d, threshold = 0.2).orderBy("doc_a", "doc_b")),

    // SimHash near-dup: hamming<=3 via 4x16-bit pigeonhole chunks
    // (presents the FrameMemo'd pair frame — q208 scores the same one)
    "q28_dedup_simhash" -> ((s, d) =>
      simhashPairs(s, d).orderBy("doc_a", "doc_b")),

    // per-source duplication burden — the rollup a curator reads to
    // decide which FEED to de-weight (q145 shows cross-source pair
    // structure, q197 directional copy-mass; this is the within-
    // threshold near-dup burden per source): docs participating in
    // >= 1 exact-Jaccard near-dup pair (q26's memoized graph), over
    // the source's total, as exact ppm (integer DIV from counts).
    // Scale shape: the pair frame arrives materialized (FrameMemo);
    // the distinct-participant projection is pair-sized, the join is
    // doc-keyed, the report is |sources| rows.
    "q218_dup_burden_by_source" -> ((s, d) => {
      val pairs = jaccardPairs(s, d, threshold = 0.2)
      val dupIds = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .distinct().withColumn("is_dup", lit(1L))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(dupIds, Seq("doc_id"), "left")
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          expr("n_dup_docs * 1000000 DIV n_docs").as("dup_ppm"))
        .orderBy("source")
    }),

    // shingle document-frequency profile — the EVIDENCE for the df
    // caps the whole exact-pair family stands on (q26/q47/q108/q218
    // drop shingles with df > DefaultMaxDocFreq; q155/q171/q174/q197
    // run the same discipline at other grains): per bit-length df
    // bucket (the q177/q193 integer idiom — no float log2), shingle
    // types, total postings, and exactly what the cap excludes. ONE
    // (digest) count shuffle into a ≤64-row report; md5 digests only
    // in exchanges (q66 rule).
    "q219_shingle_df_profile" -> ((s, d) => {
      // reads the stored (digest, df) artifact (ShingleStore.df3, r19)
      // — the profile is then a ≤64-row bucket agg over a checkpointed
      // frame, not a fresh corpus explosion per call
      val df = ShingleStore.df3(s, d)
      df.groupBy(length(bin(col("df"))).cast("int").as("df_bucket"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("df")).as("n_postings"),
          sum(when(col("df") > DefaultMaxDocFreq, 1L).otherwise(0L))
            .as("n_types_dropped"),
          sum(when(col("df") > DefaultMaxDocFreq, col("df")).otherwise(0L))
            .as("n_postings_dropped"))
        .orderBy("df_bucket")
    }),

    // embedding-cosine near-dup pairs — the EXACT baseline, deliberately
    // capped to a bounded slice (all-pairs is quadratic; an uncapped
    // registered query would be a scale landmine). q43 is the uncapped
    // sub-quadratic LSH path for the full corpus; RecallSpec gates it
    // against this exact form.
    "q29_dedup_embedding" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(col("vec_id") < EmbeddingExactCap)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          graft.functions.VectorFunctions.cosine(col("a.v"), col("b.v")).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_r"))
        .orderBy("vec_a", "vec_b")
    })
  )

  /** Bound on [[dedupComponents]] rounds. Each round at least doubles
    * the distance labels have propagated (see the recurrence in the
    * Scaladoc), so 40 rounds cover any component diameter below 2⁴⁰ —
    * hitting the cap means the fixpoint logic itself is broken, and the
    * loop fails loudly rather than return unconverged (wrong) labels.
    */
  private val MaxComponentRounds = 40

  /** When the label frame (|V| of the pair graph — near-dup docs only,
    * far smaller than the corpus) fits under this row count, every
    * per-round join broadcasts it and rounds run shuffle-free except the
    * neighbor-min aggregation. 2M rows × 16 bytes ≈ 32 MB — comfortably
    * inside executor broadcast budgets. Above the cap the same loop runs
    * with shuffle hash/sort-merge joins: the 100 TB path, identical
    * semantics, no driver-side state either way.
    */
  private val ComponentBroadcastCap = 2000000L

  /** Connected components over a near-dup pair graph: min-label
    * propagation with a pointer-jumping hop — each doc adopts the
    * smallest doc_id reachable through pair edges; converged when a full
    * round changes nothing. This is the step that turns pairwise
    * near-dup evidence into KEEP/DROP decisions (canonical = min id per
    * component).
    *
    * Each round takes, per node, min(own label, neighbors' labels), then
    * hops ONCE more through the label table (label-of-label). The hop is
    * what makes convergence logarithmic: if labels point `d` ids back
    * along a chain at round start, neighbor-min reaches d+1 and the hop
    * doubles it to 2d+1 — so a path of length L converges in ~log₂L
    * rounds, not the L rounds plain propagation needs. The hop joins the
    * tentative label against the SAME round-start label table in one
    * select chain — a label is always a node id in the same component
    * (it entered via an edge or a previous hop), so the looked-up parent
    * label is too; min keeps the fixpoint = component minimum; left join
    * so the component-min node's own id resolves to itself, never drops.
    *
    * Perf shape: ONE materialization per round (a single eager
    * localCheckpoint of the whole neighbor-min → hop chain, which also
    * truncates lineage — without it driver-side re-planning dominates),
    * entirely columnar (no typed ser/de bridge out of Tungsten), and the
    * convergence signal is a `limit(1)`-bounded scan over the
    * just-materialized frame — milliseconds, no recompute. Small graphs
    * (≤ [[ComponentBroadcastCap]] nodes) broadcast the label side so a
    * round costs one tiny aggregation and two broadcast-hash joins;
    * large graphs fall back to shuffle joins with the identical plan
    * shape.
    */
  /** `broadcastCap` overrides [[ComponentBroadcastCap]] — tests pass 0 to
    * force the shuffle-join branch (the 100 TB path) on small graphs,
    * which no realistic test corpus would otherwise reach.
    */
  def dedupComponents(pairs: DataFrame,
                      broadcastCap: Long = ComponentBroadcastCap): DataFrame =
    dedupComponentsWithRounds(pairs, broadcastCap)._1

  /** [[dedupComponents]] plus the number of propagation rounds it took —
    * the doubling recurrence (d → 2d+1 per round) makes the bound
    * ⌈log₂(diameter+1)⌉ + 1, and the convergence specs assert the COUNT
    * against that bound, not just termination.
    */
  private[graft] def dedupComponentsWithRounds(
      pairs: DataFrame, broadcastCap: Long): (DataFrame, Int) = {
    // undirected edge list, both directions; materialized once — every
    // round probes it (localCheckpoint, not cache: freed on GC, no
    // session-lifetime storage pin)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    // the checkpointed frame backing `labels` — tracked separately
    // because later rounds rebind `labels` to a Project over it, and
    // releaseCheckpoint must see the raw LogicalRDD frame
    var resident = labels
    val small = labels.count() <= broadcastCap
    def lab(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < MaxComponentRounds) {
      val neighborMin = edges
        .join(lab(labels.select(col("doc_id").as("dst"), col("label").as("dst_label"))),
          Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("dst_label")).as("nbr_label"))
      val parent = labels
        .select(col("doc_id").as("mid_label"), col("label").as("parent_label"))
      val next = labels.withColumnRenamed("label", "old_label")
        .join(lab(neighborMin), Seq("doc_id"), "left")
        .withColumn("mid_label",
          least(col("old_label"), coalesce(col("nbr_label"), col("old_label"))))
        .join(lab(parent), Seq("mid_label"), "left")
        .select(col("doc_id"),
          least(col("mid_label"), coalesce(col("parent_label"), col("mid_label"))).as("label"),
          col("old_label"))
      // fresh-stats checkpoint, NOT Dataset.localCheckpoint: the latter
      // snapshots the origin plan's estimated stats (SPARK-39902), and a
      // loop that joins its own previous output 3× per round compounds
      // that estimate ~S³ per round — at chain-graph round counts the
      // driver ends up multiplying hundred-megabit BigIntegers inside
      // join-size estimation (minutes per round; see ColumnBridge
      // Scaladoc). Same eager materialization, bounded stats.
      val materialized = org.apache.spark.sql.graft.ColumnBridge
        .localCheckpointFreshStats(if (small) next.coalesce(1) else next)
      // eager-release the superseded round (the q118 retention rule): a
      // log₂(diameter) loop must hold TWO label snapshots, not all of them
      org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(resident)
      resident = materialized
      changed = materialized.filter(col("label") =!= col("old_label")).limit(1).count()
      labels = materialized.drop("old_label")
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"dedupComponents did not converge after $MaxComponentRounds rounds " +
          "— refusing to return unconverged labels")
    // the returned frame is backed only by the final round's blocks
    org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(edges)
    (labels, rounds)
  }

  /** q28's SimHash pair frame as a FrameMemo stored artifact (the r18
    * q117/q208 contract: method result frames build once, priced in
    * Bench's shared_build; the registered q28 presents it, q208 scores
    * the identical frame so the two can never drift).
    */
  private[graft] def simhashPairs(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "simhashPairs") {
      val sigs = FrameMemo.scratch(Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        simhash(tokens(col("text"))).as("sig")))
      val chunks = sigs.select(col("doc_id"), col("lang"), col("sig"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("sig"), 16 * c).bitwiseAND(0xFFFFL).as("cval"))): _*)).as("cc"))
        .select(col("doc_id"), col("lang"), col("sig"), col("cc.chunk"), col("cc.cval"))
      chunks.as("a").join(chunks.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
            col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    }

  /** q49's LSH component group rows, FrameMemo'd for the same reason —
    * the iterative pointer-jumping component run happens once per
    * (session, dir), not once per consumer (q49 presents, q208 scores).
    */
  private[graft] def lshGroupRows(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "lshGroupRows") {
      dedupComponents(minhashLshPairs(s, d, threshold = 0.2))
        .groupBy(col("label").as("keep_doc_id"))
        .agg(count(lit(1)).as("group_size"),
          max(col("doc_id")).as("max_member"))
    }

  val componentQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // near-dup groups: jaccard pairs -> connected components -> canonical
    // keep id + member count per group. Oracle-checked: the pair SQL is
    // portable (q26) and the component labels are re-derived in DuckDB by
    // a recursive transitive-closure CTE + MIN per node.
    "q47_dedup_groups" -> ((s, d) => {
      // the pair graph arrives materialized (FrameMemo contract): the
      // edge union and every propagation round read the checkpointed
      // partitions — no per-consumer re-checkpoint
      val pairs = jaccardPairs(s, d, threshold = 0.2)
      dedupComponents(pairs)
        .groupBy(col("label").as("keep_doc_id"))
        .agg(count(lit(1)).as("group_size"),
          max(col("doc_id")).as("max_member"))
        .orderBy("keep_doc_id")
    }),

    // LEAKAGE-SAFE train/val/test split: q54 hashes each doc_id
    // independently, so two near-duplicate documents can land in train
    // AND test — the eval-contamination failure mode dedup exists to
    // prevent. Here the split key is the near-dup GROUP (q47's
    // connected-component label; singletons key by their own id), so an
    // entire duplicate cluster moves as one unit and no near-dup pair
    // can ever straddle splits. Same md5-prefix rule as q54 — the split
    // RATE stays 12/2/2, only the unit of assignment changes. Scale:
    // the pair graph + components are the q47 machinery (memoized,
    // sub-quadratic via q49's LSH pairs in production); the split itself
    // is one narrow hash + a left join of labels onto the corpus.
    "q144_split_leakage_safe" -> ((s, d) => {
      val labels = dedupComponents(jaccardPairs(s, d, threshold = 0.2))
        .select(col("doc_id"), col("label"))
      graft.Tables.documents(s, d)
        .join(labels, Seq("doc_id"), "left")
        .withColumn("group_key", coalesce(col("label"), col("doc_id")))
        .select(col("doc_id"), col("group_key"),
          Sampling.splitOf(col("group_key")).as("split"))
        .orderBy("doc_id")
    }),

    // Cross-SOURCE duplication matrix — the corpus-governance report
    // behind source weighting: which sources share near-duplicate
    // content with which (mirrors/scrapes/re-posts), as (source-pair →
    // pair count, jaccard range). Source pairs are canonicalized
    // (least/greatest) so the matrix is one triangle; min/max jaccard
    // instead of avg keeps the floats shuffle-order-independent. Scale:
    // two broadcast-sized joins of the (doc_id, source) projection onto
    // the memoized pair graph + a tiny |sources|² aggregate — the
    // corpus text never moves.
    "q145_crosssource_dup_matrix" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("source"))
      jaccardPairs(s, d, threshold = 0.2)
        .join(docs.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("src_lo"),
          greatest(col("sa"), col("sb")).as("src_hi"), col("jaccard"))
        .groupBy("src_lo", "src_hi")
        .agg(count(lit(1)).as("n_pairs"),
          round(min(col("jaccard")), 4).as("min_jac"),
          round(max(col("jaccard")), 4).as("max_jac"))
        .orderBy("src_lo", "src_hi")
    }),

    // SEMANTIC dedup, cluster-bounded (the SemDeDup design, Abbas et al.
    // 2023): instead of LSH buckets (q43) or a global cross join (q29),
    // candidate pairs meet ONLY inside their coarse k-means cell — the
    // integer-exact 16-cell quantizer q147/q148 already train (one model,
    // three consumers) — and a vector is a duplicate iff an EARLIER
    // (smaller-id) cell-mate sits at cosine ≥ 0.4; its keeper is the
    // smallest such mate. Within-cell quadratic is the op's contract and
    // its scale story: cost ∝ Σ|cell|², controlled by k (thousands of
    // cells at corpus scale, ~n/k per cell), never |corpus|². Fully
    // oracle-checked: the cell chain replays via PqOps.coarseChainCtes
    // and the pair math is portable cosine — the only dedup-family
    // member whose CLUSTERING is cross-engine exact too.
    "q151_semantic_dedup_cells" -> ((s, d) => {
      import graft.functions.VectorFunctions.cosine
      val e = graft.Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val withCell = e.join(
        PqOps.residCodes(s, d).select(col("vec_id"), col("coarse").as("cell")),
        Seq("vec_id"))
      val a = withCell.select(col("vec_id").as("va"), col("v").as("av"), col("cell"))
      val b = withCell.select(col("vec_id").as("vb"), col("v").as("bv"), col("cell"))
      val pairs = a.join(b, Seq("cell")).filter(col("va") < col("vb"))
        .withColumn("cos", cosine(col("av"), col("bv")))
        .filter(col("cos") >= SemDedupTau)
      val dups = pairs.groupBy(col("vb").as("vec_id"))
        .agg(min(struct(col("va"), col("cos"))).as("m"))
        .select(col("vec_id"), col("m.va").as("dup_of"), col("m.cos").as("dcos"))
      withCell.join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          col("dup_of").isNotNull.as("is_dup"), col("dup_of"),
          round(col("dcos"), 4).as("dup_cos_r"))
        .orderBy("vec_id")
    }),

    // the true 100 TB end-to-end dedup path: SUB-QUADRATIC pair
    // generation (MinHash+LSH, q27) feeding the same connected-components
    // grouping — where q47's exact shingle-join pair graph is the
    // correctness anchor, this is the plan you would actually run on a
    // full corpus. Rows-only (xxhash64 signatures aren't portable SQL);
    // RecallSpec gates its groups against q47's exact-pair groups.
    "q49_dedup_groups_lsh" -> ((s, d) =>
      lshGroupRows(s, d).orderBy("keep_doc_id")))

  /** The registered queries: [[baseQueries]] plus the groups above. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ componentQueries

  /** The q26 pair pipeline as a reusable DuckDB CTE chain (ends with a
    * `pairs(doc_a, doc_b)` relation at jaccard >= the given threshold) —
    * shared by the q26 oracle, the q47 connected-components oracle, and
    * (at t = 0.8) the q108 prefix-filter oracle, so all check against
    * the exact same pair graph definition.
    */
  private def pairCtes(threshold: String): String = PairCtes0
    .replace("__T__", threshold)
  private[graft] def PairCtes: String = pairCtes("0.2")
  private val PairCtes0 =
    """sets AS (
      |  SELECT doc_id, lang,
      |         list_distinct(CASE WHEN len(w) >= 3
      |           THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents)
      |), sized AS (
      |  SELECT doc_id, lang, sh, CAST(len(sh) AS INTEGER) AS n_sh FROM sets WHERE len(sh) > 0
      |), posting AS (
      |  SELECT doc_id, lang, UNNEST(sh) AS shingle FROM sized
      |), rare AS (
      |  SELECT shingle FROM posting GROUP BY shingle HAVING COUNT(*) <= 100
      |), filtered AS (
      |  SELECT p.* FROM posting p JOIN rare r ON p.shingle = r.shingle
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM filtered a JOIN filtered b
      |    ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), pairs AS (
      |  SELECT doc_a, doc_b,
      |         CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
      |  FROM inter i
      |  JOIN sized sa ON sa.doc_id = i.doc_a
      |  JOIN sized sb ON sb.doc_id = i.doc_b
      |  WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= __T__
      |)""".stripMargin

  /** q151 near-dup threshold — the q29/q43 embedding near-dup regime. */
  private[graft] val SemDedupTau = 0.4

  val oracleSql: Map[String, String] = Map(
    // q151: the coarse-cell chain is PqOps.coarseChainCtes VERBATIM (one
    // source of truth with q147's oracle and the engine's trainCoarse);
    // the within-cell pair math is portable cosine over the raw doubles
    "q151_semantic_dedup_cells" ->
      s"""WITH ${PqOps.coarseChainCtes},
         |av AS MATERIALIZED (
         |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         |         caf.cluster AS cell
         |  FROM embeddings e JOIN caf ON caf.vec_id = e.vec_id
         |), prs AS MATERIALIZED (
         |  SELECT va, vb, cos FROM (
         |    SELECT a.vec_id AS va, b.vec_id AS vb,
         |           list_cosine_similarity(a.v, b.v) AS cos
         |    FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  ) WHERE cos >= $SemDedupTau
         |), dups AS (
         |  SELECT vb AS vec_id, MIN(va) AS dup_of FROM prs GROUP BY vb
         |), dupc AS (
         |  SELECT d.vec_id, d.dup_of, p.cos
         |  FROM dups d JOIN prs p ON p.vb = d.vec_id AND p.va = d.dup_of
         |)
         |SELECT a.vec_id, a.cell,
         |       d.dup_of IS NOT NULL AS is_dup, d.dup_of,
         |       ROUND(d.cos, 4) AS dup_cos_r
         |FROM av a LEFT JOIN dupc d USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin,

    "q219_shingle_df_profile" ->
      s"""WITH sets AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
         |    THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]
         |    ELSE [] END) AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
         |), dfreq AS (
         |  SELECT sd, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM (SELECT md5(UNNEST(sh)) AS sd FROM sets)
         |  GROUP BY sd
         |)
         |SELECT CAST(length(bin(df)) AS INTEGER) AS df_bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_types,
         |       CAST(SUM(df) AS BIGINT) AS n_postings,
         |       CAST(COUNT(*) FILTER (df > $DefaultMaxDocFreq) AS BIGINT)
         |         AS n_types_dropped,
         |       CAST(COALESCE(SUM(df) FILTER (df > $DefaultMaxDocFreq), 0) AS BIGINT)
         |         AS n_postings_dropped
         |FROM dfreq GROUP BY 1 ORDER BY 1""".stripMargin,

    "q218_dup_burden_by_source" ->
      s"""WITH $PairCtes,
         |dup AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs
         |  )
         |)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(dup.doc_id) AS BIGINT) AS n_dup_docs,
         |       CAST(COUNT(dup.doc_id) AS BIGINT) * 1000000 // COUNT(*) AS dup_ppm
         |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q25_dedup_exact" ->
      """SELECT md5(text) AS content_md5,
        |       MIN(doc_id) AS keep_doc_id,
        |       COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keep_doc_id""".stripMargin,

    "q26_dedup_ngram_jaccard" ->
      s"""WITH $PairCtes
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the SAME pair-graph definition at the near-dup threshold — the
    // prefix filter must be invisible in the result (zero false
    // negatives), which is exactly what distinguishes it from LSH
    "q108_dedup_jaccard_prefix" ->
      s"""WITH ${pairCtes("0.8")}
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    // connected components in portable SQL: recursive transitive closure
    // over the undirected edge list, then MIN(reachable) per node = the
    // same min-label fixpoint dedupComponents converges to.
    "q47_dedup_groups" ->
      s"""WITH RECURSIVE $PairCtes,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs
         |), reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.node
         |), labels AS (
         |  SELECT node AS doc_id, MIN(r) AS label FROM reach GROUP BY node
         |)
         |SELECT label AS keep_doc_id, COUNT(*) AS group_size, MAX(doc_id) AS max_member
         |FROM labels
         |GROUP BY label
         |ORDER BY keep_doc_id""".stripMargin,

    // same pair graph, source-labeled twice, canonicalized triangle
    "q145_crosssource_dup_matrix" ->
      s"""WITH $PairCtes
         |SELECT LEAST(da.source, db.source) AS src_lo,
         |       GREATEST(da.source, db.source) AS src_hi,
         |       COUNT(*) AS n_pairs,
         |       ROUND(MIN(p.jaccard), 4) AS min_jac,
         |       ROUND(MAX(p.jaccard), 4) AS max_jac
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2
         |ORDER BY src_lo, src_hi""".stripMargin,

    // the q47 component labels (same recursive closure) keyed onto the
    // whole corpus, then q54's exact split rule over the GROUP key
    "q144_split_leakage_safe" ->
      s"""WITH RECURSIVE $PairCtes,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs
         |), reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.node
         |), labels AS (
         |  SELECT node AS doc_id, MIN(r) AS label FROM reach GROUP BY node
         |), keyed AS (
         |  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN labels l USING (doc_id)
         |)
         |SELECT doc_id, group_key,
         |       CASE WHEN substr(md5(group_key::VARCHAR), 1, 1) IN ('c','d') THEN 'validation'
         |            WHEN substr(md5(group_key::VARCHAR), 1, 1) IN ('e','f') THEN 'test'
         |            ELSE 'train' END AS split
         |FROM keyed
         |ORDER BY doc_id""".stripMargin,

    "q29_dedup_embedding" ->
      s"""SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_r FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                                CAST(b.embedding AS DOUBLE[])) AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE a.vec_id < $EmbeddingExactCap AND b.vec_id < $EmbeddingExactCap
         |)
         |WHERE cos >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
  )

  /** xxhash64-signature ops — not expressible in portable SQL. All
    * three are driver-hash-gated regardless: recall/precision vs exact
    * twins via q208, and q28's vote/pack signature machinery
    * bit-for-bit via q223's md5-48 contract replay (r19).
    */
  override val rowsOnly: Set[String] =
    Set("q27_dedup_minhash_lsh", "q28_dedup_simhash", "q49_dedup_groups_lsh")
}
