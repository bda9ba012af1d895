package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Unigram language-model tokenizer (Kudo 2018 — the SentencePiece
  * unigram algorithm), hard-EM variant: completes the in-engine
  * tokenizer family next to BPE (q135 train / q136 encode / q140 batch /
  * q141 replay). BPE is bottom-up merge; unigram is top-down — seed a
  * substring vocabulary, then alternate Viterbi segmentation (E) with
  * piece-probability re-estimation (M). Fixed vocabulary + fixed
  * [[EmRounds]] + integer micro-nat log-probs make every round
  * bit-deterministic, so the DuckDB oracle replays the WHOLE training —
  * seed freqs, both EM rounds (each a 12-step forward DP + 12-step
  * backtrack as chained CTEs), and the final segmentation.
  *
  * Determinism contract: piece log-probs quantize to micro-nats at each
  * model edge (round(ln(p)·10⁶), the q153 grain), so Viterbi scores are
  * integer SUMS; the DP argmax tie-breaks (score desc, split-point
  * desc = shortest last piece), and single-char pieces always stay in
  * vocab, so every word segments. The only floats are one ln per vocab
  * piece per round, of integer-derived rationals (the q134 discipline).
  *
  * Scale shape: the corpus pays ONE tokenize + word-frequency groupBy
  * (map-side combined); everything after runs on the word-TYPE table
  * (vocabulary-sized) — per-round cost is a partition-local DP per type
  * (`mapPartitions`, model as a [[VocabMulti]]+alphabet-sized collected
  * map — model state, the IVF/q153 edge) plus one piece-count groupBy.
  * Types scale out across tasks; no driver loop touches per-word data.
  */
object UnigramLm extends graft.QueryModule {

  /** Max piece length (seed substrings 1..4 chars). */
  private[graft] val MaxPiece = 4

  /** Multi-char seed pieces kept (by corpus freq desc, piece asc);
    * single chars are always kept so segmentation is total.
    */
  private[graft] val VocabMulti = 40

  /** Hard-EM rounds (Viterbi E-step, add-one-smoothed M-step). */
  private[graft] val EmRounds = 2

  /** Word-type length bound — the DP unrolls to this many steps in the
    * oracle; longer types are excluded by contract (pre-tokenization
    * splits runs; corpus words here are ≤ 8 chars).
    */
  private[graft] val MaxWord = 12

  private val Grain = 1000000L

  /** round(x·10⁶) HALF_UP away from zero — the Spark/DuckDB ROUND
    * convention (the q154 JVM-side twin of q153's in-plan round).
    */
  private def quant(x: Double): Long =
    java.math.BigDecimal.valueOf(x * Grain.toDouble)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** (word, n) corpus word types within the [[MaxWord]] contract. */
  private def wordTypes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, MaxWord))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Viterbi-segment one word under integer piece scores: best[j] =
    * max over i ∈ [j−[[MaxPiece]], j) with word(i,j) ∈ model of
    * best[i] + lp(piece); ties prefer the LARGER i (shortest last
    * piece) — iterating i ascending with ≥ implements exactly the
    * oracle's ROW_NUMBER (ORDER BY best DESC, ptr DESC) pick.
    */
  private[graft] def viterbi(w: String, model: Map[String, Long]): Seq[String] = {
    val L = w.length
    val best = new Array[Long](L + 1)
    val ptr = new Array[Int](L + 1)
    var j = 1
    while (j <= L) {
      var found = false
      var i = math.max(0, j - MaxPiece)
      while (i < j) {
        model.get(w.substring(i, j)) match {
          case Some(lp) =>
            val sc = best(i) + lp
            if (!found || sc >= best(j)) { best(j) = sc; ptr(j) = i; found = true }
          case None => ()
        }
        i += 1
      }
      require(found, s"unsegmentable prefix of '$w' at $j")
      j += 1
    }
    var at = L
    var acc = List.empty[String]
    while (at > 0) { acc = w.substring(ptr(at), at) :: acc; at = ptr(at) }
    acc
  }

  /** q156: train the unigram LM and emit the final per-type
    * segmentation (word, n, n_pieces, seg).
    */
  def unigramTrain(s: SparkSession, d: String): DataFrame =
    segmentedTypes(s, d).orderBy("word")

  /** q159: tokenizer fertility/compression report per source under the
    * q156-trained model — the signal tokenizer evaluations actually
    * publish (how many pieces a word costs, how many chars a piece
    * buys) and the number corpus teams compare tokenizers BY before
    * committing one to a training run. One model, two consumers: the
    * training chain is q156's verbatim (and the oracle shares the
    * same CTE body); this query re-weights the per-TYPE segmentation
    * by per-(source, word) occurrence counts, so the corpus pays one
    * extra tokenize + groupBy and a word-keyed join against the
    * vocabulary-sized type table — no per-doc Viterbi.
    */
  def fertilityReport(s: SparkSession, d: String): DataFrame = {
    val seg = segmentedTypes(s, d).select("word", "n_pieces")
    val wts = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, MaxWord))
      .groupBy("source", "word").agg(count(lit(1)).as("n_s"))
    wts.join(seg, Seq("word"))
      .groupBy("source")
      .agg(
        sum(col("n_s")).as("n_words"),
        sum(col("n_s") * col("n_pieces")).as("n_pieces_total"),
        round(sum(col("n_s") * col("n_pieces")).cast("double")
          / sum(col("n_s")), 6).as("pieces_per_word_r"),
        round(sum(col("n_s") * length(col("word"))).cast("double")
          / sum(col("n_s") * col("n_pieces")), 6).as("chars_per_piece_r"))
      .orderBy("source")
  }

  /** The trained model's final per-type segmentation — q156 presents
    * it, q159 re-weights it per source.
    */
  private def segmentedTypes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the one corpus-sized stage; reused by seed + every EM pass
    val wtc = wordTypes(s, d).localCheckpoint().as[(String, Long)]

    // seed: overlapping substring freqs, weighted by type count
    val subs = wtc.toDF("word", "n")
      .select(col("word"), col("n"),
        explode(sequence(lit(1), least(length(col("word")), lit(MaxPiece)))).as("l"))
      .select(col("word"), col("n"), col("l"),
        explode(sequence(lit(1), length(col("word")) - col("l") + 1)).as("i"))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("n"))
      .groupBy("piece").agg(sum("n").as("f"))
    // top-k ENGINE-side (TakeOrderedAndProject: per-partition heads,
    // one merge), so the driver sees only the kept alphabet+VocabMulti
    // rows — collecting the full substring-frequency table first is the
    // classic driver OOM on a real corpus (the 1..MaxPiece-gram space)
    val kept = subs.filter(length(col("piece")) === 1)
      .unionAll(subs.filter(length(col("piece")) > 1)
        .orderBy(col("f").desc, col("piece")).limit(VocabMulti))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = kept.keys.toSeq.sorted
    val vTot = kept.values.sum.toDouble
    var model = vocab.map(p => p -> quant(math.log(kept(p) / vTot))).toMap

    // hard-EM rounds: distributed Viterbi E-step, model-edge M-step
    for (_ <- 1 to EmRounds) {
      val m = model
      val counts = wtc
        .flatMap { case (w, n) => viterbi(w, m).map(p => (p, n)) }
        .toDF("piece", "cnt").groupBy("piece").agg(sum("cnt").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = counts.values.sum.toDouble + vocab.length
      model = vocab
        .map(p => p -> quant(math.log((counts.getOrElse(p, 0L) + 1) / total)))
        .toMap
    }

    val m = model
    wtc.map { case (w, n) =>
      val seg = viterbi(w, m)
      (w, n, seg.length.toLong, seg.mkString(" "))
    }.toDF("word", "n", "n_pieces", "seg")
  }

  // ------------------------------------------------------------ oracle

  /** One Viterbi pass (forward DP + backtrack) as chained MATERIALIZED
    * CTEs against model table `m`: f{r}_j carries (word, best, ptr) for
    * prefix length j; b{r}_k walks pointers from length(word) down;
    * edges{r} is the traversed (i, j] piece spans.
    */
  private def viterbiCtes(r: Int, m: String): String = {
    val fwd = (1 to MaxWord).map { j =>
      val arms = (math.max(0, j - MaxPiece) until j).map { i =>
        s"""SELECT f.word, f.best + m.lp AS best, $i AS ptr
           |FROM f${r}_$i f JOIN $m m ON m.piece = substr(f.word, ${i + 1}, ${j - i})
           |WHERE length(f.word) >= $j""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""f${r}_$j AS MATERIALIZED (
         |  SELECT word, best, ptr FROM (
         |    SELECT word, best, ptr, ROW_NUMBER() OVER (
         |      PARTITION BY word ORDER BY best DESC, ptr DESC) AS rn
         |    FROM (
         |$arms
         |    )) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val ptrs = (1 to MaxWord)
      .map(j => s"SELECT word, $j AS j, ptr FROM f${r}_$j")
      .mkString("\nUNION ALL\n")
    val back = (1 to MaxWord).map { k =>
      s"""e${r}_$k AS MATERIALIZED (
         |  SELECT b.word, p.ptr AS i, b.j AS j FROM b${r}_${k - 1} b
         |  JOIN ptrs$r p ON p.word = b.word AND p.j = b.j WHERE b.j > 0),
         |b${r}_$k AS MATERIALIZED (SELECT word, i AS j FROM e${r}_$k)""".stripMargin
    }.mkString(",\n")
    val eu = (1 to MaxWord).map(k => s"SELECT * FROM e${r}_$k")
      .mkString("\nUNION ALL\n")
    s"""f${r}_0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS best FROM wt),
       |$fwd,
       |ptrs$r AS MATERIALIZED (
       |$ptrs
       |),
       |b${r}_0 AS MATERIALIZED (SELECT word, length(word) AS j FROM wt),
       |$back,
       |edges$r AS MATERIALIZED (
       |$eu
       |)""".stripMargin
  }

  /** The full training replay as a WITH body — q156 and q159 share it
    * verbatim (one model, two oracle consumers).
    */
  private def trainingCtes: String = {
    val emRounds = (0 until EmRounds).map { r =>
      s"""${viterbiCtes(r, s"m$r")},
         |c$r AS MATERIALIZED (
         |  SELECT substr(e.word, e.i + 1, e.j - e.i) AS piece,
         |         CAST(SUM(w.n) AS BIGINT) AS cnt
         |  FROM edges$r e JOIN wt w ON w.word = e.word GROUP BY 1),
         |m${r + 1} AS MATERIALIZED (
         |  SELECT v.piece, CAST(ROUND($Grain * LN(
         |    (COALESCE(c.cnt, 0) + 1) /
         |    ((SELECT CAST(SUM(cnt) AS DOUBLE) FROM c$r) +
         |     (SELECT COUNT(*) FROM vocab)))) AS BIGINT) AS lp
         |  FROM vocab v LEFT JOIN c$r c ON c.piece = v.piece)""".stripMargin
    }.mkString(",\n")
    s"""WITH wt AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE length(word) BETWEEN 1 AND $MaxWord GROUP BY word),
       |s1 AS (SELECT word, n,
       |       unnest(range(1, LEAST(length(word), $MaxPiece) + 1)) AS L FROM wt),
       |s2 AS (SELECT word, n, L,
       |       unnest(range(1, length(word) - L + 2)) AS i FROM s1),
       |freq AS MATERIALIZED (
       |  SELECT substr(word, i, L) AS piece, CAST(SUM(n) AS BIGINT) AS f
       |  FROM s2 GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT piece, f FROM freq WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, f FROM (
       |    SELECT piece, f, ROW_NUMBER() OVER (ORDER BY f DESC, piece) AS rk
       |    FROM freq WHERE length(piece) > 1) WHERE rk <= $VocabMulti),
       |m0 AS MATERIALIZED (
       |  SELECT piece, CAST(ROUND($Grain * LN(
       |    f / (SELECT CAST(SUM(f) AS DOUBLE) FROM vocab))) AS BIGINT) AS lp
       |  FROM vocab),
       |$emRounds,
       |${viterbiCtes(EmRounds, s"m$EmRounds")}""".stripMargin
  }

  private def q156OracleSql: String =
    s"""$trainingCtes
       |SELECT w.word, CAST(MIN(w.n) AS BIGINT) AS n,
       |       CAST(COUNT(*) AS BIGINT) AS n_pieces,
       |       STRING_AGG(substr(e.word, e.i + 1, e.j - e.i), ' ' ORDER BY e.i) AS seg
       |FROM edges$EmRounds e JOIN wt w ON w.word = e.word
       |GROUP BY w.word ORDER BY w.word""".stripMargin

  private def q159OracleSql: String =
    s"""$trainingCtes,
       |np AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
       |  FROM edges$EmRounds GROUP BY word),
       |wts AS MATERIALIZED (
       |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n_s FROM (
       |    SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE length(word) BETWEEN 1 AND $MaxWord GROUP BY source, word)
       |SELECT source,
       |       CAST(SUM(n_s) AS BIGINT) AS n_words,
       |       CAST(SUM(n_s * n_pieces) AS BIGINT) AS n_pieces_total,
       |       ROUND(SUM(n_s * n_pieces) / CAST(SUM(n_s) AS DOUBLE), 6)
       |         AS pieces_per_word_r,
       |       ROUND(SUM(n_s * length(word)) / CAST(SUM(n_s * n_pieces) AS DOUBLE), 6)
       |         AS chars_per_piece_r
       |FROM wts JOIN np USING (word)
       |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q156_unigram_lm_train" -> ((s, d) => unigramTrain(s, d)),
    "q159_tokenizer_fertility" -> ((s, d) => fertilityReport(s, d)))

  val oracleSql: Map[String, String] = Map(
    "q156_unigram_lm_train" -> q156OracleSql,
    "q159_tokenizer_fertility" -> q159OracleSql)
}
