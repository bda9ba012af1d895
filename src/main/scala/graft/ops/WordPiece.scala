package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer) —
  * the THIRD tokenizer family next to BPE (q135/q136/q140/q141,
  * bottom-up by raw pair count) and unigram-LM (q156/q159, top-down
  * Viterbi): WordPiece trains bottom-up like BPE but picks each merge by
  * the LIKELIHOOD gain score(a,b) = c(ab) / (c(a)·c(b)) — the pair whose
  * merge most increases a unigram LM's corpus likelihood — and marks
  * word-internal continuation with the `##` prefix, so the vocabulary
  * distinguishes "able" (word start) from "##able" (suffix). Encoding is
  * greedy longest-match-first with whole-word `[UNK]` fallback — exactly
  * the `WordpieceTokenizer` every BERT-family pipeline ships.
  *
  * Reference scope: the reference lakehouse (SQL/03_analysis_queries.sql)
  * has no tokenizer surface; this extends the training-data-pipeline
  * family the same way q135/q156 do, sharing their machinery: the
  * leftmost-greedy window rewrite is [[LmTokenizer.applyPairs]] with the
  * merged literal `p1 + strip##(p2)` instead of `p1+p2`, and the split
  * is [[LmTokenizer.symSplit]]'s code-point discipline plus the `##`
  * marking of every non-initial symbol.
  *
  * Determinism contract (the q153/q156 micro-nat discipline): counts are
  * exact integers; the per-round argmax key is
  * `round(10⁶·(ln c(ab) − ln c(a) − ln c(b)))` — ONE quantized ln-sum of
  * integer-derived values, identical expression shape in both engines —
  * with the (score desc, p1, p2) lexicographic tie-break. A score within
  * ~1 ULP of a .5·10⁻⁶ boundary could round apart cross-engine (the
  * documented q154 hazard; WordPieceSpec gates the corpus run's argmax
  * margins away from boundaries).
  *
  * Scale shape (the q135 shape): the corpus pays ONE tokenize +
  * word-frequency groupBy; every round then touches the vocabulary-sized
  * type table — one per-word window pass, one alphabet²-keyed pair count
  * joined against the alphabet-keyed symbol count, TakeOrdered(1)
  * collected as the 1-row model and folded back as literals. Per-round
  * localCheckpoint + eager release (the q118 retention rule).
  */
object WordPiece extends graft.QueryModule {

  /** Merge rounds — matches [[LmTokenizer.BpeRounds]] so the two
    * bottom-up families are directly comparable on the same corpus.
    */
  private[graft] val Rounds = 10

  /** Word-type length bound (code points) — the q156 contract: the
    * oracle's greedy-encode chain unrolls to this many steps.
    */
  private[graft] val MaxWord = 12

  /** `##x` → `x`; plain symbols pass through. */
  private def stripCont(sym: String): String =
    if (sym.startsWith("##")) sym.substring(2) else sym

  /** Initial WordPiece state: the code-point split with every
    * non-initial symbol carrying the `##` continuation marker.
    */
  private[graft] def wpSplit(words: DataFrame): DataFrame =
    LmTokenizer.symSplit(words)
      .withColumn("sym",
        when(col("pos") > 0, concat(lit("##"), col("sym")))
          .otherwise(col("sym")))

  /** (word, n) type table of whitespace tokens within the length
    * contract — the one corpus-sized stage.
    */
  private def wordTypes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, MaxWord))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Train `rounds` WordPiece merges over a (word, n) table. Returns
    * (merge table, final state). The classic one-merge-per-round loop:
    * WordPiece batching would need the q140 disjointness proof REDONE
    * under the ratio score (a merge changes its neighbours' unit counts
    * and therefore OTHER pairs' scores, which raw-count BPE batching
    * never has to reason about), so each round collects exactly the
    * argmax row — the IVF collected-model pattern.
    */
  private[graft] def trainOn(words: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val s = words.sparkSession
    var state = wpSplit(words).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long, Long)]
    var done = 0
    var exhausted = false
    while (done < rounds && !exhausted) {
      val withNext = state
        .withColumn("nxt", lead(col("sym"), 1).over(LmTokenizer.wOrd))
      val pairCnt = withNext.filter(col("nxt").isNotNull)
        .groupBy("sym", "nxt").agg(sum(col("n")).as("cnt"))
      val symCnt = state.groupBy("sym").agg(sum(col("n")).as("c"))
      val top = pairCnt
        .join(symCnt.select(col("sym"), col("c").as("c1")), Seq("sym"))
        .join(symCnt.select(col("sym").as("nxt"), col("c").as("c2")), Seq("nxt"))
        .withColumn("score",
          round(lit(1000000.0) *
            (log(col("cnt")) - log(col("c1")) - log(col("c2")))).cast("long"))
        .orderBy(col("score").desc, col("sym"), col("nxt"))
        .select("sym", "nxt", "cnt", "score")
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        val (p1, p2) = (r.getString(0), r.getString(1))
        val merged = p1 + stripCont(p2)
        merges += ((done + 1, p1, p2, merged, r.getLong(2), r.getLong(3)))
        val prev = state
        state = LmTokenizer.applyPairs(state, Seq((p1, p2, merged)))
          .localCheckpoint()
        org.apache.spark.sql.graft.ColumnBridge.releaseCheckpoint(prev)
        done += 1
      }
    }
    import s.implicits._
    val mergeTable = merges.result()
      .toDF("merge_round", "p1", "p2", "merged", "cnt", "score")
      .orderBy("merge_round")
    (mergeTable, state)
  }

  /** q161: the trained merge table over the documents corpus. */
  def wordpieceTrain(s: SparkSession, d: String): DataFrame =
    trainOn(wordTypes(s, d), Rounds)._1

  /** The trained vocabulary = the training corpus's initial symbol
    * alphabet (plain + `##`-marked forms) ∪ every merged output — what a
    * WordPiece trainer writes to vocab.txt. Driver-side model (alphabet
    * + [[Rounds]] rows — the IVF collected-model edge), FrameMemo'd so
    * q161/q162 train once per corpus.
    */
  private[graft] def trainedVocab(s: SparkSession, d: String): Set[String] =
    FrameMemo.value(s, d, "wordpieceVocab") {
      val words = wordTypes(s, d)
      val alphabet = wpSplit(words).select("sym").distinct()
        .collect().map(_.getString(0)).toSet
      val merged = trainOn(words, Rounds)._1
        .select("merged").collect().map(_.getString(0)).toSet
      alphabet ++ merged
    }

  /** Greedy longest-match-first WordPiece encode of one word (code-point
    * walk): at each position take the LONGEST vocab piece matching the
    * remaining text (`##`-marked when not word-initial); if none
    * matches, the WHOLE word is `[UNK]` — the BERT rule (no partial
    * fallback). None = unk.
    */
  private[graft] def greedyEncode(w: String, vocab: Set[String]): Option[Seq[String]] = {
    val cps = w.codePoints().toArray
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < cps.length) {
      var l = cps.length - i
      var hit: String = null
      while (l >= 1 && hit == null) {
        val core = new String(cps, i, l)
        val piece = if (i == 0) core else "##" + core
        if (vocab.contains(piece)) hit = piece else l -= 1
      }
      if (hit == null) return None
      out += hit
      i += l
    }
    Some(out.result())
  }

  /** q162: the trained tokenizer applied OUT OF DOMAIN (the q141
    * companion) — greedy-encode the part-name vocabulary, words the
    * trainer never saw, with the `[UNK]` whole-word fallback exercised
    * by characters absent from the training alphabet. Scale: the model
    * is a broadcast-sized Set; encoding runs once per word TYPE (an
    * unbounded corpus pays tokenize + dictionary join, the q136 shape).
    */
  def wordpieceEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = trainedVocab(s, d)
    val oov = Tables.part(s, d)
      .select(explode(tokens(col("p_name"))).as("word"))
      .filter(length(col("word")).between(1, MaxWord))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
    oov.map { case (w, n) =>
      greedyEncode(w, vocab) match {
        case Some(pieces) => (w, n, pieces.length.toLong, pieces.mkString(" "))
        case None => (w, n, 1L, "[UNK]")
      }
    }.toDF("word", "n", "n_wp", "seg").orderBy("word")
  }

  // ------------------------------------------------------------ oracle

  /** One training round as CTEs: u{k} = unit counts from s{k-1}, the
    * lead pass, the scored argmax b{k} (ratio score in micro-nats), and
    * the [[LmTokenizer.applyPairs]] window algebra verbatim except the
    * merged literal strips `##` off p2. The LEFT JOIN ON TRUE carries
    * the state through early-exhausted rounds (the q135 pin).
    */
  private def wpRoundsSql: String = {
    val rounds = (1 to Rounds).map { k =>
      val p = k - 1
      s"""u$k AS MATERIALIZED (
         |  SELECT sym, CAST(SUM(n) AS BIGINT) AS c FROM s$p GROUP BY sym
         |), n$k AS MATERIALIZED (
         |  SELECT word, n, pos, sym,
         |         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM s$p
         |), b$k AS MATERIALIZED (
         |  SELECT p1, p2, cnt,
         |         CAST(ROUND(1000000 * (LN(cnt) - LN(ca.c) - LN(cb.c)))
         |              AS BIGINT) AS score
         |  FROM (SELECT sym AS p1, nxt AS p2, CAST(SUM(n) AS BIGINT) AS cnt
         |        FROM n$k WHERE nxt IS NOT NULL GROUP BY sym, nxt) p
         |  JOIN u$k ca ON ca.sym = p.p1
         |  JOIN u$k cb ON cb.sym = p.p2
         |  ORDER BY score DESC, p1, p2 LIMIT 1
         |), m$k AS MATERIALIZED (
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
         |         CASE WHEN keep THEN sym ||
         |           (CASE WHEN nxt LIKE '##%' THEN substr(nxt, 3) ELSE nxt END)
         |         ELSE sym END AS sym
         |  FROM h$k WHERE NOT consumed
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT token AS word, COUNT(*) AS n
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
       |        FROM documents)
       |  WHERE length(token) BETWEEN 1 AND $MaxWord
       |  GROUP BY token
       |), s0a AS (
       |  SELECT word, n, unnest(range(1, length(word) + 1)) AS i FROM w0
       |), s0 AS MATERIALIZED (
       |  SELECT word, n, i - 1 AS pos,
       |         CASE WHEN i = 1 THEN substr(word, CAST(i AS INT), 1)
       |              ELSE '##' || substr(word, CAST(i AS INT), 1) END AS sym
       |  FROM s0a
       |),
       |$rounds""".stripMargin
  }

  private def q161OracleSql: String = {
    val unioned = (1 to Rounds).map { k =>
      s"""SELECT $k AS merge_round, p1, p2,
         |       p1 || (CASE WHEN p2 LIKE '##%' THEN substr(p2, 3) ELSE p2 END)
         |         AS merged, cnt, score
         |FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$wpRoundsSql
       |SELECT * FROM ($unioned)
       |ORDER BY merge_round""".stripMargin
  }

  /** q162 oracle: the full q161 training chain, the vocab (s0 alphabet ∪
    * merged outputs), then the greedy encode unrolled to [[MaxWord]]
    * steps — each step joins the frontier against the vocab on the
    * remaining text and keeps the LONGEST match (ROW_NUMBER by core
    * length desc); a frontier row with no match drops out, leaving the
    * word's max-reached position short of its length = `[UNK]`.
    */
  private def q162OracleSql: String = {
    val steps = (1 to MaxWord).map { k =>
      val p = k - 1
      s"""t$k AS MATERIALIZED (
         |  SELECT word, i + len AS i, piece, $k AS step FROM (
         |    SELECT g.word, g.i, v.piece, v.len,
         |           ROW_NUMBER() OVER (PARTITION BY g.word ORDER BY v.len DESC)
         |             AS rn
         |    FROM t$p g JOIN wpv v
         |      ON v.cont = (g.i > 0)
         |     AND v.core = substr(g.word, CAST(g.i + 1 AS INT), CAST(v.len AS INT))
         |    WHERE g.i < length(g.word)
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val pickUnion = (1 to MaxWord).map(k => s"SELECT * FROM t$k")
      .mkString("\nUNION ALL\n")
    s"""$wpRoundsSql,
       |mrg AS (
       |${(1 to Rounds).map(k =>
           s"""  SELECT p1 || (CASE WHEN p2 LIKE '##%' THEN substr(p2, 3)
              |                ELSE p2 END) AS piece FROM b$k""".stripMargin)
         .mkString("\n  UNION ALL\n")}
       |), wpv AS MATERIALIZED (
       |  SELECT piece, piece LIKE '##%' AS cont,
       |         CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
       |              ELSE piece END AS core,
       |         length(CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
       |                     ELSE piece END) AS len
       |  FROM (SELECT DISTINCT sym AS piece FROM s0
       |        UNION SELECT DISTINCT piece FROM mrg)
       |), ow AS MATERIALIZED (
       |  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split_regex(trim(p_name), '\\s+')) AS token
       |        FROM part)
       |  WHERE length(token) BETWEEN 1 AND $MaxWord
       |  GROUP BY token
       |), t0 AS MATERIALIZED (
       |  SELECT word, 0 AS i FROM ow
       |),
       |$steps,
       |picks AS MATERIALIZED (
       |$pickUnion
       |), agg AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces, MAX(i) AS reached,
       |         STRING_AGG(piece, ' ' ORDER BY step) AS seg
       |  FROM picks GROUP BY word
       |)
       |SELECT o.word, o.n,
       |       CASE WHEN a.reached = length(o.word) THEN a.n_pieces
       |            ELSE CAST(1 AS BIGINT) END AS n_wp,
       |       CASE WHEN a.reached = length(o.word) THEN a.seg
       |            ELSE '[UNK]' END AS seg
       |FROM ow o LEFT JOIN agg a USING (word)
       |ORDER BY o.word""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_wordpiece_train" -> ((s, d) => wordpieceTrain(s, d)),
    "q162_wordpiece_encode" -> ((s, d) => wordpieceEncode(s, d)))

  val oracleSql: Map[String, String] = Map(
    "q161_wordpiece_train" -> q161OracleSql,
    "q162_wordpiece_encode" -> q162OracleSql)
}
