package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** In-engine classifier training + inference — the classifier-based
  * filtering step modern corpus pipelines run at scale (FineWeb/DCLM
  * train fastText/linear classifiers and score every document; the
  * operator shape is identical regardless of model family: one training
  * aggregation over the labeled split, a broadcastable model, one narrow
  * scoring pass over everything else).
  *
  * Multinomial Naive Bayes over token counts, add-one smoothed,
  * source-labeled, trained on the q54 hash-split TRAIN docs and
  * evaluated on the TEST docs (training on the scoring set would be
  * leakage — the same hygiene q144 enforces for dedup).
  *
  * Cross-engine exactness: every log-likelihood is QUANTIZED to integer
  * micro-nats at the model edge — w(t,s) = round(ln((c+1)/(tot_s+V))·10⁶)
  * as BIGINT — so document scores are exact integer sums (prior +
  * Σ tf·w) and the argmax is bit-deterministic under any summation
  * order, shuffle, or engine. (Raw double scores would make the argmax
  * conditional on float summation order — the one thing the driver hash
  * gate can't tolerate; quantizing at the 620-row model, not per doc,
  * bounds the rounding work to the model build.)
  *
  * Scale shape: training is one (term, source) map-side-combined shuffle
  * over the train split; the model is vocab × classes rows (tiny — at
  * web scale it's pruned to top-M features and still broadcast);
  * scoring joins the BROADCAST model onto the test token stream and
  * aggregates per (doc, class) — the corpus pays tokenize + one
  * aggregation, the standard NB inference plan.
  */
object NaiveBayes extends graft.QueryModule {

  /** Quantization grain: micro-nats per log-likelihood unit. */
  // micro-nat quantization grain; shares Retrieval.quant's documented
  // ULP-boundary hazard (a ln within libm drift of a .5·1e-6 boundary
  // would flip the weight integer) — gated corpus-wide in RetrievalSpec
  private val Grain = 1000000L

  def sourceClassifier(s: SparkSession, d: String): DataFrame =
    classifierOn(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        Sampling.splitOf(col("doc_id")).as("split"), col("text")))

  /** Core train-on-train / predict-on-test over any (doc_id, source,
    * split, text) frame — exposed so the spec can run a hand-computed
    * separable fixture through the exact production path.
    */
  private[graft] def classifierOn(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), col("source"), col("split"),
      explode(tokens(col("text"))).as("term"))
    val trainTok = tok.filter(col("split") === "train")
    // class-conditional token counts + totals; the two scalars (|V|,
    // |train docs|) are collected model state.
    // cnt is scratch-materialized (r22): tots, vocab, vSize and the model
    // grid all read it — unmaterialized, each re-ran the full tokenize +
    // (term, source) shuffle. vocab is derived from cnt, not trainTok
    // (identical set — cnt holds every distinct train term — for one
    // tokenize pass less; guide §1.2 don't compute things twice).
    val cnt = FrameMemo.scratch(
      trainTok.groupBy("term", "source").agg(count(lit(1)).as("c")))
    val tots = cnt.groupBy("source").agg(sum(col("c")).as("tot"))
    val vocab = cnt.select("term").distinct()
    val vSize = vocab.count()
    val priors = docs.filter(col("split") === "train")
      .groupBy("source").agg(count(lit(1)).as("nd"))
    val nTrain = priors.agg(sum(col("nd"))).head().getLong(0)
    // dense (term × class) weight grid: absent counts smooth to c = 0
    val model = vocab.crossJoin(priors.select(col("source").as("cls")))
      .join(cnt.select(col("term"), col("source").as("cls"), col("c")),
        Seq("term", "cls"), "left")
      .na.fill(0L, Seq("c"))
      .join(tots.select(col("source").as("cls"), col("tot")), Seq("cls"))
      .select(col("term"), col("cls"),
        round(log((col("c") + lit(1)).cast("double") / (col("tot") + lit(vSize)))
          * Grain, 0).cast("long").as("w"))
    val priorW = priors.select(col("source").as("cls"),
      round(log(col("nd").cast("double") / lit(nTrain)) * Grain, 0)
        .cast("long").as("pw"))
    // score every TEST doc against every class: OOV test terms (absent
    // from the train vocabulary) drop out via the inner join — the
    // standard multinomial-NB convention
    val testTok = tok.filter(col("split") === "test")
      .groupBy(col("doc_id"), col("source").as("actual"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wPred = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls"))
    testTok.join(broadcast(model), Seq("term"))
      .groupBy("doc_id", "actual", "cls")
      .agg(sum(col("tf") * col("w")).as("sw"))
      .join(broadcast(priorW), Seq("cls"))
      .withColumn("score", col("pw") + col("sw"))
      .withColumn("rnk", row_number().over(wPred))
      .withColumn("margin", col("score") - lead(col("score"), 1).over(wPred))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("actual"), col("cls").as("predicted"),
        (col("cls") === col("actual")).as("correct"), col("margin"))
      .orderBy("doc_id")
  }

  /** The prediction frame as a FrameMemo artifact (r21):
    * train + inference are integer-exact end-to-end (micro-nat weights,
    * integer score sums, deterministic tie-breaks — the q153 oracle
    * hash-gates it), so the frame is partition-order-independent and
    * buildable once per corpus snapshot. Three consumers (q153 presents
    * it, q178/q185 derive their confusion-based reports from it) were
    * each re-running the full train+predict chain inside every timed
    * run. Priced in Bench's curation chain.
    */
  private[graft] def sourcePredictions(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "nbPredictions")(sourceClassifier(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // re-applies the contract ordering: a store read-back does not
    // preserve the build plan's sort
    "q153_nb_source_classifier" -> ((s, d) =>
      sourcePredictions(s, d).orderBy("doc_id")))

  val oracleSql: Map[String, String] = Map(
    "q153_nb_source_classifier" ->
      s"""WITH docs AS MATERIALIZED (
         |  SELECT doc_id, source,
         |         CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('c','d') THEN 'validation'
         |              WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('e','f') THEN 'test'
         |              ELSE 'train' END AS split,
         |         text
         |  FROM documents
         |), tok AS MATERIALIZED (
         |  SELECT doc_id, source, split,
         |         unnest(string_split_regex(trim(text), '\\s+')) AS term
         |  FROM docs
         |), cnt AS MATERIALIZED (
         |  SELECT term, source, COUNT(*) AS c FROM tok
         |  WHERE split = 'train' GROUP BY term, source
         |), tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY source),
         |vocab AS (SELECT DISTINCT term FROM tok WHERE split = 'train'),
         |vsize AS (SELECT COUNT(*) AS v FROM vocab),
         |priors AS (
         |  SELECT source, COUNT(*) AS nd FROM docs WHERE split = 'train' GROUP BY source
         |), ntrain AS (SELECT CAST(SUM(nd) AS BIGINT) AS n FROM priors),
         |model AS MATERIALIZED (
         |  SELECT vo.term, p.source AS cls,
         |         CAST(ROUND(LN(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (t.tot + vs.v))
         |              * $Grain) AS BIGINT) AS w
         |  FROM vocab vo
         |  CROSS JOIN priors p
         |  CROSS JOIN vsize vs
         |  LEFT JOIN cnt c ON c.term = vo.term AND c.source = p.source
         |  JOIN tots t ON t.source = p.source
         |), priorw AS (
         |  SELECT p.source AS cls,
         |         CAST(ROUND(LN(CAST(p.nd AS DOUBLE) / n.n) * $Grain) AS BIGINT) AS pw
         |  FROM priors p CROSS JOIN ntrain n
         |), testtok AS (
         |  SELECT doc_id, source AS actual, term, COUNT(*) AS tf
         |  FROM tok WHERE split = 'test' GROUP BY doc_id, source, term
         |), scored AS (
         |  SELECT tt.doc_id, tt.actual, m.cls,
         |         -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which
         |         -- the compare harness reads as float64
         |         pw.pw + CAST(SUM(tt.tf * m.w) AS BIGINT) AS score
         |  FROM testtok tt
         |  JOIN model m USING (term)
         |  JOIN priorw pw ON pw.cls = m.cls
         |  GROUP BY tt.doc_id, tt.actual, m.cls, pw.pw
         |), ranked AS (
         |  SELECT *,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id
         |                            ORDER BY score DESC, cls) AS rnk,
         |         score - LEAD(score, 1) OVER (PARTITION BY doc_id
         |                            ORDER BY score DESC, cls) AS margin
         |  FROM scored
         |)
         |SELECT doc_id, actual, cls AS predicted,
         |       cls = actual AS correct, margin
         |FROM ranked WHERE rnk = 1
         |ORDER BY doc_id""".stripMargin)
}
