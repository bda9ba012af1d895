package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classifier evaluation report — the confusion-derived per-class
  * precision/recall/F1 table every corpus-filtering classifier ships
  * with (a FineWeb/DCLM-style quality or source classifier is only
  * trusted as far as its published eval): per class tp/fp/fn/support
  * and the three rates, plus the `__micro__` row (= accuracy in
  * single-label multiclass) and the `__macro__` row (the imbalance-
  * honest average — a majority-class predictor scores high micro but
  * its macro-F1 collapses, which is why data cards publish macro).
  * Evaluates q153's multinomial-NB source classifier on the held-out
  * q54 test split — the model's predictions are the input, so train/
  * test hygiene is inherited from q153.
  *
  * Cross-engine exactness: everything derives from integer confusion
  * counts; rates are ppm integer divisions (f1 = 2·tp·10⁶ DIV
  * (2·tp+fp+fn) straight from counts — never composed from the
  * already-rounded P and R, which would compound rounding); zero
  * denominators (a class never predicted / never seen) report 0 by
  * pinned convention. Macro ppms are integer means of per-class ppms.
  *
  * Scale shape: the corpus pays exactly q153's inference plan; the
  * report adds ONE (actual, predicted) aggregation over the
  * prediction frame — ≤ classes² keys, map-side combined — and the
  * rest (class table, tp/fp/fn splits, the two summary rows) runs on
  * that localCheckpoint'd ≤ classes²-row frame, never rescanning the
  * corpus or re-running inference per consumer.
  */
object ClassifierEval extends graft.QueryModule {

  /** Confusion/PRF report over any (actual, predicted) prediction
    * frame — exposed so the spec can pin hand-computed confusions
    * (incl. never-predicted / never-actual classes) through the exact
    * production path.
    */
  private[graft] def reportOn(preds: DataFrame): DataFrame = {
    // one corpus-side aggregation, then a bounded frame for everything
    // else: without the checkpoint each consumer below would re-run
    // the full NB inference chain
    val conf = preds.groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val classes = conf.select(col("actual").as("label"))
      .union(conf.select(col("predicted").as("label"))).distinct()
    val tpt = conf.filter(col("actual") === col("predicted"))
      .select(col("actual").as("label"), col("n").as("tp"))
    val fpt = conf.filter(col("actual") =!= col("predicted"))
      .groupBy(col("predicted").as("label")).agg(sum(col("n")).as("fp"))
    val fnt = conf.filter(col("actual") =!= col("predicted"))
      .groupBy(col("actual").as("label")).agg(sum(col("n")).as("fn"))
    val perClass = classes
      .join(tpt, Seq("label"), "left")
      .join(fpt, Seq("label"), "left")
      .join(fnt, Seq("label"), "left")
      .na.fill(0L, Seq("tp", "fp", "fn"))
      .withColumn("support", col("tp") + col("fn"))
      .withColumn("precision_ppm",
        expr("CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 DIV (tp + fp) END"))
      .withColumn("recall_ppm",
        expr("CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 DIV (tp + fn) END"))
      .withColumn("f1_ppm",
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0" +
          " ELSE 2 * tp * 1000000 DIV (2 * tp + fp + fn) END"))
      .select(col("label"), col("tp"), col("fp"), col("fn"), col("support"),
        col("precision_ppm"), col("recall_ppm"), col("f1_ppm"))
    val micro = conf.agg(
        sum(when(col("actual") === col("predicted"), col("n")).otherwise(0L)).as("tp"),
        sum(when(col("actual") =!= col("predicted"), col("n")).otherwise(0L)).as("wrong"),
        sum(col("n")).as("support"))
      .select(lit("__micro__").as("label"), col("tp"), col("wrong").as("fp"),
        col("wrong").as("fn"), col("support"),
        expr("CASE WHEN support = 0 THEN 0 ELSE tp * 1000000 DIV support END")
          .as("precision_ppm"),
        expr("CASE WHEN support = 0 THEN 0 ELSE tp * 1000000 DIV support END")
          .as("recall_ppm"),
        expr("CASE WHEN support = 0 THEN 0 ELSE tp * 1000000 DIV support END")
          .as("f1_ppm"))
    val macroRow = perClass.agg(
        sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
        sum(col("fn")).as("fn"), sum(col("support")).as("support"),
        count(lit(1)).as("k"), sum(col("precision_ppm")).as("sp"),
        sum(col("recall_ppm")).as("sr"), sum(col("f1_ppm")).as("sf"))
      .select(lit("__macro__").as("label"), col("tp"), col("fp"), col("fn"),
        col("support"), expr("sp DIV k").as("precision_ppm"),
        expr("sr DIV k").as("recall_ppm"), expr("sf DIV k").as("f1_ppm"))
    perClass.unionByName(micro).unionByName(macroRow).orderBy("label")
  }

  /** Chance-corrected agreement over any (actual, predicted) frame:
    * observed agreement po, chance agreement pe from the confusion
    * marginals, and Cohen's kappa — the number that separates "high
    * accuracy" from "high accuracy a majority-class guesser would
    * also get". Integer-exact po/pe (ppm floor divisions on
    * nonnegative counts); kappa can be NEGATIVE (systematic
    * disagreement), so it is the one place ROUND runs on a signed
    * double — IEEE mul/div are correctly rounded and both engines
    * round half away from zero, and the spec pins the κ = −1 perfect-
    * disagreement fixture to prove the sign path. Product terms n·c,
    * Σ row·col, n² stay exact in int64/double up to n ≈ 3·10⁷ test
    * rows (far above any eval split; the full-corpus scale path would
    * hierarchically pre-aggregate the same marginals).
    */
  private[graft] def agreementOn(preds: DataFrame): DataFrame = {
    val conf = preds.groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val rowm = conf.groupBy("actual").agg(sum(col("n")).as("ra"))
    val colm = conf.groupBy("predicted").agg(sum(col("n")).as("ca"))
    // labels missing from either margin contribute 0 to pe — the inner
    // join drops exactly those zero products
    val s2 = rowm.join(colm, col("actual") === col("predicted"))
      .agg(coalesce(sum(col("ra") * col("ca")), lit(0L)).as("s"))
    val base = conf.agg(sum(col("n")).as("nn"),
      sum(when(col("actual") === col("predicted"), col("n")).otherwise(0L))
        .as("c"))
    base.crossJoin(s2).select(
      col("nn").as("n"), col("c").as("correct"),
      expr("CASE WHEN nn = 0 THEN 0 ELSE c * 1000000 DIV nn END").as("po_ppm"),
      expr("CASE WHEN nn = 0 THEN 0 ELSE s * 1000000 DIV (nn * nn) END")
        .as("pe_ppm"),
      expr("CASE WHEN nn * nn - s = 0 THEN 0" +
        " ELSE CAST(ROUND(CAST(nn * c - s AS DOUBLE) * 1000000.0" +
        " / CAST(nn * nn - s AS DOUBLE)) AS BIGINT) END").as("kappa_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // both read the STORED q153 prediction frame (r21) instead of
    // re-running NB train+inference per timed run — the report math is
    // identical (same rows in, integer confusion counts out)
    "q178_classifier_eval" -> ((s, d) => reportOn(NaiveBayes.sourcePredictions(s, d))),
    "q185_agreement_stats" -> ((s, d) => agreementOn(NaiveBayes.sourcePredictions(s, d))))

  val oracleSql: Map[String, String] = Map(
    "q178_classifier_eval" -> {
      // the prediction CTE is q153's oracle VERBATIM (the q159 sharing
      // discipline): the eval is only trustworthy if it scores exactly
      // the predictions the registered classifier makes
      val preds = NaiveBayes.oracleSql("q153_nb_source_classifier")
      s"""WITH preds AS MATERIALIZED (
         |$preds
         |), conf AS MATERIALIZED (
         |  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM preds GROUP BY actual, predicted
         |), classes AS (
         |  SELECT actual AS label FROM conf
         |  UNION
         |  SELECT predicted FROM conf
         |), tpt AS (
         |  SELECT actual AS label, CAST(SUM(n) AS BIGINT) AS tp
         |  FROM conf WHERE actual = predicted GROUP BY actual
         |), fpt AS (
         |  SELECT predicted AS label, CAST(SUM(n) AS BIGINT) AS fp
         |  FROM conf WHERE actual <> predicted GROUP BY predicted
         |), fnt AS (
         |  SELECT actual AS label, CAST(SUM(n) AS BIGINT) AS fn
         |  FROM conf WHERE actual <> predicted GROUP BY actual
         |), percls0 AS (
         |  SELECT c.label, COALESCE(t.tp, 0) AS tp, COALESCE(f.fp, 0) AS fp,
         |         COALESCE(g.fn, 0) AS fn
         |  FROM classes c
         |  LEFT JOIN tpt t USING (label)
         |  LEFT JOIN fpt f USING (label)
         |  LEFT JOIN fnt g USING (label)
         |), percls AS (
         |  SELECT label, tp, fp, fn, tp + fn AS support,
         |         CASE WHEN tp + fp = 0 THEN 0
         |              ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
         |         CASE WHEN tp + fn = 0 THEN 0
         |              ELSE tp * 1000000 // (tp + fn) END AS recall_ppm,
         |         CASE WHEN 2 * tp + fp + fn = 0 THEN 0
         |              ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
         |  FROM percls0
         |), micro0 AS (
         |  SELECT CAST(SUM(CASE WHEN actual = predicted THEN n ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(SUM(CASE WHEN actual <> predicted THEN n ELSE 0 END) AS BIGINT) AS wrong,
         |         CAST(SUM(n) AS BIGINT) AS support
         |  FROM conf
         |), micro AS (
         |  SELECT '__micro__' AS label, tp, wrong AS fp, wrong AS fn, support,
         |         CASE WHEN support = 0 THEN 0 ELSE tp * 1000000 // support END AS precision_ppm,
         |         CASE WHEN support = 0 THEN 0 ELSE tp * 1000000 // support END AS recall_ppm,
         |         CASE WHEN support = 0 THEN 0 ELSE tp * 1000000 // support END AS f1_ppm
         |  FROM micro0
         |), macro AS (
         |  SELECT '__macro__' AS label, CAST(SUM(tp) AS BIGINT) AS tp,
         |         CAST(SUM(fp) AS BIGINT) AS fp, CAST(SUM(fn) AS BIGINT) AS fn,
         |         CAST(SUM(support) AS BIGINT) AS support,
         |         CAST(CAST(SUM(precision_ppm) AS BIGINT) // COUNT(*) AS BIGINT) AS precision_ppm,
         |         CAST(CAST(SUM(recall_ppm) AS BIGINT) // COUNT(*) AS BIGINT) AS recall_ppm,
         |         CAST(CAST(SUM(f1_ppm) AS BIGINT) // COUNT(*) AS BIGINT) AS f1_ppm
         |  FROM percls
         |)
         |SELECT * FROM percls
         |UNION ALL SELECT * FROM micro
         |UNION ALL SELECT * FROM macro
         |ORDER BY label""".stripMargin
    },

    "q185_agreement_stats" -> {
      val preds = NaiveBayes.oracleSql("q153_nb_source_classifier")
      s"""WITH preds AS MATERIALIZED (
         |$preds
         |), conf AS MATERIALIZED (
         |  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM preds GROUP BY actual, predicted
         |), rowm AS (SELECT actual AS l, CAST(SUM(n) AS BIGINT) AS ra
         |            FROM conf GROUP BY actual),
         |colm AS (SELECT predicted AS l, CAST(SUM(n) AS BIGINT) AS ca
         |         FROM conf GROUP BY predicted),
         |s2 AS (SELECT COALESCE(CAST(SUM(r.ra * c.ca) AS BIGINT), 0) AS s
         |       FROM rowm r JOIN colm c ON r.l = c.l),
         |base AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         |         CAST(SUM(CASE WHEN actual = predicted THEN n ELSE 0 END) AS BIGINT) AS c
         |  FROM conf
         |)
         |SELECT nn AS n, c AS correct,
         |       CASE WHEN nn = 0 THEN 0 ELSE c * 1000000 // nn END AS po_ppm,
         |       CASE WHEN nn = 0 THEN 0 ELSE s * 1000000 // (nn * nn) END AS pe_ppm,
         |       CASE WHEN nn * nn - s = 0 THEN 0
         |            ELSE CAST(ROUND(CAST(nn * c - s AS DOUBLE) * 1000000.0
         |              / CAST(nn * nn - s AS DOUBLE)) AS BIGINT)
         |       END AS kappa_ppm
         |FROM base CROSS JOIN s2""".stripMargin
    })
}
