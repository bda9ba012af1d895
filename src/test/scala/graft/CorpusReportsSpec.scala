package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q83–q88 corpus reports: chunk geometry on a constructed doc, decile
  * ordering, and weighted-sample determinism.
  */
class CorpusReportsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q83 chunk geometry is exact on a constructed doc") {
    import spark.implicits._
    // 80 tokens -> starts 0,24,48,72 with sizes 32,32,32,8
    val text = (1 to 80).map(i => s"t$i").mkString(" ")
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-chunks")
    Seq((1L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q83_doc_chunks")(spark, dir)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toList
    assert(out == List((0, 0, 32), (1, 24, 32), (2, 48, 32), (3, 72, 8)))
  }

  test("q83 stays narrow: no exchange before the presentation sort") {
    val p = SparkEntry.queries("q83_doc_chunks")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0,
      s"chunking must not hash-shuffle (row-multiplying step):\n$p")
  }

  test("q86 deciles are ordered and partition each language") {
    val d = SparkEntry.queries("q86_quality_deciles")(spark, sf)
    val rows = d.orderBy("lang", "decile").collect()
    val perLang = rows.groupBy(_.getString(0))
    perLang.foreach { case (lang, rs) =>
      // deciles 1..10, jointly covering all docs of the language
      assert(rs.map(_.getInt(1)).toList == (1 to 10).toList, s"deciles of $lang")
      // quality DESC: decile d's floor >= decile d+1's ceiling
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(3) >= b.getDouble(4) - 1e-12,
            s"$lang decile ${a.getInt(1)} overlaps ${b.getInt(1)}")
        case _ =>
      }
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total == Tables.documents(spark, sf).count())
  }

  test("q88 weighted sample is deterministic and favors long docs") {
    val a = SparkEntry.queries("q88_weighted_sample")(spark, sf).collect()
    val b = SparkEntry.queries("q88_weighted_sample")(spark, sf).collect()
    assert(a.toList == b.toList, "hash-derived sample must be reproducible")
    assert(a.groupBy(_.getString(0)).forall(_._2.length == 5))
    // weighting property: the sampled docs' mean size should not be
    // below the corpus mean (w = n_chars biases toward longer docs)
    val sampleMean = a.map(_.getLong(3)).sum.toDouble / a.length
    val corpusMean = Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleMean >= corpusMean * 0.9,
      s"weighted sample mean $sampleMean far below corpus mean $corpusMean")
  }

  test("q98 approx deciles agree with the exact window deciles (q86)") {
    val exact = SparkEntry.queries("q86_quality_deciles")(spark, sf)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    val approx = SparkEntry.queries("q98_quality_deciles_approx")(spark, sf)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    // same languages; per language the approx populations must cover
    // all docs and each decile must hold a sane share (GK boundaries
    // wobble, but a broken bucketing collapses to a few buckets)
    val langs = exact.keySet.map(_._1)
    assert(approx.keySet.map(_._1) == langs)
    langs.foreach { lang =>
      val total = exact.filter(_._1._1 == lang).values.sum
      val ap = approx.filter(_._1._1 == lang)
      assert(ap.values.sum == total, s"$lang: approx deciles lost docs")
      assert(ap.size >= 8, s"$lang: only ${ap.size} non-empty approx deciles")
      ap.foreach { case ((_, dec), n) =>
        assert(n <= total * 3 / 10 + 1,
          s"$lang decile $dec holds $n of $total docs - degenerate boundaries")
      }
    }
  }
}
