package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ClusterOps, PqOps}

/** q147 residual product quantization: code-table invariants plus the
  * gates the oracle hash can't express — ADC (code-only) distance
  * estimation must actually rank like the exact distances it
  * approximates, and the residual layout must rank BETTER than the raw
  * layout it replaced (the r14→r15 refinement's whole point).
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private lazy val pts = ClusterOps.quantized(Tables.embeddings(spark, d))
    .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap

  test("q147 codes: one row per vector, valid cell and centroid ids, deterministic") {
    val run1 = SparkEntry.queries("q147_pq_codes")(spark, d).collect()
    assert(run1.length == pts.size)
    run1.foreach { r =>
      val cell = r.getInt(1)
      assert(cell >= 0 && cell < PqOps.CoarseK, s"cell $cell out of [0, ${PqOps.CoarseK})")
      (2 to PqOps.SubSpaces + 1).foreach { i =>
        val c = r.getInt(i)
        assert(c >= 0 && c < PqOps.K, s"code $c out of [0, ${PqOps.K})")
      }
    }
    val run2 = SparkEntry.queries("q147_pq_codes")(spark, d).collect()
    assert(run1.map(_.toSeq).toSeq == run2.map(_.toSeq).toSeq,
      "PQ training must be bit-deterministic run-over-run")
  }

  test("q147 ADC: residual estimates rank close to exact integer distances (recall gate)") {
    val (coarse, books) = PqOps.modelOf(spark, d)
    val codes = SparkEntry.queries("q147_pq_codes")(spark, d)
    def exactD2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val queryIds = pts.keys.toSeq.sorted.take(5)
    val (rawRecalls, rerankRecalls) = queryIds.map { qid =>
      val q = pts(qid)
      val exactAll = pts.toSeq.filter(_._1 != qid)
        .map { case (id, v) => id -> exactD2(q, v) }
        .sortBy { case (id, dd) => (dd, id) }
      val exactTop = exactAll.take(10).map(_._1).toSet
      val adcAll = PqOps.adcDistances(codes, coarse, books, q.toSeq).collect()
        .filter(_.getLong(0) != qid)
        .map(r => r.getLong(0) -> r.getLong(1))
        .sortBy { case (id, dd) => (dd, id) }
      val adcTop = adcAll.take(10).map(_._1).toSet
      // the DEPLOYED shape: ADC shortlists 50 of 500, exact rerank wins
      val shortlist = adcAll.take(50).map(_._1).toSet
      val reranked = exactAll.filter(p => shortlist(p._1)).take(10).map(_._1).toSet
      ((exactTop & adcTop).size / 10.0, (exactTop & reranked).size / 10.0)
    }.unzip
    val rawMean = rawRecalls.sum / rawRecalls.length
    val rrMean = rerankRecalls.sum / rerankRecalls.length
    info(f"raw ADC recall@10: ${rawRecalls.mkString(", ")} (mean $rawMean%.2f)")
    info(f"shortlist-50 + exact rerank recall@10: ${rerankRecalls.mkString(", ")} (mean $rrMean%.2f)")
    // gates pinned from measurement with margin. The r14 RAW-vector
    // codebooks measured 0.32 raw / 0.72 reranked here; residual
    // codebooks must hold materially above that — the refinement is
    // regression-gated, not just documented.
    assert(rawMean >= 0.35, f"mean raw ADC recall@10 $rawMean%.2f below residual gate")
    assert(rrMean >= 0.80, f"mean shortlist-rerank recall@10 $rrMean%.2f below residual gate")
  }

  test("q147 ADC: a vector's own-code distance is its quantization error, near the bottom") {
    val (coarse, books) = PqOps.modelOf(spark, d)
    val codes = SparkEntry.queries("q147_pq_codes")(spark, d)
    val qid = pts.keys.min
    val adc = PqOps.adcDistances(codes, coarse, books, pts(qid).toSeq).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val own = adc(qid)
    val below = adc.values.count(_ < own)
    info(s"own-code ADC distance $own; ${below}/${adc.size} vectors estimate closer")
    assert(own >= 0)
    assert(below <= adc.size / 10,
      s"own quantization error should sit in the bottom decile, got rank $below")
  }

  test("ADC tables are data: no CASE WHEN, an expression size independent of the probes") {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, RaiseError}
    val (coarse, books) = PqOps.modelOf(spark, d)
    val codes = SparkEntry.queries("q147_pq_codes")(spark, d)
    val exprs = Seq(
      "q148 adc" -> SparkTestSession.aliased(PqOps.ivfPqCandidates(spark, d), "adc"),
      "adcDistances" -> SparkTestSession.aliased(
        PqOps.adcDistances(codes, coarse, books, pts(pts.keys.min).toSeq), "adc_d2"))
    exprs.foreach { case (name, e) =>
      val nodes = e.collect { case x => x }
      assert(!nodes.exists(n => n.isInstanceOf[CaseWhen] || n.isInstanceOf[RaiseError]),
        s"$name must look its table up, not branch over it")
      // a few nodes per subspace lookup plus their sum: bounded by the
      // subspace count alone, whatever K, CoarseK or the 10 × NProbe
      // probe list hold
      assert(nodes.size <= 10 * PqOps.SubSpaces, s"$name has ${nodes.size} nodes")
    }
  }

  test("q148 ADC: every probed candidate's adc is the exact residual-to-codeword distance") {
    val (coarse, books) = PqOps.modelOf(spark, d)
    val cents = coarse.toMap
    val codeCols = (0 until PqOps.SubSpaces).map(s => col(s"c$s"))
    val rows = PqOps.ivfPqCandidates(spark, d)
      .select(Seq(col("query_id"), col("coarse"), col("vec_id"), col("adc")) ++ codeCols: _*)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val cells = rs.map(_.getInt(1)).distinct.length
      assert(cells >= 1 && cells <= PqOps.NProbe, s"query $qid probed $cells cells")
    }
    rows.foreach { r =>
      val qres = pts(r.getLong(0)).toSeq.zip(cents(r.getInt(1))).map { case (a, b) => a - b }
      val expected = (0 until PqOps.SubSpaces).map { s =>
        val codeword = books(s).toMap.apply(r.getInt(4 + s))
        qres.slice(s * PqOps.SubDim, (s + 1) * PqOps.SubDim).zip(codeword)
          .map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(r.getLong(3) == expected,
        s"query ${r.getLong(0)}, vec ${r.getLong(2)}: adc ${r.getLong(3)} != $expected")
    }
  }

  test("model memo: immutable-root dirs serve ONE model instance (FrameMemo contract)") {
    // pin that a memoizable dir returns the identical model object (not
    // merely an equal retrain), so a future eviction/keying change that
    // silently starts retraining per call fails here; the memo is per
    // session, so a new session gets its own instance
    val m1 = PqOps.modelOf(spark, d)
    val m2 = PqOps.modelOf(spark, d)
    assert(m1.asInstanceOf[AnyRef] eq m2.asInstanceOf[AnyRef],
      "memoizable dir must serve the cached model instance")
    val other = PqOps.modelOf(spark.newSession(), d)
    assert(!(other.asInstanceOf[AnyRef] eq m1.asInstanceOf[AnyRef]),
      "a new session must build its own model")
    assert(other == m1, "the rebuilt model equals the first")
  }

  test("residuals: reconstruction error strictly below raw quantization energy") {
    // sanity pin on the residual derivation itself: ||residual||² summed
    // over the corpus must be well under ||vector − corpus grand
    // centroid||² would be — here we check the cheap invariant that each
    // residual is the vector minus ITS OWN cell centroid (round-trip).
    val (coarse, _) = PqOps.modelOf(spark, d)
    val resid = PqOps.residualsOf(
      ClusterOps.quantized(Tables.embeddings(spark, d)), coarse)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSeq
    val cents = coarse.toMap
    resid.take(20).foreach { case (vid, cell, rv) =>
      val back = rv.zip(cents(cell)).map { case (a, b) => a + b }
      assert(back == pts(vid).toSeq,
        s"residual + centroid must reconstruct the quantized vector for $vid")
    }
  }
}
