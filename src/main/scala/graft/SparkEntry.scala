package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY.md §2 inventory plus the
  * training-data-pipeline extensions); `oracleSql` carries the DuckDB
  * equivalent for every SQL-expressible query.
  */
object SparkEntry {

  /** One registry module: the (queries, oracleSql, rowsOnly) triple every
    * ops/sources/streaming object exposes. The registry is the fold of
    * [[modules]], so registering a new module is ONE Seq entry — the
    * r16 shape (three separate 69-term `++` expressions) is where q156's
    * wiring miss happened: a module could be added to `queries` but not
    * `oracleSql`/`rowsOnlyQueries`. A mis-wired triple cannot ship
    * silently: RegistryDocsSpec's partition test (oracle + rows-only =
    * registered, subset checks) fails on any queries/oracle mismatch,
    * and its QUERIES.md phantom-row test fails if a module is dropped
    * from the Seq entirely.
    */
  final case class QueryModule(
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String],
      rowsOnly: Set[String])

  private def m(
      q: Map[String, (SparkSession, String) => DataFrame],
      o: Map[String, String],
      r: Set[String] = Set.empty): QueryModule = QueryModule(q, o, r)

  /** Every registered module, one line each (Dedup/SimilaritySearch/
    * EventsOps expose `allQueries` = base ++ FrameMemo-backed extras).
    */
  private[graft] val modules: Seq[QueryModule] = Seq(
    m(ops.ParityQueries.queries, ops.ParityQueries.oracleSql, ops.ParityQueries.rowsOnly),
    m(ops.TextAnalysis.queries, ops.TextAnalysis.oracleSql, ops.TextAnalysis.rowsOnly),
    m(ops.Dedup.allQueries, ops.Dedup.oracleSql, ops.Dedup.rowsOnly),
    m(ops.SimilaritySearch.allQueries, ops.SimilaritySearch.oracleSql, ops.SimilaritySearch.rowsOnly),
    m(ops.EventsOps.allQueries, ops.EventsOps.oracleSql, ops.EventsOps.rowsOnly),
    m(ops.Multimodal.queries, ops.Multimodal.oracleSql, ops.Multimodal.rowsOnly),
    m(ops.AnalyticsExtras.queries, ops.AnalyticsExtras.oracleSql, ops.AnalyticsExtras.rowsOnly),
    m(ops.Sampling.queries, ops.Sampling.oracleSql, ops.Sampling.rowsOnly),
    m(ops.CorpusSignals.queries, ops.CorpusSignals.oracleSql, ops.CorpusSignals.rowsOnly),
    m(ops.EmbeddingOps.queries, ops.EmbeddingOps.oracleSql, ops.EmbeddingOps.rowsOnly),
    m(ops.CorpusPrep.queries, ops.CorpusPrep.oracleSql, ops.CorpusPrep.rowsOnly),
    m(ops.LakehouseOps.queries, ops.LakehouseOps.oracleSql, ops.LakehouseOps.rowsOnly),
    m(ops.IntervalOps.queries, ops.IntervalOps.oracleSql, ops.IntervalOps.rowsOnly),
    m(ops.CorpusReports.queries, ops.CorpusReports.oracleSql, ops.CorpusReports.rowsOnly),
    m(ops.GraphOps.queries, ops.GraphOps.oracleSql, ops.GraphOps.rowsOnly),
    m(sources.Layout.queries, sources.Layout.oracleSql, sources.Layout.rowsOnly),
    m(sources.DataSkipping.queries, sources.DataSkipping.oracleSql, sources.DataSkipping.rowsOnly),
    m(ops.ScaleOps.queries, ops.ScaleOps.oracleSql, ops.ScaleOps.rowsOnly),
    m(ops.SegmentDedup.queries, ops.SegmentDedup.oracleSql, ops.SegmentDedup.rowsOnly),
    m(streaming.StreamingQueries.queries, streaming.StreamingQueries.oracleSql, streaming.StreamingQueries.rowsOnly),
    m(ops.ProfileOps.queries, ops.ProfileOps.oracleSql, ops.ProfileOps.rowsOnly),
    m(ops.ClusterOps.queries, ops.ClusterOps.oracleSql, ops.ClusterOps.rowsOnly),
    m(ops.LmTokenizer.queries, ops.LmTokenizer.oracleSql, ops.LmTokenizer.rowsOnly),
    m(ops.PqOps.queries, ops.PqOps.oracleSql, ops.PqOps.rowsOnly),
    m(ops.Retrieval.queries, ops.Retrieval.oracleSql, ops.Retrieval.rowsOnly),
    m(ops.NaiveBayes.queries, ops.NaiveBayes.oracleSql, ops.NaiveBayes.rowsOnly),
    m(ops.Winnowing.queries, ops.Winnowing.oracleSql, ops.Winnowing.rowsOnly),
    m(ops.UnigramLm.queries, ops.UnigramLm.oracleSql, ops.UnigramLm.rowsOnly),
    m(ops.Dsir.queries, ops.Dsir.oracleSql, ops.Dsir.rowsOnly),
    m(ops.Mining.queries, ops.Mining.oracleSql, ops.Mining.rowsOnly),
    m(ops.WordPiece.queries, ops.WordPiece.oracleSql, ops.WordPiece.rowsOnly),
    m(ops.SymSpell.queries, ops.SymSpell.oracleSql, ops.SymSpell.rowsOnly),
    m(ops.LinearProbe.queries, ops.LinearProbe.oracleSql, ops.LinearProbe.rowsOnly),
    m(ops.QualityBuckets.queries, ops.QualityBuckets.oracleSql, ops.QualityBuckets.rowsOnly),
    m(ops.CountMin.queries, ops.CountMin.oracleSql, ops.CountMin.rowsOnly),
    m(ops.Chunking.queries, ops.Chunking.oracleSql, ops.Chunking.rowsOnly),
    m(ops.QlRetrieval.queries, ops.QlRetrieval.oracleSql, ops.QlRetrieval.rowsOnly),
    m(ops.ExactSubstr.queries, ops.ExactSubstr.oracleSql, ops.ExactSubstr.rowsOnly),
    m(ops.EpochAllocation.queries, ops.EpochAllocation.oracleSql, ops.EpochAllocation.rowsOnly),
    m(ops.BatchPlan.queries, ops.BatchPlan.oracleSql, ops.BatchPlan.rowsOnly),
    m(ops.VocabCoverage.queries, ops.VocabCoverage.oracleSql, ops.VocabCoverage.rowsOnly),
    m(ops.ClassifierEval.queries, ops.ClassifierEval.oracleSql, ops.ClassifierEval.rowsOnly),
    m(ops.NoveltyCurve.queries, ops.NoveltyCurve.oracleSql, ops.NoveltyCurve.rowsOnly),
    m(ops.QualitySweep.queries, ops.QualitySweep.oracleSql, ops.QualitySweep.rowsOnly),
    m(ops.CentroidMatrix.queries, ops.CentroidMatrix.oracleSql, ops.CentroidMatrix.rowsOnly),
    m(ops.Collocations.queries, ops.Collocations.oracleSql, ops.Collocations.rowsOnly),
    m(ops.DataCard.queries, ops.DataCard.oracleSql, ops.DataCard.rowsOnly),
    m(ops.VectorCard.queries, ops.VectorCard.oracleSql, ops.VectorCard.rowsOnly),
    m(ops.SplitBalance.queries, ops.SplitBalance.oracleSql, ops.SplitBalance.rowsOnly),
    m(ops.SourceProfile.queries, ops.SourceProfile.oracleSql, ops.SourceProfile.rowsOnly),
    m(ops.LabelDispersion.queries, ops.LabelDispersion.oracleSql, ops.LabelDispersion.rowsOnly),
    m(ops.SourceEntropy.queries, ops.SourceEntropy.oracleSql, ops.SourceEntropy.rowsOnly),
    m(ops.LabelProp.queries, ops.LabelProp.oracleSql, ops.LabelProp.rowsOnly),
    m(ops.ZipfFit.queries, ops.ZipfFit.oracleSql, ops.ZipfFit.rowsOnly),
    m(ops.HeapsCurve.queries, ops.HeapsCurve.oracleSql, ops.HeapsCurve.rowsOnly),
    m(ops.CellValidity.queries, ops.CellValidity.oracleSql, ops.CellValidity.rowsOnly),
    m(ops.VocabOverlap.queries, ops.VocabOverlap.oracleSql, ops.VocabOverlap.rowsOnly),
    m(ops.CondEntropy.queries, ops.CondEntropy.oracleSql, ops.CondEntropy.rowsOnly),
    m(ops.CopyMass.queries, ops.CopyMass.oracleSql, ops.CopyMass.rowsOnly),
    m(ops.BatchMix.queries, ops.BatchMix.oracleSql, ops.BatchMix.rowsOnly),
    m(ops.QualityQuartiles.queries, ops.QualityQuartiles.oracleSql, ops.QualityQuartiles.rowsOnly),
    m(ops.SkewCensus.queries, ops.SkewCensus.oracleSql, ops.SkewCensus.rowsOnly),
    m(ops.Retention.queries, ops.Retention.oracleSql, ops.Retention.rowsOnly),
    m(ops.RfmSegments.queries, ops.RfmSegments.oracleSql, ops.RfmSegments.rowsOnly),
    m(ops.BasketAffinity.queries, ops.BasketAffinity.oracleSql, ops.BasketAffinity.rowsOnly),
    m(ops.NumericCorr.queries, ops.NumericCorr.oracleSql, ops.NumericCorr.rowsOnly),
    m(ops.AbcPareto.queries, ops.AbcPareto.oracleSql, ops.AbcPareto.rowsOnly),
    m(ops.YoyGrowth.queries, ops.YoyGrowth.oracleSql, ops.YoyGrowth.rowsOnly),
    m(ops.GiniConcentration.queries, ops.GiniConcentration.oracleSql, ops.GiniConcentration.rowsOnly),
    m(ops.DedupReport.queries, ops.DedupReport.oracleSql, ops.DedupReport.rowsOnly),
    m(ops.PowerIteration.queries, ops.PowerIteration.oracleSql, ops.PowerIteration.rowsOnly),
    m(ops.TriangleCount.queries, ops.TriangleCount.oracleSql, ops.TriangleCount.rowsOnly),
    m(ops.ImageHash.queries, ops.ImageHash.oracleSql, ops.ImageHash.rowsOnly),
    m(ops.AudioFeatures.queries, ops.AudioFeatures.oracleSql, ops.AudioFeatures.rowsOnly),
    m(ops.CommonDirection.queries, ops.CommonDirection.oracleSql, ops.CommonDirection.rowsOnly),
    m(ops.EventSequences.queries, ops.EventSequences.oracleSql, ops.EventSequences.rowsOnly),
    m(ops.SketchReport.queries, ops.SketchReport.oracleSql, ops.SketchReport.rowsOnly),
    m(ops.SignatureContract.queries, ops.SignatureContract.oracleSql, ops.SignatureContract.rowsOnly),
    m(ops.ArtifactDelta.queries, ops.ArtifactDelta.oracleSql, ops.ArtifactDelta.rowsOnly),
    m(ops.CrossModalDedup.queries, ops.CrossModalDedup.oracleSql, ops.CrossModalDedup.rowsOnly),
    m(ops.ShingleDelta.queries, ops.ShingleDelta.oracleSql, ops.ShingleDelta.rowsOnly)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The longest parity chain (SURVEY §7.2): scan → clean → agg → join →
    * null-safe divide → window top-k.
    */
  def entry(spark: SparkSession): DataFrame =
    ops.ParityQueries.queries("q03_topk_months_per_region")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * training-data-pipeline extensions (text analysis, dedup, similarity
    * search, events, multimodal). A `++` fold keeps the historical
    * last-module-wins semantics, but cross-module key collisions are
    * impossible while RegistryDocsSpec's module-disjointness test is
    * green.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_.queries).reduce(_ ++ _)

  /** The registered queries named by `names`, each a full query name or
    * its qNN stem before the first underscore: "q22" selects q22_*, NOT
    * q220–q226, which a bare prefix match would over-select. Shared by
    * Bench's SPARK_GRAFT_BENCH_ONLY and Verify's trailing args.
    */
  def select(names: Set[String]): Map[String, (SparkSession, String) => DataFrame] =
    queries.filter { case (k, _) => names.exists(p => k == p || k.startsWith(p + "_")) }

  /** The shared in-session artifacts: the FrameMemo-backed frames (plus
    * the embedding Gram) that several registered queries read, one named
    * builder each; memos they read on the way (the PQ model, the LSH pair
    * frame) build with them. Bench pre-builds this list with
    * `FrameMemo.prebuild` and prices it as `shared_build`; the names key
    * BENCH_DETAIL's `shared_build_artifacts`. A builder that reads
    * another memo just calls it, so the order only decides which builds
    * start first.
    */
  val sharedArtifacts: Seq[(String, (SparkSession, String) => Any)] =
    Seq[(String, (SparkSession, String) => Any)](
    // ANN graphs + anchors + method frames (the top5 frames and hybrid
    // read the anchors/pair frame)
    "knnGraphLsh" -> ops.SimilaritySearch.knnGraphLsh _,
    "knnGraphExact" -> ops.SimilaritySearch.knnGraphExact _,
    "knnExactTop5" -> ops.SimilaritySearch.knnExactTop5 _,
    "knnLshTop5" -> ops.SimilaritySearch.knnLshTop5 _,
    "hybridRanked" -> ops.Retrieval.hybridRanked _,
    "knnIvfTop5" -> ops.SimilaritySearch.knnIvfTop5 _,
    // text dedup pair graphs and the component/method frames
    // q28/q49/q208 read; q221/q225's visual pairs; q108's exact pairs
    "jaccardPairs" -> ((s: SparkSession, d: String) =>
      ops.Dedup.jaccardPairs(s, d, threshold = 0.2)),
    "minhashLshPairs" -> ((s: SparkSession, d: String) =>
      ops.Dedup.minhashLshPairs(s, d, threshold = 0.2)),
    "lshGroupRows" -> ops.Dedup.lshGroupRows _,
    "simhashPairs" -> ops.Dedup.simhashPairs _,
    "dhashPairs" -> ops.ImageHash.dhashPairs _,
    "prefixJaccardPairs" -> ((s: SparkSession, d: String) =>
      ops.Dedup.prefixJaccardPairsStored(s, d, 4, 5)),
    // PQ model + codes, the IVF-PQ search frame, q191's cell-bounded kNN
    "pqCodes" -> ops.PqOps.residCodes _,
    "ivfPqSearch" -> ops.PqOps.ivfPqSearch _,
    "cellKnn" -> ops.LabelProp.cellKnn _,
    // DSIR scores, the embedding Gram (q157/q160, q210/q214), q197's
    // df-capped copy mass
    "importanceScores" -> ops.Dsir.importanceScores _,
    "gramOf" -> ops.PowerIteration.gramOf _,
    "cappedMass" -> ops.CopyMass.cappedMass _,
    // the corpus gram stream, its df-capped posting, the winnowed
    // fingerprints and q155's kept posting; q224's base manifest and
    // from-scratch audit totals
    "gramFrame" -> ops.Winnowing.gramFrame _,
    "keptGrams" -> ops.ExactSubstr.keptGrams _,
    "fingerprints" -> ops.Winnowing.fingerprints _,
    "keptFpPosting" -> ops.Winnowing.keptFpPosting _,
    "baseManifest" -> ops.ArtifactDelta.baseManifest _,
    "scratchTotals" -> ops.ArtifactDelta.scratchTotals _) ++
    // per-n word-shingle membership tables + the 3-gram df table
    // (q179/q180/q219), q227's base counts and audit totals, and the
    // quality/vocab columns q98/q220 read
    ops.NoveltyCurve.Ns.map(n => s"splitGrams:$n" ->
      ((s: SparkSession, d: String) => ops.ShingleStore.splitGrams(s, d, n))) ++ Seq(
    "df3" -> ops.ShingleStore.df3 _,
    "baseCounts" -> ops.ShingleDelta.baseCounts _,
    "scratchFlagTotals" -> ops.ShingleDelta.scratchFlagTotals _,
    "qualityScored" -> ops.CorpusReports.qualityScored _,
    "tokenCounts" -> ops.TextAnalysis.tokenCounts _,
    // curation/decontamination: scored docs (q50/q52/q69), the 5-gram
    // posting + doc catalog (q65/q66/q69/q163), repetition signals
    // (q64/q69), the trained BPE (q136/q141), q153's NB predictions
    "scoredDocs" -> ops.TextAnalysis.scoredDocs _,
    "fiveGramMeta" -> ops.CorpusSignals.fiveGramMeta _,
    "fiveGramPosting" -> ops.CorpusSignals.fiveGramPosting _,
    "repetitionSignals" -> ops.CorpusSignals.repetitionSignals _,
    "trainedBpe" -> ops.LmTokenizer.trainedBpe _,
    "sourcePredictions" -> ops.NaiveBayes.sourcePredictions _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_.oracleSql).reduce(_ ++ _)

  /** Queries intentionally registered WITHOUT oracle SQL (driver records a
    * weaker rows-only check): ops whose semantics aren't expressible in
    * portable ANSI SQL (hash-dependent sketches etc.).
    */
  def rowsOnlyQueries: Set[String] =
    modules.iterator.map(_.rowsOnly).reduce(_ ++ _)
}
