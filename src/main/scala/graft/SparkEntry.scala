package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry module: every ops/sources/streaming object that
  * registers queries extends this, and [[SparkEntry.modules]] lists the
  * object once, so a module's queries, oracle SQL and rows-only set are
  * registered together or not at all. RegistryDocsSpec's partition test
  * (oracle + rows-only = registered) catches a query with neither.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** DuckDB SQL per query whose semantics are portable ANSI SQL. */
  def oracleSql: Map[String, String]

  /** Queries registered WITHOUT oracle SQL. */
  def rowsOnly: Set[String] = Set.empty
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY.md §2 inventory plus the
  * training-data-pipeline extensions); `oracleSql` carries the DuckDB
  * equivalent for every SQL-expressible query.
  */
object SparkEntry {

  /** Every registered module. */
  private[graft] val modules: Seq[QueryModule] = Seq(
    ops.ParityQueries, ops.TextAnalysis, ops.Dedup, ops.SimilaritySearch,
    ops.EventsOps, ops.Multimodal, ops.AnalyticsExtras, ops.Sampling,
    ops.CorpusSignals, ops.EmbeddingOps, ops.CorpusPrep, ops.LakehouseOps,
    ops.IntervalOps, ops.CorpusReports, ops.GraphOps, sources.Layout,
    sources.DataSkipping, ops.ScaleOps, ops.SegmentDedup,
    streaming.StreamingQueries, ops.ProfileOps, ops.ClusterOps,
    ops.LmTokenizer, ops.PqOps, ops.Retrieval, ops.NaiveBayes, ops.Winnowing,
    ops.UnigramLm, ops.Dsir, ops.Mining, ops.WordPiece, ops.SymSpell,
    ops.LinearProbe, ops.QualityBuckets, ops.CountMin, ops.Chunking,
    ops.QlRetrieval, ops.ExactSubstr, ops.EpochAllocation, ops.BatchPlan,
    ops.VocabCoverage, ops.ClassifierEval, ops.NoveltyCurve, ops.QualitySweep,
    ops.CentroidMatrix, ops.Collocations, ops.DataCard, ops.VectorCard,
    ops.SplitBalance, ops.SourceProfile, ops.LabelDispersion,
    ops.SourceEntropy, ops.LabelProp, ops.ZipfFit, ops.HeapsCurve,
    ops.CellValidity, ops.VocabOverlap, ops.CondEntropy, ops.CopyMass,
    ops.BatchMix, ops.QualityQuartiles, ops.SkewCensus, ops.Retention,
    ops.RfmSegments, ops.BasketAffinity, ops.NumericCorr, ops.AbcPareto,
    ops.YoyGrowth, ops.GiniConcentration, ops.DedupReport, ops.PowerIteration,
    ops.TriangleCount, ops.ImageHash, ops.AudioFeatures, ops.CommonDirection,
    ops.EventSequences, ops.SketchReport, ops.SignatureContract,
    ops.ArtifactDelta, ops.CrossModalDedup, ops.ShingleDelta
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

  /** The shared in-session artifacts: the FrameMemo-backed frames, the
    * embedding Gram and the on-disk layouts that registered queries
    * read, one named builder each; memos they read on the way (the PQ model, the LSH pair
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
    "sourcePredictions" -> ops.NaiveBayes.sourcePredictions _,
    // on-disk layouts, each a directory of the session's scratch root:
    // q56's bucketed tables, q57/q92's day partitions, q105's z-ordered
    // lineitem, q106's two schema epochs, the streaming replays' stage
    // dir and q209/q215's late-data split
    "bucketedLayout" -> sources.Layout.bucketedLayout _,
    "eventsPartitioned" -> sources.Layout.writeEventsPartitioned _,
    "zorderedLineitem" -> sources.DataSkipping.zorderedLineitem _,
    "evolvedEvents" -> sources.DataSkipping.evolvedEventsLayout _,
    "eventsStage" -> streaming.StreamingQueries.stageEventsDir _,
    "lateSplitEvents" -> streaming.StreamingQueries.stageSplitEventsDir _)

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
