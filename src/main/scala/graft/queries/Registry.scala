package graft.queries

/** Single source of truth for the engine's declared query surface. Verify,
  * Bench, and SparkEntry all derive from this list.
  */
object Registry {
  val all: Seq[GraftQuery] = Seq(
    Q1Agg,
    Q2IterSum,
    Q3LrGradient,
    Q4LnrGradient,
    Q5KMeansAssign,
    Q6KMeansSeed,
    Q7GroupedAgg,
    Q8TaggedSink,
    Q9KMeansLoop,
    Q10Split,
    Q11Rollup,
    Q12Intersect,
    Q13Except,
    Q14Percentiles,
    Q15Pivot,
    Q16Distinct,
    Q17QualityChecks,
    Q18Cube,
    Q19OrcSink,
    Q21ExceptAll,
    Q22GroupingSets,
    Q23WindowRanks,
    Q24ZOrder,
    T25HistogramQuantiles,
    Q25SnapshotMerge,
    Q26Unpivot,
    Q27CdcMergeFull,
    Q28JsonlSink,
    Q29CsvSink,
    Q20PartitionedSink,
    K1LrLoop,
    K2MiniBatchSgd,
    K3PcaPower,
    K4QualityClassifier,
    K5ClassifierEval,
    K6Calibration,
    K7UncertaintySample,
    K8DsirWeights,
    K9ClassifierAuc,
    J4RangeJoin,
    J1JoinRevenue,
    J2TopK,
    J3AsOf,
    J5AntiJoin,
    J6SemiJoin,
    J7StarJoin,
    W1WindowAgg,
    W2Sessions,
    W3JsonExtract,
    W4DateFuncs,
    W5TrailingStats,
    W6Funnel,
    W7Retention,
    W8Transitions,
    W9InterArrival,
    W10DailyUniques,
    W11VolumeAnomaly,
    D1ExactDedup,
    D2MinhashLsh,
    D3SimHash,
    D4NgramJaccard,
    D5EmbedDedup,
    D6SimhashPairs,
    D7DupClusters,
    D8BloomDedup,
    D9Contamination,
    D10SemanticClusters,
    D11DupSpans,
    D12CosineHistogram,
    D13ClusterSizes,
    D14MinhashCalibration,
    D15QualitySurvivor,
    D16SemanticLshClusters,
    D17Containment,
    D18ExactSubstr,
    D19DupProvenance,
    D20WinnowDup,
    D21WinnowClusters,
    S1AnnBrute,
    S2AnnLsh,
    S4AnnIvf,
    S5AnnQuantized,
    S6AnnIvfTrained,
    S7AnnPq,
    S8AnnIvfSearch,
    S9AnnFiltered,
    S10MmrSelect,
    S11AnnIvfPq,
    S13AnnRecallCurve,
    S14AnnHamming,
    T1LangId,
    T2Quality,
    T3TokenCount,
    T4Fingerprint,
    T7RollingFingerprint,
    T8Repetition,
    T9BigramLm,
    T10TfIdf,
    T11CharEntropy,
    T12BpeMerges,
    T13BpeEncode,
    T14LangConfusion,
    T15CountMin,
    T16Zipf,
    T17CorpusCard,
    T18SourceOverlap,
    T19LmFilter,
    T26FilterAgreement,
    T27VocabCoverage,
    T28GramNovelty,
    T29Winnowing,
    T20PiiScan,
    T21MarkupStrip,
    T22GopherRules,
    T23CorpusDrift,
    T24HllCardinality,
    T5StringFuncs,
    T6Vocab,
    S3StratifiedSample,
    S12PropensitySample,
    V1LabelCentroids,
    V2KnnLabel,
    V2cKnnLabelIvf,
    V3CentroidOutliers,
    V4LabelSilhouette,
    V5ClusterPurity,
    V6LabelPropagation,
    M1MultimodalMeta,
    M2FrameSample,
    M3KeyframePool,
    M4VideoDedup,
    M5ImageDecode,
    M6AudioDecode,
    M7ImagePhash,
    M8AudioEnvelope,
    M9AvDedup,
    P1CleanCorpus,
    P2SequencePack,
    P3MixtureSample,
    P4TrainingCorpus,
    P5Decontaminated,
    P6TemperatureMix,
    P7SpanStrip,
    P8PiiRedacted,
    P9ReleaseManifest,
    P10ReleasePii,
    P11IncrementalCorpus,
    P12AttritionFunnel,
    P13SplitManifest,
    P14BpePack,
    P15LengthBatches,
    P16EpochShuffle,
    P17ShardManifest,
    P18Curriculum,
    G1PageRank,
    G2Triangles,
    G3PageRankLsh,
    G4TrianglesLsh,
    G5DegreeCensus)

  /** The deliberately exact-but-unscalable recall oracles (all-pairs /
    * broadcast-probe shapes). Everything NOT in this list is the 100-TB-safe
    * surface; each member's scaladoc names its bucketed scale twin
    * (d5/d10 → d16, s1 → s2/s4–s9, v2 → v2c, g1/g2 → g3/g4). See
    * [[GraftQuery.oracleOnly]].
    */
  val oracleOnlyTwins: Seq[GraftQuery] = all.filter(_.oracleOnly)

  def byName(name: String): GraftQuery =
    all.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"unknown query: $name"))

  /** The queries a main runs: every registered one for `None`, else those
    * named in the comma list (`$SPARK_GRAFT_QUERIES`), in Registry order.
    * An unknown name throws [[byName]]'s NoSuchElementException, so a typo
    * fails instead of silently running nothing.
    */
  def select(csv: Option[String]): Seq[GraftQuery] = csv.fold(all) { list =>
    val want = list.split(',').map(_.trim).filter(_.nonEmpty).map(byName).toSet
    all.filter(want)
  }

  /** Force-build every [[graft.Materialize]] shared stage for `sfDir`
    * (no-op when sharing is disabled). Bench calls this UNTIMED before each
    * measured pass set so the one-time stage builds land in the reported
    * "shared" block instead of poisoning whichever consumer runs first;
    * build cost is still real work and Bench folds it into the headline
    * total. Each accessor materializes eagerly on its build path.
    */
  def prebuildShared(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit =
    if (graft.Materialize.enabled) {
      // Dependency order: later builds read earlier stages (d7's components
      // propagate over d4's pairs; p9's kept strip reads p1's dispositions).
      D3SimHash.run(spark, sfDir)
      D4NgramJaccard.run(spark, sfDir)
      D7DupClusters.run(spark, sfDir)
      D5EmbedDedup.run(spark, sfDir)
      K4QualityClassifier.run(spark, sfDir)
      T19LmFilter.run(spark, sfDir)
      T12BpeMerges.encodedCorpus(spark, sfDir)
      P1CleanCorpus.dispositions(spark, sfDir)
      D9Contamination.run(spark, sfDir)
      D16SemanticLshClusters.verifiedPairs(spark, sfDir)
      P9ReleaseManifest.keptClean(spark, sfDir)
      ()
    }
}
