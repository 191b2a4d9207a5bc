package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Pricing(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ RelationalExt.queries ++ RelationalSupply.queries ++
      StatsOps.queries ++ StreamSemantics.queries ++
      EventAnalytics.queries ++ EventValue.queries ++ Joins.queries ++
      Dedup.queries ++ TextAnalysis.queries ++ TextCorpus.queries ++
      QualityClassifier.queries ++ Retrieval.queries ++
      Similarity.queries ++ Clustering.queries ++
      Multimodal.queries ++ Pipeline.queries

  /** The priced shared builds: the session-memoized artifacts that the
    * queries above amortize, as (name, evict, build). Bench evicts,
    * times the build and reports `<name>_sec` for each, in this order,
    * so the queries' own timings read as marginal costs and the shared
    * cost never silently vanishes from the artifact; `tools.Dev build`
    * looks builds up here by name. A build forces its artifact to
    * materialize (a count on pinned frames). An explicit list, not
    * self-registration: operator objects initialise lazily, so a
    * self-registering memo would be missing until its owner is touched.
    * Evicting is for quiescent paths only (see SessionMemo.Keyed.evict). */
  private[graft] lazy val SharedBuilds
      : Seq[(String, SparkSession => Unit, (SparkSession, String) => Unit)] = Seq(
    // The similarity-edge pairs cl_pagerank and cl_dbscan share (the
    // production shape: both graph queries share one build), so their
    // timed numbers are MARGINAL costs over the shared frame.
    ("pair_build", Clustering.pairsMemo.evict,
      (s, d) => Clustering.simEdgePairs(s, d, Clustering.SimEdgeThreshold).count()),
    // The Iters-round k-means training every cl_* query amortizes.
    ("centroid_train", Clustering.centsMemo.evict, Clustering.trainedCents),
    // The ql_* weight-table training the five quality-classifier queries
    // amortize, forced to materialize via the pinned B-row frame.
    ("ql_train", QualityClassifier.modelMemo.evict,
      (s, d) => QualityClassifier.trainedModel(s, d)._2.count()),
    // The corpus scoring pass the five ql_* evaluation cards share.
    // trainedModel stays memoized, so ql_scored prices the scoring pass
    // alone.
    ("ql_scored", QualityClassifier.scoredMemo.evict,
      (s, d) => QualityClassifier.scored(s, d).count()),
    // The OPQ rotation training ann_opq amortizes.
    ("opq_train", Similarity.opqMemo.evict, Similarity.trainedRotation),
    // The IVF coarse-codebook Lloyd sweep ann_ivf_trained and the health
    // and recall cards amortize.
    ("ivf_train", Similarity.ivfCentsMemo.evict, Similarity.trainedIvfCents),
    // The ir sample and corpus stats; evicts all five retrieval memos,
    // since corpus stats feed the derived evaluation artifacts too.
    ("ir_stats", s => {
      Retrieval.sampleMemo.evict(s); Retrieval.dfMemo.evict(s)
      Retrieval.truthMemo.evict(s); Retrieval.truthShingleMemo.evict(s)
      Retrieval.topMemo.evict(s)
    }, Retrieval.corpusSample),
    // The exact PPJoin truth-pair set five dedup queries amortize
    // (dd_ppjoin presents it, the four banding cards evaluate against it).
    ("dd_truth", Dedup.ppjoinMemo.evict,
      (s, d) => Dedup.ppjoinPairsUnsorted(s, d).count()),
    // The retrieval family's shared evaluation artifacts: the
    // self-excluded BM25 top-10 and the token/shingle Jaccard truths each
    // serve ir_eval / ir_eval_strict / ir_fusion from one pinned frame.
    ("ir_top", Retrieval.topMemo.evict, (s, d) => Retrieval.bm25EvalTop(s, d).count()),
    ("ir_truth", Retrieval.truthMemo.evict, (s, d) => Retrieval.truthFrame(s, d).count()),
    ("ir_truth_shingle", Retrieval.truthShingleMemo.evict,
      (s, d) => Retrieval.truthFrameShingle(s, d).count()),
    // The budgeted ANN query sample every similarity card serves from.
    ("ann_queries", Similarity.queriesMemo.evict,
      (s, d) => Similarity.budgetQueries(s, d).count()),
    // The three declared IVF-PQ variants' residual codebooks
    // (trained-quantizer artifacts, like the OPQ rotation), priced together.
    ("pq_book", Similarity.bookMemo.evict, Similarity.buildResidualBooks),
    // The exact brute-force truth pass the ANN evaluation cards
    // amortize (≤5·|Q| rows).
    ("ann_truth", Similarity.truthMemo.evict, (s, d) => Similarity.annTruth(s, d).count()),
    // The NN-descent graph build ann_nndescent/ann_beam amortize; the
    // build's own checkpoints materialize inside the call.
    ("nn_graph", Similarity.graphMemo.evict,
      (s, d) => Similarity.nnDescentGraph(s, d).count()))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ RelationalExt.oracleSql ++ RelationalSupply.oracleSql ++
      StatsOps.oracleSql ++ StreamSemantics.oracleSql ++
      EventAnalytics.oracleSql ++ EventValue.oracleSql ++ Joins.oracleSql ++
      Dedup.oracleSql ++ TextAnalysis.oracleSql ++ TextCorpus.oracleSql ++
      QualityClassifier.oracleSql ++ Retrieval.oracleSql ++
      Similarity.oracleSql ++ Clustering.oracleSql ++
      Multimodal.oracleSql ++ Pipeline.oracleSql
}
