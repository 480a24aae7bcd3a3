package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1Agg(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.Scans.queries ++
      operators.Joins.queries ++
      operators.Aggregations.queries ++
      operators.Windows.queries ++
      operators.IndicatorPack2.queries ++
      operators.IndicatorPack3.queries ++
      operators.WindowsAdvanced.queries ++
      operators.Segmented.queries ++
      operators.EmaFamily.queries ++
      operators.QualityOps.queries ++
      operators.Pipeline.queries ++
      operators.Sessions.queries ++
      analysis.Stateful.queries ++
      analysis.ZigzagRenko.queries ++
      scale.Dedup.queries ++
      scale.Similarity.queries ++
      scale.TextAnalysis.queries ++
      scale.Multimodal.queries ++
      scale.Sketches.queries ++
      scale.Sampling.queries ++
      scale.Profile.queries ++
      scale.Ranking.queries ++
      scale.Curation.queries ++
      scale.CorpusOps.queries ++
      scale.FeatureOps.queries ++
      scale.GraphOps.queries ++
      scale.EntityResolution.queries ++
      operators.Sources.queries ++
      sources.Sinks.queries ++
      streaming.Subscriptions.queries ++
      analysis.Importance.queries
  /** The registry entries a run is restricted to, in registry order.
    * `only` is `SPARK_GRAFT_ONLY` (Verify and Diag pass their name
    * argument): unset selects every query, `headline` the
    * [[Bench.headline]] set (the sf1 scale run), anything else a
    * comma-separated list of names (the sf10 run's scale-critical
    * subset). A misspelled, stale or empty list fails HERE, loudly:
    * silently running fewer (or zero) queries would still overwrite a
    * committed artifact with an empty or partial one. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    only match {
      case None => all
      case Some(spec) =>
        val names =
          if (spec.trim == "headline") Bench.headline.toSet
          else spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty, s"query list '$spec' names nothing")
        val unknown = names -- all.keySet
        require(unknown.isEmpty,
          s"names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
        all.filter(q => names(q._1))
    }
  }
  /** Build-plan overrides for the queries whose PUBLIC entry serves a
    * [[scale.DirMemo]]-memoized index (shared with other queries in
    * `queries`). A memo's plan after first touch is an ExistingRDD scan,
    * which is the right thing for CONSUMERS but makes the serving
    * query's own steady-state time a count over a checkpoint. Bench's
    * warm pass and Plans' dumps use these so the measured/printed plan
    * is the one that actually computes the index. */
  def benchImpls: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_containment"   -> (scale.Dedup.containmentPairsImpl _),
    "dedup_clusters"      -> (scale.Dedup.computeClusters _),
    "dedup_minhash_lsh"   -> (scale.Dedup.minhashLshPairsImpl _),
    "er_candidates"       -> (scale.EntityResolution.erCandidatesImpl _),
    "ngram_novelty"       -> (scale.CorpusOps.ngramNoveltyImpl _),
    "graph_pagerank"      -> ((s, d) => scale.GraphOps.graphPagerankImpl(s, d)),
    "text_bpe_merges"     -> ((s, d) => scale.TextAnalysis.bpeMergesImpl(s, d)),
    "w34_backtest"        -> (analysis.Stateful.backtestTradesImpl _),
    // steady-state serve cost: the warm pass searches the index the
    // cold (public) run materialized, no index rebuild in the plan
    "ann_ivf2_serve"      -> (scale.Similarity.ivf2ServeRead _),
    "ann_sq8_serve"       -> (scale.Similarity.sq8ServeRead _),
    "ann_ivfsq_serve"     -> (scale.Similarity.ivfSqServeRead _),
    "w32_candle_patterns" -> (operators.WindowsAdvanced.w32CandlePatternsImpl _))
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++
      operators.Scans.oracles ++
      operators.Joins.oracles ++
      operators.Aggregations.oracles ++
      operators.Windows.oracles ++
      operators.IndicatorPack2.oracles ++
      operators.IndicatorPack3.oracles ++
      operators.WindowsAdvanced.oracles ++
      operators.Segmented.oracles ++
      operators.EmaFamily.oracles ++
      operators.QualityOps.oracles ++
      operators.Pipeline.oracles ++
      operators.Sessions.oracles ++
      analysis.Stateful.oracles ++
      analysis.ZigzagRenko.oracles ++
      scale.Dedup.oracles ++
      scale.Similarity.oracles ++
      scale.TextAnalysis.oracles ++
      scale.Multimodal.oracles ++
      scale.Sketches.oracles ++
      scale.Sampling.oracles ++
      scale.Profile.oracles ++
      scale.Ranking.oracles ++
      scale.Curation.oracles ++
      scale.CorpusOps.oracles ++
      scale.FeatureOps.oracles ++
      scale.GraphOps.oracles ++
      scale.EntityResolution.oracles ++
      operators.Sources.oracles ++
      sources.Sinks.oracles ++
      streaming.Subscriptions.oracles ++
      analysis.Importance.oracles
}
