package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{ExecutionSurface, MutationSurface, ReferenceSurface}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here: a named
  * DataFrame query over the driver testdata plus (where SQL-expressible) an
  * equivalent DuckDB oracle query. Column names and row order are aligned
  * between the two on purpose — the driver hash-compares values.
  */
object SparkEntry {

  type Gate = (SparkSession, String) => DataFrame

  /** Cores a session is sized for: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The one session shape every `main` runs under: the launcher's
    * `spark.master` when it set one (spark-submit, `-Dspark.master`), else
    * `local[cpus]`; `cpus` shuffle partitions, AQE, UTC session time and
    * [[functions.GraftExtensions]]. `spark.ui.enabled` stays the
    * launcher's (build.sbt turns it off for every forked run and test).
    */
  def session(app: String): SparkSession = {
    val builder = SparkSession.builder().appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new functions.GraftExtensions)
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    analytics.Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Gate] =
    Map[String, Gate](
    "pa_items_snapshot" -> ((s, d) =>
      store.DerivedItems.items(s, d).drop("log").orderBy("itemID")),
    "pa_nested_tasks" -> ((s, d) =>
      store.DerivedItems.nestedTaskRows(s, d).orderBy("itemID", "taskKey")),
  ) ++ ReferenceSurface.queries ++ MutationSurface.queries ++
    ExecutionSurface.queries ++ analytics.Relational.queries ++
    analytics.Sessions.queries ++ analytics.Behavior.queries ++
    analytics.TimeSeries.queries ++
    analytics.Layout.queries ++ analytics.FuzzyJoin.queries ++
    analytics.BloomPrune.queries ++
    analytics.Ranking.queries ++ analytics.Graph.queries ++
    analytics.TpchShapes.queries ++ analytics.WindowSuite.queries ++
    analytics.DataQuality.queries ++
    analytics.Hll.queries ++ analytics.Profile.queries ++
    analytics.Theta.queries ++
    text.TextSurface.queries ++ text.Search.queries ++
    text.HybridSearch.queries ++
    text.HeavyHitters.queries ++ text.CountMin.queries ++ text.Bpe.queries ++
    text.Collocations.queries ++ text.LanguageModel.queries ++
    text.QualityClassifier.queries ++ text.ImportanceSampler.queries ++
    dedup.DedupSurface.queries ++
    dedup.SemanticDedup.queries ++
    sim.SimSurface.queries ++ sim.Covariance.queries ++
    multimodal.MultimodalSurface.queries ++
    pipeline.PipelineSurface.queries ++ pipeline.Snapshots.queries ++
    store.VersionedTable.queries ++ store.Ivm.queries ++
    streaming.MonitorStream.queries

  /** The gates of a comma-list, in list order; with no list, every gate in
    * name order. Fails before any gate runs, naming every unknown name: a
    * typo must not select nothing and report an empty run.
    */
  def select(names: Option[String]): Seq[(String, Gate)] = {
    val all = queries
    names.map(_.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq) match {
      case None => all.toSeq.sortBy(_._1)
      case Some(wanted) =>
        val unknown = wanted.filterNot(all.contains)
        require(wanted.nonEmpty, "empty gate selection")
        require(unknown.isEmpty, s"unknown gate name(s): ${unknown.mkString(", ")}")
        wanted.map(n => n -> all(n))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "pa_items_snapshot" ->
      (store.DerivedItems.itemsCte + "\nSELECT * FROM items ORDER BY itemID"),
    "pa_nested_tasks" ->
      (store.DerivedItems.nestedTaskRowsCte +
        "\nSELECT * FROM ntasks ORDER BY itemID, taskKey"),
  ) ++ ReferenceSurface.oracles ++ MutationSurface.oracles ++
    ExecutionSurface.oracles ++ analytics.Relational.oracles ++
    analytics.Sessions.oracles ++ analytics.Behavior.oracles ++
    analytics.TimeSeries.oracles ++
    analytics.Layout.oracles ++ analytics.FuzzyJoin.oracles ++
    analytics.BloomPrune.oracles ++
    analytics.Ranking.oracles ++ analytics.Graph.oracles ++
    analytics.TpchShapes.oracles ++ analytics.WindowSuite.oracles ++
    analytics.DataQuality.oracles ++
    analytics.Hll.oracles ++ analytics.Profile.oracles ++
    analytics.Theta.oracles ++
    text.TextSurface.oracles ++ text.Search.oracles ++
    text.HybridSearch.oracles ++
    text.HeavyHitters.oracles ++ text.CountMin.oracles ++ text.Bpe.oracles ++
    text.Collocations.oracles ++ text.LanguageModel.oracles ++
    text.QualityClassifier.oracles ++ text.ImportanceSampler.oracles ++
    dedup.DedupSurface.oracles ++
    dedup.SemanticDedup.oracles ++
    sim.SimSurface.oracles ++ sim.Covariance.oracles ++
    multimodal.MultimodalSurface.oracles ++
    pipeline.PipelineSurface.oracles ++ pipeline.Snapshots.oracles ++
    store.VersionedTable.oracles ++ store.Ivm.oracles ++
    streaming.MonitorStream.oracles
}
