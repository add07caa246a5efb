package graft

import org.apache.spark.sql.SparkSession

/** The engine's session: the one place its mains build a SparkSession
  * ([[local]]) and drop its caches ([[sweep]]), and the SQL entry point that
  * registers every test-data table as a temp view (plus the engine's custom
  * functions) so users can drive the engine with plain `spark.sql(...)` —
  * the query surface is not Column-API-only.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`: the local core count and shuffle partition count
    * of [[local]] (default 4).
    */
  private[graft] def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session Bench, Verify, Cli, PlanDump and the probes run on:
    * `local[$SPARK_GRAFT_CPUS]` with as many shuffle partitions, UTC session
    * time, no UI, log level WARN except the engine's own `graft` loggers,
    * which stay at INFO (so a run's log shows, for one, which
    * ConnectedComponents path ran). It sets only what Spark does not already
    * default to. Two defaults are kept on purpose: adaptive execution (SURVEY
    * §4 "AQE decision") and sort-merge joins (a round-15 A/B ran the 16
    * join-heaviest queries 15-20% slower with shuffled hash joins at sf0.1).
    * Any other setting is a `spark.*` JVM system property, which SparkConf
    * loads: `-Dspark.sql.adaptive.enabled=false` runs a main without AQE.
    */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS); fixed at session build so read
      // behavior never depends on query execution order (see Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft", org.apache.logging.log4j.Level.INFO)
    spark
  }

  /** Drop every cache in `spark`: the SQL cache entries, then every
    * persistent RDD (raw-RDD persists such as ConnectedComponents' rounds).
    * The RDD sweep alone is not enough: it drops the blocks but leaves the
    * CacheManager's plan → InMemoryRelation mapping, and the next identical
    * plan fragment silently reads the stale cache. Until round 5 that handed
    * every bench rep after the first of a persisting query its predecessor's
    * cache (d6 recorded at 0.44 s against its honest ~2 s).
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Register all tables of `sfDir` as temp views named after the tables,
    * and the engine's SQL functions (cosine_similarity, dot_product).
    *
    * Goes through the per-table loaders, NOT raw parquet reads: `events`
    * needs the TIMESTAMP(NANOS) handling in [[Tables.events]] — a raw load
    * would fail on a vanilla session (or silently expose `ts` as raw nanos
    * with the legacy flag set).
    */
  def open(spark: SparkSession, sfDir: String): SparkSession = {
    Tables.all.foreach { t =>
      val df = if (t == "events") Tables.events(spark, sfDir)
      else Tables.load(spark, sfDir, t)
      df.createOrReplaceTempView(t)
    }
    registerFunctions(spark)
    spark
  }

  /** Register the engine's custom expressions on a session. */
  def registerFunctions(spark: SparkSession): Unit = {
    org.apache.spark.sql.graft.CosineSimilarity.register(spark)
    org.apache.spark.sql.graft.DotProduct.register(spark)
    org.apache.spark.sql.graft.SortedContains.register(spark)
  }
}

/** `SparkSessionExtensions` injection point — lets a cluster opt into the
  * engine's custom expressions at session-build time, with no code call:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * The injected builders are the same ones [[GraftSession.registerFunctions]]
  * registers imperatively; both routes resolve to identical expressions, so
  * plans and results don't depend on how the function arrived.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    def info(name: String, usage: String) =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")
    // Same builder objects the imperative register() path uses — one
    // definition per function, no route drift possible.
    ext.injectFunction((
      FunctionIdentifier(org.apache.spark.sql.graft.CosineSimilarity.FunctionName),
      info(org.apache.spark.sql.graft.CosineSimilarity.FunctionName,
        "cosine_similarity(a, b) - cosine of two double arrays (NULL on zero norm)"),
      org.apache.spark.sql.graft.CosineSimilarity.builder))
    ext.injectFunction((
      FunctionIdentifier(org.apache.spark.sql.graft.DotProduct.FunctionName),
      info(org.apache.spark.sql.graft.DotProduct.FunctionName,
        "dot_product(a, b) - dot product of two double arrays"),
      org.apache.spark.sql.graft.DotProduct.builder))
    ext.injectFunction((
      FunctionIdentifier(org.apache.spark.sql.graft.SortedContains.FunctionName),
      info(org.apache.spark.sql.graft.SortedContains.FunctionName,
        "sorted_contains(arr, v) - binary-search membership in a sorted long array"),
      org.apache.spark.sql.graft.SortedContains.builder))
  }
}
