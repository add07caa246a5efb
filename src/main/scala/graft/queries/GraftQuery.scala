package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named, parameterized query of the engine's declared surface
  * (SURVEY.md §2.F + the pipeline extensions). `run` is the Spark-first
  * implementation; `oracle` is the exact DuckDB SQL the driver checks it
  * against (None → driver falls back to a rows-only check).
  *
  * Contract: output column NAMES (and value formatting) must match the
  * oracle exactly — the driver sorts columns by name and hash-compares
  * canonicalized values. Floating-point aggregates are rounded explicitly on
  * BOTH sides so summation-order differences between engines cannot flip a
  * digit at the driver's 12-significant-digit canonicalization.
  */
trait GraftQuery {
  def name: String

  /** One-line description for SURVEY/README cross-referencing. */
  def describe: String

  def run(spark: SparkSession, sfDir: String): DataFrame

  /** [[run]] with the cache lifetime owned by the QUERY instead of the
    * caller: materialize through `sink`, then evict exactly the caches this
    * call created (d4/t8/t9/d9 persist intermediates that outlive the
    * returned plan). Two mechanisms, both scoped to this call so caches the
    * application held before survive untouched:
    *
    *   - DataFrame persists go through [[graft.CacheScope]], whose
    *     `Dataset.unpersist` evicts the CacheManager ENTRY as well as the
    *     blocks — an RDD-level sweep alone leaves the entry registered and
    *     a later identical plan fragment silently reads the stale cache
    *     (the round-5 d6-baseline bug; see CacheScope's scaladoc);
    *   - raw RDD persists (d7's per-round lineage truncation) are swept by
    *     snapshot-diff on RDD ids.
    *
    * The engine's mains own their whole session and sweep it with
    * [[graft.GraftSession.sweep]] instead. Library callers get this.
    */
  def runManaged[T](spark: SparkSession, sfDir: String)(sink: DataFrame => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try graft.CacheScope.scoped(sink(run(spark, sfDir)))
    finally spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!before.contains(id)) rdd.unpersist(false) }
  }

  def oracle: Option[String]

  /** True for queries whose construction is deliberately exact-but-unscalable
    * (all-pairs O(n²) joins or broadcast-the-probes shapes): they exist as
    * the recall/agreement ORACLES that pin their bucketed scale twin's
    * quality floor, and must not themselves be run at 100-TB scale. Each
    * `oracleOnly` query names its scale twin in its scaladoc (d5/d10 → d16,
    * s1 → s2/s4–s9, v2 → v2c, g1/g2 → g3/g4). Everything with the default
    * `false` is the 100-TB-safe surface: candidates come from keyed
    * equi-joins, state is bounded, and no driver-side loop touches O(n) rows.
    */
  def oracleOnly: Boolean = false
}
