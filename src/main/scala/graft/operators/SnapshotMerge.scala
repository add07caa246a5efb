package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot MERGE — the change-data-capture upsert between a base snapshot
  * and a delta batch, the incremental-ingestion primitive behind Delta's /
  * Iceberg's `MERGE INTO` and the recrawl cycle of a 100-TB corpus (today's
  * crawl is a delta against yesterday's release; most rows carry over,
  * some update in place, some are new).
  *
  * The reference has no incremental story at all — every guagua run
  * re-reads the full input (worker/AbstractWorkerComputable.java:66-104
  * loads once per JOB, not incrementally across jobs); d8's Bloom gate
  * covers incremental DEDUP, this covers incremental STATE.
  *
  * Shape: ONE full-outer equi-join on the merge key; each output row's
  * disposition falls out of null-ness —
  *   - key in both      → `updated`  (delta wins),
  *   - key in base only → `carried`  (base row survives unchanged),
  *   - key in delta only → `inserted`.
  * [[merge]] is the plain 3-set upsert; [[mergeCdc]] is the full CDC form —
  * a closed 4-set with first-class `deleted` tombstones and per-column
  * presence flags so a delta can SET a payload column to NULL (plain
  * `coalesce` cannot express that: the base value would resurrect).
  *
  * PRECONDITION (both forms): the merge key is UNIQUE within `base` and
  * within `delta`. A duplicated key fans out through the full-outer join
  * (every base match × every delta match) and silently multiplies output
  * rows. A raw CDC batch is NOT unique — run [[reduceDelta]] (highest-`seq`
  * wins) before merging.
  *
  * Scale: the join shuffles both sides on the merge key once. At 100 TB the
  * two cheaper regimes are (a) delta ≪ base — broadcast the delta (Spark
  * does this automatically under `autoBroadcastJoinThreshold`; a full-outer
  * join cannot broadcast, so small deltas should instead take the
  * left-anti ∪ inner decomposition) and (b) repeated merges — bucket BOTH
  * snapshots on the key (BucketingSpec's layout) so every nightly merge is
  * co-located with zero shuffle. Hot keys split under AQE skew handling.
  * Nothing here is row-order- or partition-count-sensitive.
  */
object SnapshotMerge {
  /** Debug default for the unique-key guard: `-Dgraft.merge.checkUnique=true`
    * turns it on process-wide (CI / staging), callers can force it per-merge.
    */
  private def debugChecks: Boolean =
    java.lang.Boolean.getBoolean("graft.merge.checkUnique")

  /** The unique-key precondition made loud: when enabled, each side streams
    * through a per-key count window whose `assert_true` FAILS THE JOB on the
    * first duplicated key instead of letting the full-outer join silently
    * fan out. Distributed (no collect), and the window's hash partitioning
    * on `key` is exactly what the merge join needs next, so the guard adds a
    * sort within already-required partitions, not an extra shuffle — still,
    * it is a debug/staging switch, not an always-on tax.
    */
  private def requireUniqueKeys(df: DataFrame, key: String, side: String): DataFrame = {
    // NULL keys never match in the equi-join and cannot fan out, so they are
    // exempt: the count window would otherwise pool every NULL-keyed row into
    // one partition and reject inputs the merge itself handles fine.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    df.withColumn("__kc", count(lit(1)).over(w))
      .filter(assert_true(col(key).isNull || col("__kc") === 1,
        concat(lit(s"SnapshotMerge: duplicate merge key '$key' in $side " +
          s"(reduceDelta the batch first); offending key = "),
          col(key).cast("string"))).isNull)
      .drop("__kc")
  }

  /** Merge `delta` into `base` on `key`. `payload` names the columns carried
    * through (present in both inputs); for each, the output holds
    * `coalesce(delta.c, base.c)` — delta wins where both exist. Adds
    * `disposition ∈ {inserted, carried, updated}`.
    *
    * Requires unique keys per side — see the object scaladoc; pre-reduce a
    * raw CDC batch with [[reduceDelta]]. `checkUnique` (default: the
    * `graft.merge.checkUnique` system property) verifies the precondition
    * in-flight and fails loudly instead of fanning out.
    */
  def merge(base: DataFrame, delta: DataFrame, key: String, payload: Seq[String],
      checkUnique: Boolean = debugChecks): DataFrame = {
    if (checkUnique)
      return merge(requireUniqueKeys(base, key, "base"),
        requireUniqueKeys(delta, key, "delta"), key, payload, checkUnique = false)
    // Null-ness of a SIDE (not of a payload value) must drive the
    // disposition, so tag each side with a literal marker that survives the
    // outer join: a payload column could legitimately hold nulls.
    val b = base.select((key +: payload).map(col) :+ lit(1).as("__in_base"): _*)
    val d = delta.select((key +: payload).map(col) :+ lit(1).as("__in_delta"): _*)
    val joined = b.alias("b").join(d.alias("d"), Seq(key), "full_outer")
    val disposition = when(col("__in_base").isNull, "inserted")
      .when(col("__in_delta").isNull, "carried")
      .otherwise("updated")
    val merged: Seq[Column] = payload.map(c =>
      coalesce(col(s"d.$c"), col(s"b.$c")).as(c))
    joined.select(col(key) +: merged :+ disposition.as("disposition"): _*)
  }

  /** Collapse a raw CDC batch to ONE row per key — the highest-`seqCol` row
    * wins: the uniqueness precondition [[merge]]/[[mergeCdc]] require, made
    * executable. `seqCol` must be unique per key (it is the CDC log offset),
    * so the winner is deterministic. One keyed shuffle (window over the
    * merge key); at scale this is the same partitioning the merge join
    * needs, so AQE reuses the exchange.
    */
  def reduceDelta(delta: DataFrame, key: String, seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(seqCol).desc)
    delta.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Full CDC merge: [[merge]] extended to the closed 4-set
    * `{inserted, carried, updated, deleted}` with per-column presence.
    *
    * Delta wire convention:
    *   - `tombstone` (boolean, default column name `deleted`): true marks
    *     the key deleted as of this batch. A tombstone for a key ABSENT
    *     from the base is a no-op and is dropped from the output (nothing
    *     to delete); a tombstone for a present key yields one output row
    *     with `disposition = deleted` carrying the base's last-known
    *     payload values — the release filter downstream drops or archives
    *     them.
    *   - for each payload column `c`, an OPTIONAL boolean `c_set` column:
    *     true = the delta assigns `c` (possibly to NULL — the
    *     delta-sets-NULL case `coalesce` cannot express), false = the delta
    *     does not mention `c` (base value carries; NULL for an inserted
    *     key). A missing `c_set` column means `c` is always assigned —
    *     [[merge]]'s delta-wins behavior, minus its inability to null.
    *
    * Same single full-outer keyed join as [[merge]]; same unique-key
    * precondition ([[reduceDelta]] a raw batch first), same `checkUnique`
    * in-flight guard.
    */
  def mergeCdc(
      base: DataFrame,
      delta: DataFrame,
      key: String,
      payload: Seq[String],
      tombstone: String = "deleted",
      checkUnique: Boolean = debugChecks): DataFrame = {
    if (checkUnique)
      return mergeCdc(requireUniqueKeys(base, key, "base"),
        requireUniqueKeys(delta, key, "delta"), key, payload, tombstone,
        checkUnique = false)
    val deltaCols = delta.columns.toSet
    val presence: Seq[Column] = payload.map { c =>
      (if (deltaCols(s"${c}_set")) col(s"${c}_set") else lit(true)).as(s"__set_$c")
    }
    val b = base.select((key +: payload).map(col) :+ lit(1).as("__in_base"): _*)
    val d = delta.select(
      ((key +: payload).map(col) ++ presence) :+
        col(tombstone).as("__tomb") :+ lit(1).as("__in_delta"): _*)
    val joined = b.alias("b").join(d.alias("d"), Seq(key), "full_outer")
    val disposition = when(col("__in_base").isNull, "inserted")
      .when(col("__in_delta").isNull, "carried")
      .when(col("__tomb"), "deleted")
      .otherwise("updated")
    // delete-of-absent-key: a no-op, not a row
    val kept = joined.filter(
      !(col("__in_base").isNull && col("__in_delta").isNotNull && col("__tomb")))
    val merged: Seq[Column] = payload.map { c =>
      when(col("__in_delta").isNotNull && !col("__tomb") && col(s"__set_$c"), col(s"d.$c"))
        .otherwise(col(s"b.$c")).as(c)
    }
    kept.select(col(key) +: merged :+ disposition.as("disposition"): _*)
  }
}
