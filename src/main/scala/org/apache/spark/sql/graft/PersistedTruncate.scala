package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's round boundary: lineage truncation that PRESERVES the
  * physical plan's output partitioning — `Dataset.checkpoint`'s
  * construction with `persist` substituted for the checkpoint, plus an
  * optional `localCheckpoint` of the persisted rows.
  *
  * Why it exists (optimization round 16): an iterative loop must truncate
  * the Catalyst plan between rounds or it embeds all prior rounds; the
  * round-14 form did that through `df.rdd` +
  * `createDataFrame(rdd, schema)`, which cuts the lineage but ERASES the
  * partitioning — Catalyst sees an opaque scan, so ConnectedComponents'
  * next-round `labels ⨝ cand ON node` re-shuffled the ENTIRE label table
  * every round even though it was already hash-partitioned by node. This
  * helper does what `Dataset.checkpoint` does — execute the physical plan
  * and wrap the InternalRow RDD in a [[LogicalRDD]] that carries the plan's
  * partitioning and ordering — so the planner keeps seeing
  * `HashPartitioning(node)`.
  *
  * Two callers, two choices of `localCheckpoint`:
  *   - `false` (ConnectedComponents): persist only. The RDD lineage stays,
  *     so a lost partition is recomputed, but it grows every round: fine
  *     for loops that converge in a few rounds, not for long ones (a
  *     persist-only boundary measured 257–263 RDDs deep after 50 rounds,
  *     and a longer loop threw `StackOverflowError` deserializing tasks).
  *   - `true` ([[graft.operators.Lineage.loop]]): the persisted RDD is also
  *     local-checkpointed, so its dependencies are cleared once it is
  *     materialized and the shipped RDD graph stays O(rounds between
  *     boundaries) forever. The cost is the checkpoint contract: on
  *     executor loss the checkpointed partitions are unrecoverable and the
  *     JOB fails (a retry restarts the loop from its driver-side state). A
  *     cluster that wants lineage-free recovery swaps in reliable
  *     `rdd.checkpoint` against an HDFS checkpoint dir here, in one line.
  *
  * The `.map(_.copy())` is load-bearing: operators reuse UnsafeRow buffers,
  * so persisting the raw iterator would alias every row in a partition to
  * the last buffer state.
  */
object PersistedTruncate {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.PersistedTruncate")

  /** The partitioning and ordering the new leaf may claim over `output`.
    * `truncate` binds the physical plan's claim to the analyzed output
    * without the attribute rewrite `LogicalRDD.fromDataset` performs, so a
    * claim naming an attribute outside `output` (exprIds that drifted
    * between analysis and execution) would dangle and silently stop the
    * planner from reusing the partitioning. Such a claim degrades loudly to
    * `UnknownPartitioning` with no ordering.
    */
  private[graft] def claim(partitioning: Partitioning, ordering: Seq[SortOrder],
      output: Seq[Attribute]): (Partitioning, Seq[SortOrder]) = {
    val partitionRefs = partitioning match {
      case e: Expression => e.references
      case _ => AttributeSet.empty
    }
    val refs = ordering.foldLeft(partitionRefs)(_ ++ _.references)
    if (refs.subsetOf(AttributeSet(output))) (partitioning, ordering)
    else {
      log.warn(s"claimed partitioning $partitioning / ordering ${ordering.mkString(", ")} " +
        s"references attributes outside the output ${output.mkString(", ")}; " +
        "advertising UnknownPartitioning instead")
      (UnknownPartitioning(partitioning.numPartitions), Nil)
    }
  }

  /** Execute `df`, persist its rows (MEMORY_AND_DISK), local-checkpoint
    * them when `localCheckpoint` is set, and return a DataFrame over the
    * persisted RDD that still advertises the plan's output partitioning
    * plus the RDD handle for precise unpersist. The rows are computed by
    * the caller's next action on either (which, with `localCheckpoint`,
    * also cuts the RDD's dependencies).
    *
    * Deliberately NOT `LogicalRDD.fromDataset`: that helper forwards the
    * ORIGIN plan's statistics into the new leaf, so an iterative caller's
    * size estimates COMPOUND round over round (each round's join multiplies
    * the forwarded products — by round ~8 the BigInt sizeInBytes has
    * millions of digits and `SizeInBytesOnlyStatsPlanVisitor` spends
    * unbounded time in BigInteger.multiply; observed as a planner hang on
    * the d7 warmup). Constructing the [[LogicalRDD]] with
    * `originStats = None` resets each round to `defaultSizeInBytes` —
    * exactly the stats behavior of the `createDataFrame(rdd, schema)`
    * boundary this replaces — while keeping the partitioning.
    */
  def truncate(df: DataFrame, localCheckpoint: Boolean): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = ds.sparkSession
    // Under AQE the executedPlan is AdaptiveSparkPlanExec — a LeafExecNode
    // that does NOT override outputPartitioning (it reports the default
    // UnknownPartitioning even after finalization; Dataset.checkpoint has
    // the same blind spot). execute() finalizes the adaptive plan — the
    // intermediate shuffle stages materialize here, as they already did
    // for the old df.rdd boundary — and the partitioning must then be
    // read from the FINAL physical plan inside it.
    val physical = ds.queryExecution.executedPlan
    val internal = physical.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    if (localCheckpoint) internal.localCheckpoint()
    val finalPlan = physical match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // Dataset.checkpoint's firstLeafPartitioning: a join's output reports a
    // PartitioningCollection; the leaf is the one the new plan can claim.
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val output = ds.logicalPlan.output
    val (partitioning, ordering) =
      claim(firstLeaf(finalPlan.outputPartitioning), finalPlan.outputOrdering, output)
    val logical = LogicalRDD(
      output,
      internal,
      partitioning,
      ordering,
      isStreaming = false,
      stream = None)(spark, None, None)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, logical), internal)
  }
}
