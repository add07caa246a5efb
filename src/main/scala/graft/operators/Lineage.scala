package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage-bounded iteration driver for DataFrame loops — the hygiene that
  * makes LONG driver loops viable. The reference's default iteration budget
  * is 50 (`GuaguaConstants.java:35-37` — GUAGUA_DEFAULT_ITERATION_COUNT);
  * a naive `var df = step(df)` loop at that depth embeds every prior round
  * in one Catalyst plan, so analysis/optimization cost grows per round
  * (quadratic in total) and eventually dominates execution — the classic
  * iterative-dataflow failure mode that never shows up in a 5-round demo
  * and always shows up in production.
  *
  * `loop` runs `step` for `rounds` iterations and, every `cadence` rounds,
  * truncates lineage through an RDD boundary: local-checkpoint the round's
  * RDD (persist MEMORY_AND_DISK + clear its dependency chain once
  * materialized), rebuild a DataFrame whose plan is a constant-size scan of
  * that RDD, and unpersist the PREVIOUS boundary (no longer reachable).
  *
  * The checkpoint must be a REAL one — persist alone is not truncation.
  * A merely-persisted boundary short-circuits recomputation but keeps the
  * parent RDD object graph alive, and every task ships that graph: at the
  * reference's 50-round budget the serialized chain is deep enough that
  * task DESERIALIZATION stack-overflows (observed as a mid-suite
  * `StackOverflowError` in a 9000-stage session — flaky, because overflow
  * depends on thread stack state). `localCheckpoint` clears the
  * dependencies after materialization, so the shipped graph is O(cadence)
  * forever. The cost is the checkpoint contract: on executor loss the
  * checkpointed partitions are unrecoverable and the JOB fails (retry
  * restarts the loop from its last driver-side state — the A11 pattern);
  * a cluster deployment that wants lineage-free recovery instead swaps in
  * reliable `rdd.checkpoint` against an HDFS dir — one line. Cadence
  * trades per-boundary materialization cost against plan depth: cadence 1
  * = constant plan, one extra job per round; cadence 5 = plans ≤ 5 steps
  * deep, one extra job per 5 rounds; cadence 0 = never (the
  * lazy-composition shape the short declared loops use, where the caller's
  * final action executes everything once).
  *
  * The final boundary RDD (if any) stays persisted — the returned frame
  * reads it; callers sweep via [[graft.GraftSession.sweep]] or
  * `GraftQuery.runManaged`'s RDD snapshot diff, both of which already
  * handle raw RDD persists.
  */
object Lineage {

  /** Per-round observation: wall seconds for the round (step construction +
    * boundary materialization when this round hit the cadence) and the
    * analyzed-plan node count of the frame carried into the next round —
    * the quantity that must stay FLAT for the loop to survive 50+ rounds.
    */
  final case class Round(i: Int, seconds: Double, planNodes: Int)

  def loop(
      spark: SparkSession,
      init: DataFrame,
      rounds: Int,
      cadence: Int = 1,
      observer: Round => Unit = _ => ())(step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(cadence >= 0, s"cadence must be >= 0 (0 = never truncate), got $cadence")
    var cur = init
    var prevBoundary: RDD[Row] = null
    // CLI `-c` cap (graft.core.IterationBudget): min(declared, cap);
    // identity unless graft.Cli set a cap for this invocation.
    for (i <- 1 to graft.core.IterationBudget.effective(rounds)) {
      val t0 = System.nanoTime()
      var next = step(cur)
      if (cadence > 0 && i % cadence == 0) {
        val rdd = next.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.localCheckpoint() // sever the dependency graph, not just recompute
        rdd.count() // materialize: deps drop here; old boundary never read again
        next = spark.createDataFrame(rdd, next.schema)
        if (prevBoundary != null) prevBoundary.unpersist(blocking = false)
        prevBoundary = rdd
      }
      val nodes = next.queryExecution.analyzed.collect { case p => p }.length
      observer(Round(i, (System.nanoTime() - t0) / 1e9, nodes))
      cur = next
    }
    cur
  }
}
