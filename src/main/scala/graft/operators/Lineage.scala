package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PersistedTruncate

/** Lineage-bounded iteration driver for DataFrame loops — the hygiene that
  * makes LONG driver loops viable. The reference's default iteration budget
  * is 50 (`GuaguaConstants.java:35-37` — GUAGUA_DEFAULT_ITERATION_COUNT);
  * a naive `var df = step(df)` loop at that depth embeds every prior round
  * in one Catalyst plan, so analysis/optimization cost grows per round
  * (quadratic in total) and eventually dominates execution — the classic
  * iterative-dataflow failure mode that never shows up in a 5-round demo
  * and always shows up in production.
  *
  * `loop` runs `step` for `rounds` iterations. A loop of at most
  * [[LazyRounds]] rounds is a plain fold: the caller's final action
  * executes the whole lazy plan once (g1/g3's declared 5 rounds, which
  * match their unrolled oracle SQL). A longer loop crosses the engine's one
  * round boundary, [[PersistedTruncate.truncate]] with a local checkpoint,
  * after every [[LazyRounds]]-th round that another round follows:
  * the round's rows are persisted, local-checkpointed and counted, the
  * carried frame becomes a scan of them that keeps the step's output
  * partitioning, and the PREVIOUS boundary (no longer reachable) is
  * unpersisted. So no plan is more than [[LazyRounds]] steps deep.
  *
  * The checkpoint must be a REAL one — persist alone is not truncation: a
  * merely-persisted boundary keeps the parent RDD object graph alive, every
  * task ships it, and at the reference's 50-round budget task
  * deserialization stack-overflows (see [[PersistedTruncate]] for the
  * measurement and for the cost of the checkpoint contract).
  *
  * The final boundary RDD (if any) stays persisted — the returned frame
  * reads it; callers sweep via [[graft.GraftSession.sweep]] or
  * `GraftQuery.runManaged`'s RDD snapshot diff. Tests that need per-round
  * plan sizes or times record them from inside their own `step`.
  */
object Lineage {

  /** The deepest lazy plan a loop builds: the 5 rounds the oracle-gated
    * g1/g3 already run as one plan.
    */
  val LazyRounds = 5

  def loop(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // CLI `-c` cap (graft.core.IterationBudget): min(declared, cap);
    // identity unless graft.Cli set a cap for this invocation.
    val n = graft.core.IterationBudget.effective(rounds)
    var cur = init
    var boundary: RDD[_] = null
    for (i <- 1 to n) {
      cur = step(cur)
      if (i % LazyRounds == 0 && i < n) {
        val (next, rdd) = PersistedTruncate.truncate(cur, localCheckpoint = true)
        rdd.count() // materialize: deps drop here; old boundary never read again
        if (boundary != null) boundary.unpersist(blocking = false)
        boundary = rdd
        cur = next
      }
    }
    cur
  }
}
