package graft.core

/** Invocation-scoped cap on iterative driver loops — the engine's form of
  * the reference CLI's `-c <iteration count>` generic option
  * (guagua-mapreduce/.../GuaguaOptionsParser.java:393, stored as
  * GuaguaConstants.GUAGUA_ITERATION_COUNT).
  *
  * The reference SETS the job's total iteration count from the client; here
  * every declared query's iteration count is part of its oracle-pinned
  * semantics, so the client knob is a CAP: `effective(declared)` is
  * min(declared, cap). Running a query under a cap intentionally changes
  * its result (fewer Lloyd steps, fewer gradient epochs) — that is what the
  * operator asked for; the oracle gate never runs with a cap set.
  *
  * Consulted by every iterative driver loop: [[Iterate.run]] (the kernel —
  * q2/q3/q4/C6, k1 and KMeans.lloyd (q9)), and the epoch loops of k2/k3/k4
  * and g1/g3. Set/cleared by `graft.Cli` around one invocation
  * ([[withCap]]); plain library callers pass iteration counts explicitly
  * and never touch this.
  */
object IterationBudget {
  @volatile private var capVar: Option[Int] = None

  def cap: Option[Int] = capVar

  /** The loop bound a driver loop should actually run. */
  def effective(declared: Int): Int =
    capVar.fold(declared)(c => math.min(declared, c))

  /** Run `body` with the cap set (None = uncapped), restoring the previous
    * value after — even on failure. JVM-global like the session conf it
    * rides alongside; concurrent invocations with DIFFERENT caps in one JVM
    * are not a supported shape (same as the reference, where -c is a
    * per-job submit option).
    */
  def withCap[A](c: Option[Int])(body: => A): A = {
    c.foreach(n => require(n >= 1, s"iteration cap must be >= 1, got $n"))
    val prev = capVar
    capVar = c
    try body
    finally capVar = prev
  }
}
