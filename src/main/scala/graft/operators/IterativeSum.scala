package graft.operators

import org.apache.spark.sql.Dataset

import graft.core._

/** The reference's flagship example: iterated distributed SUM
  * (guagua-examples/.../sum/SumWorker.java:73-89,
  * guagua-examples/.../sum/SumMaster.java:42-63).
  *
  * Per-iteration semantics (reproduced exactly):
  *   worker_p  = lastMasterSum + Σ records(p)        (SumWorker.doCompute)
  *   master    = Σ_p worker_p                        (SumMaster.compute)
  *   halt when master > haltAbove                    (SumMaster: 1,000,000)
  *
  * so with P partitions and data total X the recurrence is
  * s_i = P·s_{i-1} + X — partition-count sensitive by design (SURVEY §7.4);
  * callers pin P.
  */
object IterativeSum {

  final class SumWorker extends WorkerComputable[Long, Long, Long] {
    def compute(records: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
      var sum = last.getOrElse(0L)
      while (records.hasNext) sum += records.next()
      sum
    }
  }

  final class SumMaster extends MasterComputable[Long, Long] {
    def compute(workerResults: Iterator[Long], last: Option[Long], ctx: IterationContext): Long =
      workerResults.sum
  }

  /** Run the loop; combine is `+`, folded on the driver in partition order
    * (the reference's Combinable path, io/Combinable.java:24-31).
    */
  def run(
      data: Dataset[Long],
      maxIterations: Int = 10,
      haltAbove: Long = 1000000L): IterationResult[Long] =
    Iterate.run[Long, Long, Long](
      data,
      new SumWorker,
      new SumMaster,
      maxIterations = maxIterations,
      halt = (m: Long) => m > haltAbove,
      combine = Some(_ + _))

  /** Reference recurrence evaluated driver-side for validation: s_n, s_0=0. */
  def closedForm(total: Long, partitions: Int, iterations: Int): Long = {
    var s = 0L
    var i = 0
    while (i < iterations) { s = partitions * s + total; i += 1 }
    s
  }
}
