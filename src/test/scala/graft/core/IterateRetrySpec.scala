package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ChildJvm

/** Retry-and-recover under task failure (the reference gets it from MR/YARN
  * attempt limits, GuaguaYarnConstants ≤ 4 attempts): every partition's
  * first attempt in every iteration throws, the scheduler re-runs it, and the
  * run finishes with the exact answer. Workers being pure functions of
  * (partition, lastMaster) is what makes the retry safe.
  *
  * `main` runs in a child JVM ([[ChildJvm]]) because it needs a `local[2,2]`
  * master (two task attempts), which cannot share the test session.
  * Arguments: partitions, iterations, quorum ratio. Data is 1..partitions×3
  * spread over the partitions; it prints one `RETRY` line.
  */
object IterateRetryMain {

  /** (iteration, partition) pairs whose first attempt threw. */
  private val failed = ConcurrentHashMap.newKeySet[(Int, Int)]()

  private class FlakyWorker extends WorkerComputable[Long, Long, Long] {
    def compute(records: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
      val tc = TaskContext.get()
      if (tc.attemptNumber() == 0) {
        failed.add((ctx.currentIteration, tc.partitionId()))
        throw new RuntimeException(s"injected transient failure on partition ${tc.partitionId()}")
      }
      last.getOrElse(0L) + records.sum
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(parts, iterations, ratio) = args
    val spark = SparkSession.builder()
      .master("local[2,2]") // 2 threads, 2 task attempts
      .appName("graft-retry")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    import spark.implicits._
    val data = spark.range(1L, parts.toLong * 3 + 1, 1L, parts.toInt).as[Long]
    val r = Iterate.run[Long, Long, Long](
      data, new FlakyWorker, TimeoutSumMaster, maxIterations = iterations.toInt,
      combine = Some(_ + _), minWorkersRatio = ratio.toDouble)
    println(s"RETRY result=${r.master} iterations=${r.iterations} retried=${failed.size()}")
    spark.stop()
  }
}

/** Runs [[IterateRetryMain]] in both barrier modes. */
class IterateRetrySpec extends AnyFunSuite {

  /** s_1 = S and s_k = parts × s_(k-1) + S, where S = sum(1..parts×3):
    * every partition adds the last master to its own sum.
    */
  private def expected(parts: Int, iterations: Int): Long = {
    val s = (1L to parts * 3L).sum
    (2 to iterations).foldLeft(s)((acc, _) => parts * acc + s)
  }

  private def check(parts: Int, iterations: Int, ratio: Double): Unit = {
    val out = ChildJvm.run(
      "graft.core.IterateRetryMain", Seq(parts.toString, iterations.toString, ratio.toString))
    val line = out.output.linesIterator.find(_.startsWith("RETRY "))
    assert(out.exitCode == 0 && line.isDefined, s"child JVM failed:\n${out.output.takeRight(4000)}")
    assert(line.get ==
      s"RETRY result=${expected(parts, iterations)} iterations=$iterations " +
        s"retried=${parts * iterations}")
  }

  test("full barrier: every first attempt fails, the retries recover the exact result") {
    // 2 partitions, 2 iterations: s_2 = 2·21 + 21 = 63, four retried tasks.
    assert(expected(2, 2) == 63L)
    check(parts = 2, iterations = 2, ratio = 1.0)
  }

  test("quorum mode: retried partitions still report within the window, full sum") {
    // 16 partitions at ratio 0.75 with the default 60 s window: the retries
    // finish long before it closes, so every partition's sum is in.
    check(parts = 16, iterations = 2, ratio = 0.75)
  }
}
