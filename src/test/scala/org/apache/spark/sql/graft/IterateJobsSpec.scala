package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Iterate
import graft.operators.IterativeSum

/** Structural pin for the kernel's barrier: one Spark job per iteration,
  * with or without a combiner, at the full barrier and in quorum mode.
  * Counted with a listener on the context's bus (hence this package:
  * `listenerBus` is Spark-private), so the assertion is on job counts, never
  * on wall-clock time.
  */
class IterateJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  // The name predates the quorum case; the loop covers both barrier modes.
  test("full barrier starts exactly one job per iteration, with and without a combiner") {
    import spark.implicits._
    val sum = Some((a: Long, b: Long) => a + b)
    // (label, partitions, combiner, quorum ratio); 16 partitions is above
    // SmallWorkerCount, so 0.75 is honored there.
    val cases = Seq(
      ("full barrier, combiner", 4, sum, 1.0),
      ("full barrier, no combiner", 4, None, 1.0),
      ("quorum 0.75, combiner", 16, sum, 0.75))
    for ((label, parts, combine, ratio) <- cases) {
      val data = spark.range(0L, 1000L, 1L, parts).as[Long].persist()
      try {
        data.count() // materialize the cache outside the counted window
        val jobs = jobsDuring {
          val r = Iterate.run[Long, Long, Long](
            data, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
            maxIterations = 5, combine = combine, minWorkersRatio = ratio)
          assert(r.iterations == 5)
        }
        assert(jobs == 5, s"$label: $jobs jobs for 5 iterations")
      } finally data.unpersist()
    }
  }
}
