package graft.queries

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.IterationBudget

/** k1 and q9 run on the `Iterate` kernel: their master state travels in the
  * kernel's broadcast, not as plan literals. These specs pin that
  * structurally — no timing margin — and pin that the loops release the
  * cache the kernel makes.
  */
class KernelLoopsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val loops: Seq[GraftQuery] = Seq(K1LrLoop, Q9KMeansLoop)

  private def runUnder(q: GraftQuery, cap: Option[Int]): Unit = {
    IterationBudget.withCap(cap)(q.run(spark, TestSpark.sf0001).collect())
    ()
  }

  /** Generated classes Spark compiled (code-cache misses) while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("k1 and q9 iterations add no codegen: a full run compiles no more than a 1-iteration run") {
    loops.foreach { q =>
      runUnder(q, Some(1)) // warm the code cache with what one iteration needs
      val capped = compiles(runUnder(q, Some(1)))
      val full = compiles(runUnder(q, None))
      assert(full <= capped,
        s"${q.name}: the full run compiled $full classes, the 1-iteration run $capped")
    }
  }

  test("k1 and q9 leave no persistent RDD behind") {
    val sc = spark.sparkContext
    loops.foreach { q =>
      val before = sc.getPersistentRDDs.keySet
      runUnder(q, None)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"${q.name} left persistent RDDs: $left")
    }
  }
}
