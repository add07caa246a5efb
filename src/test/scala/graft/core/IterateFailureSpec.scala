package graft.core

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.{SparkException, TaskContext}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Sums its partition, except that partition 1 throws in iteration 3. */
private class FailingWorker extends WorkerComputable[Long, Long, Long] {
  def compute(records: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
    if (ctx.currentIteration == 3 && TaskContext.getPartitionId() == 1)
      throw new IllegalStateException("injected failure: iteration 3, partition 1")
    records.sum
  }
}

/** What a run does when it fails. The shared test session is `local[4]`,
  * which gives every task one attempt, so the first worker failure fails the
  * job. The retry-and-recover case needs a `local[N,F]` master and lives in
  * [[IterateRetrySpec]].
  */
class IterateFailureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a worker that throws fails the run with its message and releases the persisted input") {
    val sc = spark.sparkContext
    val ds = spark.range(0L, 400L, 1L, 4).as[Long]
    // Dataset.rdd is a lazy val, so this is the RDD Iterate.run persists.
    val input = ds.rdd.id
    val persisted = mutable.Buffer.empty[Boolean]
    val watch = new IterationListener[Long] {
      override def onIterationEnd(iteration: Int, master: Long, elapsedMillis: Long): Unit =
        persisted += sc.getPersistentRDDs.contains(input)
    }
    val e = intercept[SparkException] {
      Iterate.run[Long, Long, Long](
        ds, new FailingWorker, TimeoutSumMaster, maxIterations = 5,
        combine = Some(_ + _), listeners = Seq(watch))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("injected failure: iteration 3, partition 1")))
    assert(persisted == Seq(true, true), "input persisted through iterations 1-2")
    assert(!sc.getPersistentRDDs.contains(input), "input still persisted after the failure")
  }

  /** Ids of the persistent RDDs that `body` leaves behind. */
  private def persistedLeftBy(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    sc.getPersistentRDDs.keySet.toSet -- before
  }

  test("a listener whose onStart throws releases the persisted input") {
    val ds = spark.range(0L, 400L, 1L, 4).as[Long]
    val throwing = new IterationListener[Long] {
      override def onStart(totalIterations: Int): Unit =
        throw new IllegalStateException("onStart failed")
    }
    val left = persistedLeftBy {
      val e = intercept[IllegalStateException] {
        Iterate.run[Long, Long, Long](
          ds, new FailingWorker, TimeoutSumMaster, maxIterations = 5,
          combine = Some(_ + _), listeners = Seq(throwing))
      }
      assert(e.getMessage == "onStart failed")
    }
    assert(left.isEmpty, s"persistent RDDs left behind: $left")
  }

  test("an empty input fails before the first iteration and releases the persisted input") {
    val empty = Seq.empty[Long].toDS()
    val left = persistedLeftBy {
      val e = intercept[IllegalArgumentException] {
        Iterate.run[Long, Long, Long](
          empty, new FailingWorker, TimeoutSumMaster, maxIterations = 3, combine = Some(_ + _))
      }
      assert(e.getMessage.contains("input Dataset has no partitions"))
    }
    assert(left.isEmpty, s"persistent RDDs left behind: $left")
  }

  test("an unreadable checkpoint releases the persisted input") {
    val dir = Files.createTempDirectory("graft-bad-checkpoint")
    val state = Files.write(dir.resolve("master_state.bin"), Array[Byte](1, 2, 3))
    val ds = spark.range(0L, 400L, 1L, 4).as[Long]
    try {
      val left = persistedLeftBy {
        intercept[java.io.IOException] {
          Iterate.run[Long, Long, Long](
            ds, new FailingWorker, TimeoutSumMaster, maxIterations = 5,
            combine = Some(_ + _), checkpointDir = Some(dir.toString))
        }
      }
      assert(left.isEmpty, s"persistent RDDs left behind: $left")
    } finally { Files.delete(state); Files.delete(dir) }
  }
}
