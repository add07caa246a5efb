package graft.core

import scala.concurrent.duration._

import org.apache.spark.{SparkException, TaskContext}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Partition containing value 99 stalls; others answer instantly. */
private class StragglerWorker extends WorkerComputable[Long, Long, Long] {
  def compute(records: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
    val vs = records.toList
    if (vs.contains(99L)) Thread.sleep(30000)
    vs.sum
  }
}

private class SleepAllWorker extends WorkerComputable[Long, Long, Long] {
  def compute(records: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
    Thread.sleep(30000); 0L
  }
}

private object TimeoutSumMaster extends MasterComputable[Long, Long] {
  def compute(ws: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = ws.sum
}

class TimeoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def data = spark.createDataset(Seq(1L, 2L, 3L, 99L)).repartition(4)

  test("soft timeout drops the straggler's result, quorum proceeds (A7/A9 soft mode)") {
    val ds = data
    // Expected = sum over partitions that do NOT contain the straggler value
    // (repartition placement is deterministic but implementation-defined).
    val expected = ds.rdd.glom().collect()
      .filter(!_.contains(99L)).map(_.sum).sum
    val r = Iterate.run[Long, Long, Long](
      ds, new StragglerWorker, TimeoutSumMaster, maxIterations = 1,
      combine = Some(_ + _), workerTimeout = Some(1.second), workerTimeoutSoft = true)
    assert(r.master == expected)
  }

  test("hard timeout fails the job (reference hard mode kills the task)") {
    val e = intercept[SparkException] {
      Iterate.run[Long, Long, Long](
        data, new StragglerWorker, TimeoutSumMaster, maxIterations = 1,
        combine = Some(_ + _), workerTimeout = Some(1.second), workerTimeoutSoft = false)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("hard timeout")))
  }

  test("quorum barrier proceeds with exactly the quorum fraction (A7 min-workers ratio)") {
    // 16 partitions (> SmallWorkerCount so the ratio is honored); the one
    // holding 99 sleeps far past the window. With ratio 0.75 the master must
    // proceed once >= 12 partitions reported after the 500ms window — the
    // straggler's partition contributes nothing, like the reference skipping
    // unreported workers once the ratio is met. Workers emit (count, sum)
    // so the assertion is quorum-shaped, not an exact subset sum — on a
    // loaded machine the barrier may legally fire with any 12..15 of the
    // fast partitions reported.
    val countingWorker = new WorkerComputable[Long, (Long, Long), (Long, Long)] {
      def compute(rs: Iterator[Long], last: Option[(Long, Long)],
          ctx: IterationContext): (Long, Long) = {
        val vs = rs.toList
        if (vs.contains(99L)) Thread.sleep(30000)
        (1L, vs.sum)
      }
    }
    val pairMaster = new MasterComputable[(Long, Long), (Long, Long)] {
      def compute(ws: Iterator[(Long, Long)], last: Option[(Long, Long)],
          ctx: IterationContext): (Long, Long) =
        ws.foldLeft((0L, 0L)) { case ((c, s), (wc, wsum)) => (c + wc, s + wsum) }
    }
    val ds = spark.createDataset((1L to 15L) ++ Seq(99L)).repartition(16)
    val t0 = System.nanoTime()
    val r = Iterate.run[Long, (Long, Long), (Long, Long)](
      ds, countingWorker, pairMaster, maxIterations = 1,
      combine = Some((a, b) => (a._1 + b._1, a._2 + b._2)),
      minWorkersRatio = 0.75, minWorkersTimeout = 500.millis)
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    val (nParts, sum) = r.master
    // At least the quorum reported, the straggler never did, and the sum
    // excludes its value.
    assert(nParts >= 12L && nParts <= 15L, s"quorum count $nParts")
    assert(sum <= (1L to 15L).sum && sum >= 0L)
    assert(elapsedMs < 30000L)
  }

  test("quorum barrier surfaces a failed job when the quorum cannot be met") {
    val boom = new WorkerComputable[Long, Long, Long] {
      def compute(rs: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
        val vs = rs.toList
        if (vs.contains(99L)) throw new RuntimeException("worker exploded")
        vs.sum
      }
    }
    // ratio 0.95 of 16 partitions → quorum = 16: the one failing partition
    // makes the quorum unreachable, so the failure MUST abort the iteration
    // instead of spinning until the window.
    val ds = spark.createDataset((1L to 15L) ++ Seq(99L)).repartition(16)
    val e = intercept[Throwable] {
      Iterate.run[Long, Long, Long](
        ds, boom, TimeoutSumMaster, maxIterations = 1, combine = Some(_ + _),
        minWorkersRatio = 0.95, minWorkersTimeout = 60.seconds)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("worker exploded")))
  }

  test("quorum barrier tolerates a failed partition once the quorum is met") {
    // The poison partition sleeps 1s then throws — by then all 15 healthy
    // partitions (instant) have reported, the quorum (12) is met, and the
    // failure must be treated like a straggler: proceed with what arrived
    // (the reference proceeds at ratio regardless of missing workers).
    val lateBoom = new WorkerComputable[Long, (Long, Long), (Long, Long)] {
      def compute(rs: Iterator[Long], last: Option[(Long, Long)],
          ctx: IterationContext): (Long, Long) = {
        val vs = rs.toList
        if (vs.contains(99L)) { Thread.sleep(1000); throw new RuntimeException("late boom") }
        (1L, vs.sum)
      }
    }
    val pairMaster = new MasterComputable[(Long, Long), (Long, Long)] {
      def compute(ws: Iterator[(Long, Long)], last: Option[(Long, Long)],
          ctx: IterationContext): (Long, Long) =
        ws.foldLeft((0L, 0L)) { case ((c, s), (wc, wsum)) => (c + wc, s + wsum) }
    }
    val ds = spark.createDataset((1L to 15L) ++ Seq(99L)).repartition(16)
    val r = Iterate.run[Long, (Long, Long), (Long, Long)](
      ds, lateBoom, pairMaster, maxIterations = 1,
      combine = Some((a, b) => (a._1 + b._1, a._2 + b._2)),
      minWorkersRatio = 0.75, minWorkersTimeout = 30.seconds)
    val (nParts, _) = r.master
    assert(nParts >= 12L && nParts <= 15L, s"proceeded with $nParts partitions")
  }

  test("quorum barrier folds the results in partition order, not arrival order") {
    // 16 partitions (> SmallWorkerCount) finishing in reverse partition
    // order, well inside the window, so every partition reports; the
    // combiner concatenates, so the master sees the fold order itself.
    val reverseWorker = new WorkerComputable[Long, Seq[Int], Seq[Int]] {
      def compute(rs: Iterator[Long], last: Option[Seq[Int]],
          ctx: IterationContext): Seq[Int] = {
        val i = TaskContext.getPartitionId()
        Thread.sleep((15 - i) * 40L)
        Seq(i)
      }
    }
    val seqMaster = new MasterComputable[Seq[Int], Seq[Int]] {
      def compute(ws: Iterator[Seq[Int]], last: Option[Seq[Int]],
          ctx: IterationContext): Seq[Int] = ws.flatten.toSeq
    }
    val ds = spark.range(0L, 16L, 1L, 16).as[Long]
    val r = Iterate.run[Long, Seq[Int], Seq[Int]](
      ds, reverseWorker, seqMaster, maxIterations = 1, combine = Some(_ ++ _),
      minWorkersRatio = 0.75, minWorkersTimeout = 30.seconds)
    assert(r.master == (0 until 16))
  }

  test("quorum ratio is forced to 1.0 for small worker counts (<= 10 partitions)") {
    // 4 partitions, one sleeping 3s, ratio 0.25 with a 1ms window: if the
    // ratio were honored the master would proceed without the sleeper's
    // partition; because workers <= SmallWorkerCount the barrier must wait
    // for ALL of them, so the full sum (including 99) comes back.
    val slowWorker = new WorkerComputable[Long, Long, Long] {
      def compute(rs: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
        val vs = rs.toList
        if (vs.contains(99L)) Thread.sleep(3000)
        vs.sum
      }
    }
    val ds = spark.createDataset(Seq(1L, 2L, 3L, 99L)).repartition(4)
    val r = Iterate.run[Long, Long, Long](
      ds, slowWorker, TimeoutSumMaster, maxIterations = 1, combine = Some(_ + _),
      minWorkersRatio = 0.25, minWorkersTimeout = 1.milli)
    assert(r.master == 105L)
  }

  test("all-partitions timeout reports a clear error") {
    val e = intercept[IllegalStateException] {
      Iterate.run[Long, Long, Long](
        data, new SleepAllWorker, TimeoutSumMaster, maxIterations = 1,
        combine = Some(_ + _), workerTimeout = Some(500.millis), workerTimeoutSoft = true)
    }
    assert(e.getMessage.contains("timed out"))
  }
}
