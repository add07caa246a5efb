package graft.core

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{IterativeSum, NeuralNet}

class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sumFixture = {
    // The reference's sum fixture semantics: 2 splits totalling 15
    // (guagua-examples/src/test/resources/sum/{a,b}.txt); partition count is
    // pinned to 2 because the recurrence is partition-count sensitive.
    spark.read.textFile(getClass.getResource("/sum").getPath)
      .map(_.trim.toLong)
      .repartition(2)
  }

  test("golden: reference SumTest value 15345 after 10 iterations (SumTest.java:64-65)") {
    val r = IterativeSum.run(sumFixture, maxIterations = 10, haltAbove = Long.MaxValue)
    assert(r.master == 15345L)
    assert(r.iterations == 10)
    assert(!r.halted)
  }

  test("halt flag stops the loop early (SumMaster > 1,000,000 semantics)") {
    val r = IterativeSum.run(sumFixture, maxIterations = 50, haltAbove = 1000000L)
    // s_i = 2*s_{i-1} + 15 crosses 1,000,000 at iteration 17 (s_17 = 1966065).
    assert(r.halted)
    assert(r.iterations == 17)
    assert(r.master == IterativeSum.closedForm(15, 2, 17))
  }

  test("IterationBudget cap: min(declared, cap) inside withCap, identity outside") {
    // cap below declared: loop runs exactly `cap` iterations and the
    // closed-form value matches that shorter run
    val capped = IterationBudget.withCap(Some(4)) {
      IterativeSum.run(sumFixture, maxIterations = 10, haltAbove = Long.MaxValue)
    }
    assert(capped.iterations == 4)
    assert(capped.master == IterativeSum.closedForm(15, 2, 4))
    // cap above declared: identity
    val slack = IterationBudget.withCap(Some(99)) {
      IterativeSum.run(sumFixture, maxIterations = 3, haltAbove = Long.MaxValue)
    }
    assert(slack.iterations == 3)
    // scope discipline: cap restored (even nested), invalid cap refused
    assert(IterationBudget.cap.isEmpty)
    assert(IterationBudget.withCap(Some(2))(IterationBudget.effective(10)) == 2)
    assert(IterationBudget.effective(10) == 10)
    intercept[IllegalArgumentException](IterationBudget.withCap(Some(0))(()))
  }

  test("combinable and non-combinable paths agree") {
    val data = sumFixture
    val worker = new IterativeSum.SumWorker
    val master = new IterativeSum.SumMaster
    val combined = Iterate.run[Long, Long, Long](
      data, worker, master, maxIterations = 5, combine = Some(_ + _))
    val collected = Iterate.run[Long, Long, Long](
      data, worker, master, maxIterations = 5, combine = None)
    assert(combined.master == collected.master)
    assert(combined.master == IterativeSum.closedForm(15, 2, 5))
  }

  test("listeners fire per iteration in order; onComplete sees final state") {
    val events = ArrayBuffer.empty[String]
    val l = new IterationListener[Long] {
      override def onStart(total: Int): Unit = events += s"start:$total"
      override def onIterationStart(i: Int): Unit = events += s"pre:$i"
      override def onIterationEnd(i: Int, m: Long, ms: Long): Unit = events += s"post:$i:$m"
      override def onComplete(r: IterationResult[Long]): Unit = events += s"done:${r.master}"
    }
    val r = IterativeSum.run(sumFixture, maxIterations = 3, haltAbove = Long.MaxValue)
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 3, combine = Some(_ + _), listeners = Seq(l))
    assert(events.toList == List(
      "start:3", "pre:1", "post:1:15", "pre:2", "post:2:45", "pre:3", "post:3:105",
      s"done:${r.master}"))
  }

  test("pre hooks fire FIFO, post hooks FILO (A13 interceptor unwinding)") {
    val events = ArrayBuffer.empty[String]
    def mk(name: String) = new IterationListener[Long] {
      override def onStart(total: Int): Unit = events += s"$name.start"
      override def onIterationStart(i: Int): Unit = events += s"$name.pre"
      override def onIterationEnd(i: Int, m: Long, ms: Long): Unit = events += s"$name.post"
      override def onComplete(r: IterationResult[Long]): Unit = events += s"$name.done"
    }
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 1, combine = Some(_ + _), listeners = Seq(mk("a"), mk("b")))
    // Reference semantics (GuaguaMasterService.java:369-415): registration
    // order going in, reverse order coming out.
    assert(events.toList == List(
      "a.start", "b.start", "a.pre", "b.pre", "b.post", "a.post", "b.done", "a.done"))
  }

  test("built-in system listeners report timing/memory/gc per iteration (A13 defaults)") {
    val lines = ArrayBuffer.empty[String]
    val sink = (s: String) => { lines += s; () }
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 2, combine = Some(_ + _),
      listeners = Seq(Listeners.timing[Long](sink), Listeners.memory[Long](sink),
        Listeners.gc[Long](sink)))
    // 2 iterations × 3 listeners + timing's completion line.
    assert(lines.count(_.startsWith("iteration 1:")) == 3)
    assert(lines.count(_.startsWith("iteration 2:")) == 3)
    assert(lines.count(_.startsWith("completed 2 iterations")) == 1)
    assert(lines.exists(_.contains("heap used")))
    assert(lines.exists(_.contains("GC time")))
  }

  test("checkpoint: loop resumes from persisted master state") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val first = Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 4, combine = Some(_ + _), checkpointDir = Some(dir))
    assert(first.master == IterativeSum.closedForm(15, 2, 4))
    // A "restarted job" with a larger budget picks up at iteration 5.
    val resumed = Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 10, combine = Some(_ + _), checkpointDir = Some(dir))
    assert(resumed.master == 15345L)
    assert(resumed.iterations == 10)
  }

  test("master sees one pre-combined result on the combinable path, P results otherwise") {
    var seen = -1
    val countingMaster = new MasterComputable[Long, Long] {
      def compute(ws: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
        val list = ws.toList
        seen = list.size
        list.sum
      }
    }
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, countingMaster,
      maxIterations = 1, combine = Some(_ + _))
    assert(seen == 1)
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, countingMaster, maxIterations = 1)
    assert(seen == 2)
  }

  test("combiner folds worker results in partition order, every iteration") {
    val data = spark.createDataset(spark.sparkContext.parallelize(1L to 40L, 4))
    val worker = new WorkerComputable[Long, Int, Vector[Int]] {
      def compute(records: Iterator[Long], last: Option[Int], ctx: IterationContext): Vector[Int] =
        Vector(TaskContext.getPartitionId())
    }
    val seen = ArrayBuffer.empty[Vector[Int]]
    val master = new MasterComputable[Int, Vector[Int]] {
      def compute(ws: Iterator[Vector[Int]], last: Option[Int], ctx: IterationContext): Int = {
        ws.foreach(seen += _)
        ctx.currentIteration
      }
    }
    Iterate.run[Long, Int, Vector[Int]](
      data, worker, master, maxIterations = 20, combine = Some(_ ++ _))
    assert(seen.size == 20)
    seen.foreach(v => assert(v == Vector(0, 1, 2, 3)))
  }

  test("NeuralNet.train twice on the same 4-partition input gives bit-identical weights") {
    // Floating-point gradient sums depend on merge order, so identical
    // weights pin the fold order, not just the arithmetic.
    val rnd = new Random(3)
    val samples = (0 until 400).map { i =>
      NeuralNet.Sample(Array.fill(3)(rnd.nextGaussian()), rnd.nextInt(2).toDouble, i.toLong)
    }
    val data = spark.createDataset(spark.sparkContext.parallelize(samples, 4)).persist()
    try {
      def weightBits = NeuralNet.train(data, NeuralNet.Layers(Seq(3, 5, 1)),
        iterations = 30, learnRate = 0.1, seed = 11L)
        .master.weights.map(java.lang.Double.doubleToRawLongBits).toSeq
      val first = weightBits
      assert(weightBits == first)
    } finally data.unpersist()
  }
}
