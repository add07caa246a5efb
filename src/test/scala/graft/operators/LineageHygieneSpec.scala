package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioningLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** Lineage hygiene at the reference's REAL iteration budget: the declared
  * DataFrame loops run ≤ 6 rounds, but the reference defaults to 50
  * (`GuaguaConstants.java:35-37`), and a lazy `var df = step(df)` loop at
  * that depth grows its Catalyst plan per round. These tests run a g1-style
  * rank loop through Lineage.loop, which crosses a round boundary after
  * every 5th round of a loop longer than 5, and pin:
  *
  *   1. at 50 rounds no carried plan is larger than a 5-round lazy plan,
  *      the RDD lineage stays shallow, at most one boundary RDD is left
  *      persisted, and per-round wall time stays flat — the last ten rounds
  *      cost no more than 3× rounds 6–15 (generous: a plan embedding 45+
  *      join rounds would blow well past that);
  *   2. the loop's RESULT equals a plain fold's (boundaries change
  *      execution, never values), while the plain fold's plan grows every
  *      round;
  *   3. the frame carried across a boundary keeps the step's hash
  *      partitioning, and a loop of at most 5 rounds persists nothing.
  *
  * Per-round plan sizes and times are recorded from inside the step.
  */
class LineageHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Small fixed graph: a 40-node ring + chords, so every round's join and
    * aggregate do real (but test-cheap) work for 50 rounds.
    */
  private def graph() = {
    import spark.implicits._
    val n = 40L
    val edges = (0L until n).flatMap { i =>
      Seq((i, (i + 1) % n), (i, (i + 7) % n))
    }
    val e = edges.toDF("src", "dst")
    val und = e.union(e.select(col("dst"), col("src"))).toDF("src", "dst")
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = und.join(deg, "src")
    val init = adj.select(col("src").as("id")).distinct()
      .withColumn("pr", lit(1.0 / n))
    (adj, init, n)
  }

  private def step(adj: DataFrame)(prev: DataFrame) =
    adj.join(prev, adj("src") === prev("id"))
      .groupBy(col("dst"))
      .agg(round(sum(col("pr") / col("deg")), 9).as("mass"))
      .select(col("dst").as("id"),
        round(lit(0.15 / 40) + lit(0.85) * col("mass"), 9).as("pr"))

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case p => p }.length

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq

  test("50 rounds: bounded plan and lineage, flat round time, one cache") {
    val (adj, init, n) = graph()
    // snapshot-diff, not a global count: suites share one session and an
    // earlier suite's leftover caches are not this loop's leak
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val carried = ArrayBuffer.empty[DataFrame]
    val stamps = ArrayBuffer.empty[Long]
    val out = Lineage.loop(init, 50) { prev =>
      stamps += System.nanoTime()
      carried += prev
      step(adj)(prev)
    }
    assert(out.count() == n)
    stamps += System.nanoTime()
    // ≤ 1 boundary RDD persisted at exit (the last one, which the result reads)
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mine.size <= 1, s"boundary RDDs leaked: ${mine.size}")
    // the boundary truly severed the RDD object graph: a persist-only
    // boundary short-circuits recomputation but still SHIPS the whole
    // 50-round parent chain in every task, which stack-overflows on
    // deserialization (the flaky mid-suite StackOverflowError this pins
    // against). Depth must be O(5 steps), not O(rounds).
    def depth(r: org.apache.spark.rdd.RDD[_],
              seen: scala.collection.mutable.Set[Int]): Int =
      if (!seen.add(r.id)) 0
      else 1 + (0 +: r.dependencies.map(d => depth(d.rdd, seen))).max
    val d = depth(out.rdd, scala.collection.mutable.Set.empty[Int])
    assert(d <= 25, s"boundary did not sever lineage: dependency depth $d after 50 rounds")
    // plan size: no frame carried into a round, nor the result, is larger
    // than a 5-round lazy plan over the initial frame
    val fiveRounds = planNodes((1 to 5).foldLeft(init)((df, _) => step(adj)(df)))
    val sizes = (carried :+ out).map(planNodes)
    assert(sizes.max <= fiveRounds, s"plan grew past 5 rounds ($fiveRounds): ${sizes.mkString(",")}")
    GraftSession.sweep(spark)
    // flat wall time: last 10 rounds vs the 6..15 steady-state window, each
    // with two materializations (boundaries after rounds 10 and 15; the
    // boundary after round 45 and the final count). Rounds 1-5 carry
    // JIT/codegen warmup, hence the offset window.
    val seconds = stamps.zip(stamps.tail).map { case (a, b) => (b - a) / 1e9 }
    val steady = seconds.slice(5, 15).sum / 10
    val tail = seconds.takeRight(10).sum / 10
    assert(tail <= steady * 3 + 0.05,
      s"per-round time not flat: steady=$steady tail=$tail " +
        s"(all: ${seconds.map(s => f"$s%.3f").mkString(",")})")
  }

  test("untruncated 50-round plan grows strictly; truncated result is identical") {
    val (adj, init, _) = graph()
    val lazySizes = ArrayBuffer.empty[Int]
    val lazyOut = (1 to 12).foldLeft(init) { (df, _) =>
      val next = step(adj)(df)
      lazySizes += planNodes(next)
      next
    }
    assert(lazySizes.toSeq.zip(lazySizes.toSeq.tail).forall { case (a, b) => b > a },
      s"lazy plan should grow monotonically: ${lazySizes.mkString(",")}")
    val lazyRows = rows(lazyOut)
    GraftSession.sweep(spark)
    val loopRows = rows(Lineage.loop(init, 12)(step(adj)))
    GraftSession.sweep(spark)
    assert(lazyRows == loopRows, "truncation changed values (it must only change execution)")
  }

  test("the frame carried across a boundary keeps the step's hash partitioning") {
    val (adj, init, _) = graph()
    val carried = ArrayBuffer.empty[DataFrame]
    Lineage.loop(init, 6) { prev => carried += prev; step(adj)(prev) }
    // round 6 reads the boundary after round 5; the step's output is
    // hash-partitioned by its aggregate key, renamed to id (coalesced when
    // adaptive execution merged small shuffle partitions)
    carried(5).queryExecution.sparkPlan.outputPartitioning match {
      case h: HashPartitioningLike => assert(h.references.map(_.name).toSet == Set("id"))
      case p => fail(s"the boundary lost the step's partitioning: $p")
    }
    GraftSession.sweep(spark)
  }

  test("a loop of at most 5 rounds is a plain fold and persists nothing") {
    val (adj, init, _) = graph()
    GraftSession.sweep(spark)
    val out = Lineage.loop(init, 5)(step(adj))
    assert(planNodes(out) == planNodes((1 to 5).foldLeft(init)((df, _) => step(adj)(df))))
    assert(out.count() == 40)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "a short loop persisted an RDD")
    assert(spark.sharedState.cacheManager.isEmpty, "a short loop registered a cache entry")
  }

  test("g1's loop accepts the reference 50-round budget through the knobs") {
    import spark.implicits._
    // tiny pair set → the full g1 surface at 50 rounds stays sub-second/round
    val pairs = (0L until 20L).map(i => (i, (i + 1) % 20)).toDF("vec_a", "vec_b")
    val out = graft.queries.G1PageRank.runOverPairs(spark, pairs, rounds = 50).collect()
    GraftSession.sweep(spark)
    assert(out.length == 20)
    // ring graph: symmetric, so PageRank is uniform 1/20 at every node
    out.foreach(r => assert(math.abs(r.getDouble(2) - 0.05) < 1e-6, r.toString))
  }
}
