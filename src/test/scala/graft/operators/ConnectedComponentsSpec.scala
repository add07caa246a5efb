package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Direct unit pins for [[ConnectedComponents.minLabel]] — the engine is
  * otherwise covered only through its oracle consumers, which exercise the
  * shallow-cluster regime. These fixtures force the regimes the corpus
  * doesn't: long chains (pointer-jumping + delta convergence), bridges
  * that merge two locally-converged cliques late, the round cap's partial
  * output, and the empty/self-loop edges of the input contract.
  *
  * Every fixture runs twice: at default settings, where a pair list this
  * small is solved on the driver, and with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, which forces the distributed
  * rounds. Both must return the same labels.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(pairs: Seq[(Long, Long)], maxRounds: Int): DataFrame = {
    import spark.implicits._
    ConnectedComponents.minLabel(
      spark, pairs.toDF("a", "b"), edgePartitions = 4, maxRounds = maxRounds,
      name = "cc-spec")
  }

  private def distributed[A](body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def components(pairs: Seq[(Long, Long)], maxRounds: Int = 50): Map[Long, Long] = {
    val out = run(pairs, maxRounds).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cleanup()
    out
  }

  private def cleanup(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  /** The labels of both paths, asserted equal. */
  private def bothPaths(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val local = components(pairs)
    val rounds = distributed(components(pairs))
    assert(local == rounds, "driver path and distributed rounds disagree")
    local
  }

  /** Plain-Scala reference: breadth-first search from every unvisited
    * endpoint, labelling the component with its minimum id.
    */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    val out = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys if !out.contains(start)) {
      val seen = scala.collection.mutable.Set(start)
      var frontier = List(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)).filter(seen.add)
      }
      val label = seen.min
      seen.foreach(out(_) = label)
    }
    out.toMap
  }

  test("a 64-node chain collapses to one component under the 50-round cap (delta + pointer jumping)") {
    // Worst case for pure min-propagation: a path graph needs O(diameter)
    // rounds without jumping. 63 edges, diameter 63 — the default cap only
    // suffices because chase halves the remaining path length per round.
    val chain = (1L until 64L).map(i => (i, i + 1))
    val got = bothPaths(chain)
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.toSet == Set(1L), s"chain split into ${got.values.toSet}")
  }

  test("two cliques converge locally, then a bridge merges them (late cross-delta propagation)") {
    // {1..5} complete, {101..105} complete, plus one bridge 5-101. The
    // high clique converges to label 101 in round 1; the bridge then has
    // to re-open it with label 1 — the regime where a delta engine that
    // forgets "unchanged" neighbors would stall.
    val cliqueA = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val cliqueB = for (i <- 101L to 105L; j <- (i + 1) to 105L) yield (i, j)
    val got = bothPaths(cliqueA ++ cliqueB :+ (5L, 101L))
    assert(got.values.toSet == Set(1L))
    assert(got.size == 10)
  }

  test("disjoint components keep distinct minima; labels are component-internal node ids") {
    val got = bothPaths(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 30L)))
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("self-loops and duplicate edges are harmless; empty input yields an empty frame") {
    val got = bothPaths(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
    assert(bothPaths(Seq.empty).isEmpty)
    val schemas = Seq(run(Seq.empty, 50).schema, distributed(run(Seq.empty, 50).schema))
    cleanup()
    schemas.foreach(s => assert(s.fields.map(f => f.name -> f.dataType.simpleString).toSeq ==
      Seq("node" -> "bigint", "label" -> "bigint")))
  }

  test("round cap: a chain under an insufficient cap reports PARTIAL labels, never wrong membership") {
    // 32-node chain, cap 2, distributed rounds: must NOT converge to one
    // label, but every label must still be a node id <= the node's own id
    // within the chain (labels only ever decrease from the seed, and only
    // along edges).
    val chain = (1L until 32L).map(i => (i, i + 1))
    val got = distributed(components(chain, maxRounds = 2))
    assert(got.keySet == (1L to 32L).toSet)
    assert(got.values.toSet.size > 1, "cap=2 cannot close a 31-diameter chain")
    got.foreach { case (n, l) => assert(l <= n && l >= 1L) }
    // and the same chain converges exactly when given room
    assert(distributed(components(chain)).values.toSet == Set(1L))
    // The driver path is exact whatever the cap.
    for (cap <- Seq(0, 1, 2, 50))
      assert(components(chain, maxRounds = cap) == (1L to 32L).map(_ -> 1L).toMap)
  }

  test("seeded random graphs: driver path and distributed rounds both match a plain-Scala reference") {
    val rnd = new scala.util.Random(20261019L)
    for (graph <- 0 until 4) {
      val base = graph * 1000L
      val edges = Seq.newBuilder[(Long, Long)]
      var next = base + rnd.nextInt(7)
      def ids(n: Int): Seq[Long] = { val s = next until next + n; next += n + rnd.nextInt(5); s }
      for (_ <- 0 until 3) { // chains
        val c = ids(2 + rnd.nextInt(20))
        edges ++= c.zip(c.tail)
      }
      val cliques = (0 until 3).map { _ =>
        val c = ids(2 + rnd.nextInt(5))
        edges ++= (for (a <- c; b <- c if a < b) yield (a, b))
        c
      }
      edges += ((cliques(0).last, cliques(1).head)) // bridge
      val all = edges.result()
      val noisy = all ++
        all.take(5).map(_.swap) ++ // reversed
        all.takeRight(5) ++ // duplicates
        Seq.fill(3)(all(rnd.nextInt(all.size))._1).map(n => (n, n)) // self-loops
      val shuffled = rnd.shuffle(noisy)
      val want = reference(shuffled)
      assert(components(shuffled) == want, s"driver path, graph $graph")
      assert(distributed(components(shuffled)) == want, s"distributed rounds, graph $graph")
    }
  }

  test("small pair lists are solved on the driver; threshold -1 forces the distributed rounds") {
    val pairs = Seq((1L, 2L), (2L, 3L))
    val local = run(pairs, 50)
    assert(local.queryExecution.logical.isInstanceOf[LocalRelation],
      s"default settings did not take the driver path:\n${local.queryExecution.logical}")
    val rounds = distributed(run(pairs, 50))
    assert(!rounds.queryExecution.logical.isInstanceOf[LocalRelation])
    cleanup()
  }

  test("a null endpoint is rejected on both paths") {
    import spark.implicits._
    val withNull = Seq((Some(1L), Some(2L)), (Some(3L), None)).toDF("a", "b")
    for (path <- Seq("driver", "distributed")) {
      val err = intercept[IllegalArgumentException] {
        if (path == "driver") ConnectedComponents.minLabel(spark, withNull, 4)
        else distributed(ConnectedComponents.minLabel(spark, withNull, 4))
      }
      assert(err.getMessage.contains("1 of 2 pairs have a null endpoint"), s"$path: ${err.getMessage}")
    }
    cleanup()
  }

  test("union-find labels every endpoint with its component's minimum id") {
    val got = ConnectedComponents.unionFind(
      Iterator((5L, 9L), (9L, 2L), (7L, 7L), (-3L, 8L), (8L, 5L), (40L, 41L)))
    assert(got.toMap == Map(5L -> -3L, 9L -> -3L, 2L -> -3L, 8L -> -3L, -3L -> -3L,
      7L -> 7L, 40L -> 40L, 41L -> 40L))
  }
}
