package graft

import org.scalatest.funsuite.AnyFunSuite

/** The AQE decision's executable half (SURVEY §4 "AQE decision"). Spark 4
  * ships adaptive query execution ON by default (`spark.sql.adaptive
  * .enabled=true`, with partition coalescing and skew-join splitting), and
  * the engine KEEPS that default: every oracle gate, plan pin, and bench
  * number is produced under AQE. What must then be proven is the reverse
  * dependence: no query may REQUIRE an adaptive rewrite for correctness —
  * a deployment that pins `spark.sql.adaptive.enabled=false` (e.g. for
  * deterministic stage graphs in a debugging session) has to get identical
  * answers. This spec runs a deliberately shuffle-shaped slice of the
  * surface (joins, aggregation ladders, windows, banded LSH self-join, the
  * gram-hits chain, distributed rank) in a sibling session with AQE OFF and
  * asserts row-identical results. The full-surface certification is the
  * same setting at driver scale: Verify run with the JVM option
  * `-Dspark.sql.adaptive.enabled=false` re-runs the whole oracle gate
  * without AQE (re-certified round 13: 153/153).
  */
class AqeParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  // Shuffle-heavy representatives, one per plan-shape family the pins guard:
  // broadcast-vs-shuffle joins, aggregation ladders, windows, banded LSH
  // self-join candidates, the two-shuffle gram-hits chain, distributed rank.
  private val names = Seq(
    "j7_star_join", "j2_topk_customers", "q7_grouped_agg", "w2_sessions",
    "d2_minhash_lsh", "d18_exact_substr", "p16_epoch_shuffle", "t10_tfidf")

  test("the shared session runs Spark's default: AQE on, and plans adaptively") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val plan = queries.Registry.byName("j7_star_join").run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan"), s"expected AdaptiveSparkPlan, got:\n$plan")
  }

  test("AQE off == AQE on, row-identical, for a shuffle-shaped slice of the surface") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { n =>
      val q = queries.Registry.byName(n)
      val base = q.run(spark, sf)
      val cols = base.columns.sorted.toSeq
      val on = base.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted
      val off = q.run(noAqe, sf).select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted
      assert(off.sameElements(on), s"$n differs with AQE disabled")
      // and the sibling really did plan non-adaptively at the root (cached
      // InMemoryRelations built by the AQE session may embed adaptive
      // subtrees — caches are context-wide, which is fine: the cached DATA
      // is what's read)
      assert(!q.run(noAqe, sf).queryExecution.executedPlan.getClass.getSimpleName
        .contains("AdaptiveSparkPlan"), s"$n still planned adaptively with AQE off")
    }
  }
}
