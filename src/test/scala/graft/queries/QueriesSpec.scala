package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Smoke + shape checks for every registered query at sf0.001. Value-level
  * correctness is the driver's DuckDB gate (tools/check_oracle.py locally).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  for (q <- Registry.all) {
    test(s"${q.name}: runs, returns rows, stable column names") {
      val df = q.run(spark, TestSpark.sf0001)
      val rows = df.count()
      assert(rows > 0, s"${q.name} returned no rows")
      assert(df.columns.nonEmpty)
      assert(df.columns.distinct.length == df.columns.length, "duplicate column names")
      // Oracle must reference every output column by the same name; cheap
      // guard: each output column name appears verbatim in the SQL text.
      q.oracle.foreach { sql =>
        val lower = sql.toLowerCase
        for (c <- df.columns)
          assert(lower.contains(c.toLowerCase), s"column $c missing from oracle SQL of ${q.name}")
      }
    }
  }

  test("registry names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.length == names.length)
  }

  test("select keeps Registry order and takes every query without a list") {
    assert(Registry.select(None) == Registry.all)
    assert(Registry.select(Some(" q9_kmeans_loop,q1_agg ,,q9_kmeans_loop")) ==
      Seq(Q1Agg, Q9KMeansLoop))
  }

  test("select fails on an unknown name instead of running nothing") {
    val e = intercept[NoSuchElementException] {
      Registry.select(Some("q1_agg,q1_aggg"))
    }
    assert(e.getMessage.contains("q1_aggg"))
  }

  test("oracleOnly marks exactly the declared exact-twin set") {
    // These six are exact-by-construction recall oracles; each must name a
    // bucketed scale twin that IS in the default (100-TB-safe) surface.
    assert(Registry.oracleOnlyTwins.map(_.name).toSet == Set(
      "d5_embed_dup", "d10_semantic_clusters", "s1_ann_brute",
      "v2_knn_label", "g1_pagerank", "g2_triangles"))
    val safe = Registry.all.filterNot(_.oracleOnly).map(_.name).toSet
    for (twin <- Seq("d16_semantic_lsh", "s4_ann_ivf", "v2c_knn_label_ivf",
                     "g3_pagerank_lsh", "g4_triangles_lsh"))
      assert(safe.contains(twin), s"scale twin $twin missing from the safe surface")
  }
}
