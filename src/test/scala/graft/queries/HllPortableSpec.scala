package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** t24's portable HLL, beyond what the cross-engine oracle already gates
  * (register math, the exact harmonic integer, the grid-snapped estimate):
  *
  *  - SPLIT-MERGE IDENTITY — sketches built over any disjoint split of the
  *    corpus, merged register-wise by max, land on the SAME (v_zero,
  *    s_scaled, est_e9) row as the single-pass sketch. This is the property
  *    that makes the operator shard-, day-, and stream-mergeable: the
  *    100-TB deployment never re-scans history, it maxes registers.
  *  - FIXED STATE — at most m=512 register rows per source, whatever the
  *    corpus size.
  *  - ACCURACY vs the exact comparator — within the m=512 theory bound
  *    (σ ≈ 1.04/√512 ≈ 4.6%; we assert 3σ ≈ 14%) per source at sf0.01.
  *  - LINEAR-COUNTING BRANCH — a tiny vocabulary must take the V>0 path
  *    (est ≤ 2.5m) and land near-exact there, so the branch is reachable
  *    and correct, not dead code behind the word-salad corpus.
  *
  * (HllSpec is the separate calibration gate for Spark's BUILT-IN
  * approx_count_distinct, whose HLL++ hash is engine-private and thus can
  * never sit under a DuckDB hash gate — t24 exists exactly because of
  * that.)
  */
class HllPortableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def estRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("split-merge identity: max-merged half-corpus registers equal the single-pass sketch") {
    val docs = Tables.documents(spark, TestSpark.sf001)
    val whole = estRows(T24HllCardinality.estimate(T24HllCardinality.registers(docs)))
    val even = T24HllCardinality.registers(docs.filter(col("doc_id") % 2 === 0))
    val odd = T24HllCardinality.registers(docs.filter(col("doc_id") % 2 === 1))
    val merged = even.union(odd)
      .groupBy(col("source"), col("reg")).agg(max(col("mr")).as("mr"))
    val viaMerge = estRows(T24HllCardinality.estimate(merged))
    assert(whole.nonEmpty && viaMerge == whole,
      "register max-merge over a corpus split must be indistinguishable from one pass")
  }

  test("fixed state: at most m=512 register rows per source (sf0.001)") {
    val docs = Tables.documents(spark, TestSpark.sf0001).select(col("source"), col("text"))
    val perSource = T24HllCardinality.registers(docs).groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perSource.nonEmpty)
    perSource.foreach { case (src, n) =>
      assert(n <= 512, s"$src holds $n register rows > m=512")
    }
  }

  test("estimate within 3-sigma of exact per source at sf0.01") {
    val rows = T24HllCardinality.run(spark, TestSpark.sf001)
      .select(col("source"), col("est_e9"), col("n_exact"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 1e9, r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, est, exact) =>
      val relErr = math.abs(est - exact) / exact
      info(f"$src%-12s exact=$exact%6d est=$est%10.1f err=$relErr%.4f")
      assert(relErr <= 0.14, f"$src: HLL error $relErr%.4f exceeds 3-sigma bound for m=512")
    }
  }

  test("tiny vocabulary takes the linear-counting branch and lands near-exact") {
    import spark.implicits._
    val vocab = (1 to 40).map(i => s"tok$i")
    val docs = Seq.tabulate(20)(i =>
      (s"src", vocab.drop(i % 5).take(20).mkString(" "))).toDF("source", "text")
    val out = T24HllCardinality.estimate(T24HllCardinality.registers(docs)).collect()
    assert(out.length == 1)
    val (vZero, est) = (out(0).getLong(1), out(0).getLong(3) / 1e9)
    // tokens seen: union over i%5 of vocab.drop(i%5).take(20) = tok1..tok24
    val exact = 24
    assert(vZero > 0, "tiny vocabulary must leave empty registers")
    val relErr = math.abs(est - exact) / exact
    info(f"linear-counting: exact=$exact est=$est%.3f err=$relErr%.4f v_zero=$vZero")
    assert(relErr <= 0.10, f"linear counting should be near-exact at 24 tokens, got $relErr%.4f")
  }
}
