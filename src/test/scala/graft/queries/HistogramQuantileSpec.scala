package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** t25 beyond the oracle — the properties the histogram sketch exists
  * for:
  *
  *  - ACCURACY CONTRACT: every published quantile upper bound brackets
  *    q14's exact value from above by at most one bin width ($128) — the
  *    error is bounded by CONSTRUCTION, not by distributional luck, so the
  *    assertion is exact: exact ≤ ub ≤ exact + binWidth.
  *  - MERGE-BY-ADDITION: histograms built over disjoint halves of the
  *    data, merged by summing bin counts, land on the IDENTICAL quantile
  *    rows as the single pass — the property that makes the sketch
  *    shard-, day-, and stream-composable (t15/t24's discipline on the
  *    quantile front).
  *  - BOUNDED STATE: bins per group are bounded by the price range, not by
  *    the row count.
  */
class HistogramQuantileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("each quantile upper bound brackets q14's exact value within one bin") {
    val ub = T25HistogramQuantiles.run(spark, TestSpark.sf001)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val exact = Q14Percentiles.run(spark, TestSpark.sf001)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(ub.keySet == exact.keySet)
    exact.foreach { case (rf, (p50, p95)) =>
      val (u50, u95) = ub(rf)
      val (c50, c95) = (p50 * 100, p95 * 100)
      assert(c50 <= u50 && u50 <= c50 + T25HistogramQuantiles.binCents,
        s"$rf p50: exact $c50 cents not bracketed by ub $u50")
      assert(c95 <= u95 && u95 <= c95 + T25HistogramQuantiles.binCents,
        s"$rf p95: exact $c95 cents not bracketed by ub $u95")
    }
  }

  test("histograms over disjoint halves merge by addition into the single-pass answer") {
    val li = Tables.lineitem(spark, TestSpark.sf001)
    val whole = T25HistogramQuantiles.quantiles(T25HistogramQuantiles.histogram(li))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val merged = T25HistogramQuantiles.histogram(li.filter(col("l_orderkey") % 2 === 0))
      .unionByName(T25HistogramQuantiles.histogram(li.filter(col("l_orderkey") % 2 === 1)))
      .groupBy(col("l_returnflag"), col("bin")).agg(sum(col("c")).as("c"))
    val viaMerge = T25HistogramQuantiles.quantiles(merged)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(whole.nonEmpty && viaMerge == whole,
      "bin-count addition over a data split must be indistinguishable from one pass")
  }

  test("bins per group are bounded by the price range (sf0.001)") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val perGroup = T25HistogramQuantiles.histogram(li).groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perGroup.nonEmpty)
    perGroup.foreach { case (g, n) =>
      assert(n < 1000, s"group $g holds $n bins — range bound broken")
    }
  }
}
