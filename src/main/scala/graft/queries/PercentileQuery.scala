package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** q14: exact grouped percentiles — Spark's `percentile` and DuckDB's
  * `quantile_cont` share the same linear-interpolation definition (verified
  * bit-identical on this data; outputs rounded to absorb any last-ulp
  * divergence in the interpolation arithmetic).
  *
  * Scale note: exact percentiles sort each group — at corpus scale the
  * approximate sketch (`approx_percentile`, not oracle-matchable) replaces
  * this; the query pins the exact path the sketch is validated against.
  */
object Q14Percentiles extends GraftQuery {
  val name = "q14_percentiles"
  val describe = "grouped exact percentiles (p50/p95) of extendedprice by returnflag"

  def run(spark: SparkSession, sfDir: String): DataFrame =
    // Both percentiles from ONE aggregate: percentile(col, array(...))
    // shares a single per-group value buffer and sort — two scalar
    // percentile() aggregates would each collect and sort their own copy
    // of every group's values (measured ~1.9s → ~1.1s at sf0.1).
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ps"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p95"),
        col("min_price"), col("max_price"))

  val oracle = Some(
    """SELECT l_returnflag,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |       round(min(l_extendedprice), 2) AS min_price,
      |       round(max(l_extendedprice), 2) AS max_price
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin)
}

/** t25: portable HISTOGRAM quantiles — the third leg of the sketch trilogy
  * (t15 count-min = frequency, t24 HLL = cardinality, this = quantiles),
  * built to the same contract: fixed-size state, merge = element-wise
  * addition (so map-side combine IS the sketch merge and shards/days/
  * streams compose), and every published number exact integer arithmetic
  * so the sketch itself sits under the DuckDB hash gate — where q14's
  * exact `percentile` needs a per-group sort of every value and Spark's
  * `approx_percentile` (GK) is engine-private (HllSpec's sibling,
  * QuantileSketchSpec, calibrates it; it can never be hash-gated).
  *
  * Construction: prices enter the q25 integer-cents domain
  * (CAST(round(x·100) AS BIGINT) — one identical IEEE multiply+round both
  * engines), bin = cents // 12800 ($128-wide bins, ~820 over lineitem's
  * price range), histogram = (group, bin) count. A quantile is then the
  * smallest bin whose cumulative count reaches ceil(q·n) — computed as
  * the pure-integer target (n·q% + 99) // 100, no float q ever multiplied
  * — and is published as the bin's exclusive upper bound in cents. The
  * answer is exact-to-the-bin by construction: error ≤ $128, pinned
  * against q14's exact values in HistogramQuantileSpec along with the
  * split-merge-by-addition identity.
  *
  * Scale: one map-side-combined shuffle to O(groups × bins) rows, then a
  * window + aggregate over that bounded frame. q14 sorts every group's
  * values; this never holds more than the histogram.
  */
object T25HistogramQuantiles extends GraftQuery {
  val name = "t25_histogram_quantiles"
  val describe = "mergeable integer-histogram quantiles (bin $128): p50/p95/p99 upper bounds vs group size"

  private[queries] val binCents = 12800L

  /** (group, bin, c) histogram over lineitem prices — the mergeable state. */
  private[queries] def histogram(li: DataFrame): DataFrame =
    li.select(col("l_returnflag"),
        expr(s"CAST(round(l_extendedprice * 100) AS BIGINT) div $binCents").as("bin"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("c"))

  /** Histogram → per-group quantile rows (pure integer targets). */
  private[queries] def quantiles(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wt = Window.partitionBy(col("l_returnflag"))
    // the ceil target must stay in INTEGER division (Column./ is double
    // division, which would turn ceil(q·n) into a fractional threshold)
    def ub(q: Int) = (min(when(
        col("cum") >= expr(s"(n * $q + 99) div 100"), col("bin"))) + 1) * binCents
    hist
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wt))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        ub(50).as("p50_ub_cents"), ub(95).as("p95_ub_cents"), ub(99).as("p99_ub_cents"))
  }

  def run(spark: SparkSession, sfDir: String): DataFrame =
    quantiles(histogram(Tables.lineitem(spark, sfDir)))

  val oracle = Some(
    s"""WITH h AS (
       |  SELECT l_returnflag,
       |         CAST(round(l_extendedprice * 100) AS BIGINT) // $binCents AS bin,
       |         count(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cw AS (
       |  SELECT l_returnflag, bin, c,
       |         CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |         CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
       |  FROM h)
       |SELECT l_returnflag, max(n) AS n,
       |       (min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) + 1) * $binCents AS p50_ub_cents,
       |       (min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) + 1) * $binCents AS p95_ub_cents,
       |       (min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) + 1) * $binCents AS p99_ub_cents
       |FROM cw GROUP BY l_returnflag""".stripMargin)
}
