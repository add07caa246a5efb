package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** w1: 5-minute tumbling-window aggregation over the events table.
  *
  * Bucketing is integer arithmetic on epoch seconds (Spark `unix_timestamp`
  * truncates, DuckDB `epoch` is fractional — hence the explicit floor).
  * Partial aggregation collapses each scan partition to |windows|×|types|
  * rows before the shuffle.
  */
object W1WindowAgg extends GraftQuery {
  val name = "w1_window_agg"
  val describe = "5-min tumbling window counts/sums over events"

  private val widthSec = 300L

  def run(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("w_start", (floor(unix_timestamp(col("ts")) / widthSec) * widthSec).cast("long"))
      .groupBy(col("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))

  val oracle = Some(
    s"""SELECT CAST(floor(epoch(ts) / $widthSec) * $widthSec AS BIGINT) AS w_start,
       |       event_type,
       |       count(*) AS n_events,
       |       round(sum(value), 4) AS sum_value
       |FROM events
       |GROUP BY 1, 2""".stripMargin)
}

/** w2: sessionization — split each user's event stream at >30-minute gaps
  * (lag window), count sessions and events. The reference has no
  * window/state operators at all (SURVEY §2.E).
  *
  * Scale: one shuffle on user_id (the window partition key), then a
  * per-partition sort — the standard sessionization shape. Skewed users
  * (bots) would need salting + two-phase reassembly; at this surface the
  * per-user event counts are bounded.
  */
object W2Sessions extends GraftQuery {
  val name = "w2_sessions"
  val describe = "sessionization: >30min gap splits per user, session/event counts"

  private val gapSec = 1800L

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, sfDir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > gapSec, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val oracle = Some(
    s"""WITH t AS (
       |  SELECT user_id,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
       |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_sec
       |  FROM events)
       |SELECT user_id,
       |       CAST(sum(CASE WHEN prev_sec IS NULL OR sec - prev_sec > $gapSec THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       |       count(*) AS n_events
       |FROM t
       |GROUP BY user_id""".stripMargin)
}

/** w6: conversion funnel with an attribution window — the ORDERED
  * sequential pattern view → click within 6 h of a view → purchase within
  * 6 h of such a click, per user, counted by deepest stage reached.
  * Sequence analytics is the events-table workload windowed aggregation
  * (w1) and sessionization (w2) don't cover: stage n counts only when it
  * happens strictly AFTER a qualifying stage-(n−1) event and inside the
  * attribution window, so plain conditional aggregation (min/max per
  * type) is wrong — a purchase before the first view, or a week after the
  * last qualifying click, must not convert. (Without the window every
  * user in this dense corpus trivially converts; 6 h splits the fixture
  * 32/100/18 across stages at sf0.01.)
  *
  * Shape: two chained "latest qualifying predecessor timestamp" window
  * columns over the same (user_id; ts, event_id) ordering — the
  * strictly-prior frame (UNBOUNDED PRECEDING .. 1 PRECEDING) encodes
  * "after", the chaining encodes the order, the sec-difference bound the
  * window — then one per-user max and a tiny stage histogram. Both
  * WindowExecs and the per-user aggregate share ONE hash partitioning on
  * user_id and ONE per-partition sort: single exchange end-to-end
  * (scale-wise identical to w2; skewed bot users would salt the same way).
  */
object W6Funnel extends GraftQuery {
  val name = "w6_funnel"
  val describe = "view->click->purchase funnel (6h attribution): users by deepest stage"

  private val windowSec = 21600L

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rowStage = greatest(
      when(col("purchase_ok") === 1, 3).otherwise(0),
      when(col("click_ok") === 1, 2).otherwise(0),
      when(col("event_type") === "view", 1).otherwise(0))
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("event_type"))
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("sec"))).over(wPrev))
      .withColumn("click_ok",
        when(col("event_type") === "click" && col("last_view").isNotNull &&
          col("sec") - col("last_view") <= windowSec, 1).otherwise(0))
      .withColumn("last_qclick",
        max(when(col("click_ok") === 1, col("sec"))).over(wPrev))
      .withColumn("purchase_ok",
        when(col("event_type") === "purchase" && col("last_qclick").isNotNull &&
          col("sec") - col("last_qclick") <= windowSec, 1).otherwise(0))
      .groupBy(col("user_id")).agg(max(rowStage).as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .select(col("stage").as("funnel_stage"), col("n_users"))
  }

  val oracle = Some(
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type
       |  FROM events),
       |s1 AS (
       |  SELECT *, max(CASE WHEN event_type = 'view' THEN sec END)
       |           OVER (PARTITION BY user_id ORDER BY sec, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
       |  FROM e),
       |s2 AS (
       |  SELECT *, CASE WHEN event_type = 'click' AND last_view IS NOT NULL
       |                  AND sec - last_view <= $windowSec THEN 1 ELSE 0 END AS click_ok
       |  FROM s1),
       |s3 AS (
       |  SELECT *, max(CASE WHEN click_ok = 1 THEN sec END)
       |           OVER (PARTITION BY user_id ORDER BY sec, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_qclick
       |  FROM s2),
       |s4 AS (
       |  SELECT *, CASE WHEN event_type = 'purchase' AND last_qclick IS NOT NULL
       |                  AND sec - last_qclick <= $windowSec THEN 1 ELSE 0 END AS purchase_ok
       |  FROM s3),
       |us AS (
       |  SELECT user_id,
       |         max(greatest(CASE WHEN purchase_ok = 1 THEN 3 ELSE 0 END,
       |                      CASE WHEN click_ok = 1 THEN 2 ELSE 0 END,
       |                      CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS stage
       |  FROM s4 GROUP BY user_id)
       |SELECT stage AS funnel_stage, count(*) AS n_users
       |FROM us GROUP BY stage""".stripMargin)
}

/** w8: event-type transition matrix — per-user Markov transition counts
  * (prev event type → next event type), the behavior-model table behind
  * session analytics and next-event prediction features. One lag window
  * over the (user, time) order, then a partial-aggregated count over the
  * |types|² key space.
  *
  * Determinism: the order key is (ts, event_id) — event_id breaks
  * same-timestamp ties identically on both engines, so the lag pairs are
  * exact. Scale shape: the window and nothing else exchanges on user_id
  * (w2/w6's single-exchange discipline); the transition count's key space
  * is tiny so map-side combine collapses it per partition.
  */
object W8Transitions extends GraftQuery {
  val name = "w8_transitions"
  val describe = "per-user event-type transition counts (Markov matrix over the event stream)"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  val oracle = Some(
    """WITH o AS (
      |  SELECT event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type, count(*) AS n
      |FROM o WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, event_type""".stripMargin)
}

/** w9: inter-arrival-time histogram — the event-stream cadence profile
  * (traffic shape, bot detection, capacity planning all start from "how far
  * apart are a user's events"). Each user's stream is lagged once to get the
  * gap to the previous event, and gaps land in power-of-two buckets
  * [2^b, 2^(b+1)); the output is one row per non-empty bucket with its
  * count, share of all gaps, and exact mean gap.
  *
  * Bucketing is a closed-form integer CASE chain (no log2 — floating-point
  * log at an exact power-of-two boundary is engine-dependent ulp territory;
  * integer comparisons are not). Same-second events (gap 0) get their own
  * bucket with lo = hi = 0.
  *
  * Scale shape: ONE exchange on user_id for the lag window (the w2/w6/w8
  * discipline), then a global aggregate over a ≤ ~32-row key space —
  * map-side combine collapses each partition to the bucket count before the
  * second (trivial) shuffle. The share denominator is a 1-row broadcast.
  */
object W9InterArrival extends GraftQuery {
  val name = "w9_interarrival"
  val describe = "inter-arrival gap histogram: power-of-2 buckets over per-user event gaps"

  /** Largest bucket exponent: gaps >= 2^30 s (~34 years) all land in the
    * top bucket, which keeps the CASE chain finite without ever dropping a
    * gap. That bucket is open-ended — [2^30, ∞) — so its gap_hi is NULL
    * rather than a bound the bucket doesn't actually enforce. */
  private val maxExp = 30

  /** Bucket lower bound for a gap (0 for gap 0, else largest 2^b <= gap). */
  private def bucketLoCase(gapExpr: String): String = {
    val arms = (maxExp to 0 by -1)
      .map(b => s"WHEN $gapExpr >= ${1L << b} THEN CAST(${1L << b} AS BIGINT)")
      .mkString("\n         ")
    s"CASE $arms ELSE CAST(0 AS BIGINT) END"
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, sfDir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .filter(col("prev_sec").isNotNull)
      .withColumn("gap_s", col("sec") - col("prev_sec"))
    // Closed-form power-of-two floor as a when-chain: first match wins, so
    // testing exponents high->low picks the LARGEST 2^b <= gap.
    val lo = (maxExp to 0 by -1).foldLeft(null: org.apache.spark.sql.Column) { (acc, b) =>
      val arm = col("gap_s") >= (1L << b)
      if (acc == null) when(arm, lit(1L << b)) else acc.when(arm, lit(1L << b))
    }.otherwise(lit(0L))
    val hist = gaps.withColumn("gap_lo", lo)
      .groupBy(col("gap_lo"))
      .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("gap_sum"))
    val total = hist.agg(sum(col("n")).as("tot"))
    hist.crossJoin(broadcast(total))
      .select(col("gap_lo"),
        when(col("gap_lo") === 0, lit(0L))
          .when(col("gap_lo") === (1L << maxExp), lit(null).cast("long"))
          .otherwise(col("gap_lo") * 2 - 1).as("gap_hi"),
        col("n"),
        round(col("gap_sum").cast("double") / col("n"), 6).as("avg_gap_s"),
        round(col("n").cast("double") / col("tot"), 6).as("share"))
  }

  val oracle = {
    val loSql = bucketLoCase("gap_s")
    Some(
      s"""WITH g AS (
         |  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         |           - lag(CAST(floor(epoch(ts)) AS BIGINT))
         |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
         |  FROM events),
         |b AS (SELECT $loSql AS gap_lo, gap_s FROM g WHERE gap_s IS NOT NULL),
         |h AS (SELECT gap_lo, count(*) AS n, sum(gap_s) AS gap_sum FROM b GROUP BY 1),
         |t AS (SELECT sum(n) AS tot FROM h)
         |SELECT gap_lo,
         |       CASE WHEN gap_lo = 0 THEN 0
         |            WHEN gap_lo = ${1L << maxExp} THEN NULL
         |            ELSE gap_lo * 2 - 1 END AS gap_hi,
         |       n,
         |       round(CAST(gap_sum AS DOUBLE) / n, 6) AS avg_gap_s,
         |       round(CAST(n AS DOUBLE) / t.tot, 6) AS share
         |FROM h CROSS JOIN t""".stripMargin)
  }
}

/** w10: daily unique users per event type — the cardinality workload
  * (DAU/MAU boards, reach counts). Exact distinct counting at scale is the
  * known two-shuffle shape: Spark rewrites count(DISTINCT user_id) into a
  * partial-dedup aggregate on (day, type, user) then a count — both
  * map-side combined, so the wire carries each (day, type, user) once per
  * partition, never the raw event stream. The scale escape hatch when even
  * that is too much is the HLL sketch (`approx_count_distinct`), which
  * merges like t15's count-min cells; its estimates are engine-specific so
  * it stays OFF the oracle surface — HllSpec pins the sketch within 5% of
  * this query's exact counts instead (the d14/t15 calibration discipline).
  *
  * Day bucketing is integer epoch arithmetic (w1's floor rule), timezone-
  * free by construction.
  */
object W10DailyUniques extends GraftQuery {
  val name = "w10_daily_uniques"
  val describe = "exact daily unique users per event type (two-phase distinct; HLL twin spec-pinned)"

  private val daySec = 86400L

  def run(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("day", (floor(unix_timestamp(col("ts")) / daySec) * daySec).cast("long"))
      .groupBy(col("day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val oracle = Some(
    s"""SELECT CAST(floor(epoch(ts) / $daySec) * $daySec AS BIGINT) AS day,
       |       event_type,
       |       count(DISTINCT user_id) AS n_users,
       |       count(*) AS n_events
       |FROM events
       |GROUP BY 1, 2""".stripMargin)
}

/** w11: daily-volume ANOMALY monitor — per (event_type, day) the z-score of
  * that day's event count against the type's own daily history, the table
  * an ingestion monitor alerts on (a crawler source going dark or a bot
  * flood both surface as |z| spikes long before any content-level check).
  *
  * Exactness: with n observed days, S = Σcnt and Sq = Σcnt², the z-score
  * algebra collapses to z = (n·x − S) / sqrt(n·Sq − S²) — every inner term
  * an exact integer, then exactly one IEEE sqrt and one division (both
  * exactly-rounded), published on the 1e-6 grid. Degenerate histories
  * (n = 1, or all days equal) have zero variance: z is defined as 0 — a
  * constant signal is never anomalous against itself.
  *
  * Scale: one (type, day)-keyed count (map-side combined), one type-keyed
  * aggregate over the per-day frame (bounded by types × days, not events),
  * per-type stats broadcast back into the per-day frame. Day bucketing is
  * w10's integer epoch arithmetic — timezone-free.
  */
object W11VolumeAnomaly extends GraftQuery {
  val name = "w11_volume_anomaly"
  val describe = "per-type daily volume z-scores (exact-integer core, e6 grid) + |z|>3 anomaly flags"

  private val daySec = 86400L
  private[queries] val zFlagE6 = 3000000L

  def run(spark: SparkSession, sfDir: String): DataFrame =
    zScores(Tables.events(spark, sfDir)
      .withColumn("day", (floor(unix_timestamp(col("ts")) / daySec) * daySec).cast("long"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt")))

  /** The z-score table over any (event_type, day, cnt) frame — the seam
    * VolumeAnomalySpec's spike fixture and zero-sum pin use.
    */
  private[queries] def zScores(daily: DataFrame): DataFrame = {
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("cnt")).as("s"),
        sum(col("cnt") * col("cnt")).as("sq"))
    val disc = stats("n_days") * stats("sq") - stats("s") * stats("s")
    daily.join(broadcast(stats.withColumn("disc", disc)), "event_type")
      .select(col("event_type"), col("day"), col("cnt"), col("n_days"),
        when(col("disc") <= 0L, 0L).otherwise(
          round((col("n_days") * col("cnt") - col("s")).cast("double")
            / sqrt(col("disc").cast("double")) * 1e6).cast("long")).as("z_e6"))
      .withColumn("anomalous", abs(col("z_e6")) > zFlagE6)
  }

  val oracle = Some(
    s"""WITH daily AS (
       |  SELECT event_type,
       |         CAST(floor(epoch(ts) / $daySec) * $daySec AS BIGINT) AS day,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, count(*) AS n_days,
       |         CAST(sum(cnt) AS BIGINT) AS s,
       |         CAST(sum(cnt * cnt) AS BIGINT) AS sq
       |  FROM daily GROUP BY 1),
       |j AS (
       |  SELECT d.event_type, d.day, d.cnt, t.n_days,
       |         t.n_days * t.sq - t.s * t.s AS disc,
       |         t.n_days * d.cnt - t.s AS num
       |  FROM daily d JOIN st t USING (event_type))
       |SELECT event_type, day, cnt, n_days,
       |       CASE WHEN disc <= 0 THEN 0
       |            ELSE CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(disc AS DOUBLE)) * 1e6) AS BIGINT)
       |       END AS z_e6,
       |       CASE WHEN disc <= 0 THEN FALSE
       |            ELSE abs(CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(disc AS DOUBLE)) * 1e6) AS BIGINT)) > $zFlagE6
       |       END AS anomalous
       |FROM j""".stripMargin)
}
