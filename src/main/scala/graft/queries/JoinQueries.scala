package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** j1: revenue per nation — lineitem ⋈ orders ⋈ customer ⋈ nation. The
  * reference has no joins at all (SURVEY §2.E); this is part of the engine's
  * relational completeness surface.
  *
  * Scale plan: lineitem⋈orders and ⋈customer are key-shuffle joins (both
  * sides scale with data; at 100 TB neither is broadcastable) — AQE picks
  * broadcast automatically when a side is small at runtime. `nation` is
  * fixed-size (25 rows) and broadcast explicitly so the planner never
  * considers shuffling it. Aggregation happens AFTER the joins but groups on
  * a 25-value key, so the final shuffle is negligible; the join shuffles
  * dominate and they are unavoidable without co-partitioned storage
  * (bucketing both fact tables on the join key would eliminate them).
  */
object J1JoinRevenue extends GraftQuery {
  val name = "j1_join_revenue"
  val describe = "revenue per nation via lineitem⋈orders⋈customer⋈broadcast(nation)"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  val oracle = Some(
    """SELECT n_name,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin)
}

/** j2: top-k customers by revenue — aggregate-then-sort-limit. Spark plans
  * the limit as TakeOrderedAndProject (per-partition top-k, then k-way merge
  * on the driver): no global sort materializes, which is the property that
  * matters at 10^9 group keys. Ties broken by customer key so both engines
  * select the same set.
  */
object J2TopK extends GraftQuery {
  val name = "j2_topk_customers"
  val describe = "top-10 customers by revenue (TakeOrderedAndProject, no global sort)"

  private val k = 10

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(k)
  }

  val oracle = Some(
    s"""SELECT c_custkey, c_name,
       |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY revenue DESC, c_custkey ASC
       |LIMIT $k""".stripMargin)
}

/** j5: broadcast ANTI join — "customers with no order above the threshold",
  * the exclusion probe every incremental pipeline runs (d8's exact-verify
  * step uses left_anti internally; this puts the operator itself on the
  * oracle surface). The probe side filters
  * BEFORE the join, so the anti-join's build input is the small qualifying
  * subset, and the join needs only the key column of it.
  */
object J5AntiJoin extends GraftQuery {
  val name = "j5_anti_join"
  val describe = "left_anti: customers with no order above 300k (exclusion probe)"

  private val threshold = 300000.0

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > threshold)
      .select(col("o_custkey"))
    Tables.customer(spark, sfDir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
  }

  val oracle = Some(
    s"""SELECT c_custkey, c_name, c_nationkey
       |FROM customer c
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM orders o
       |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > $threshold)""".stripMargin)
}

/** j6: broadcast SEMI join — "customers with at least one urgent order",
  * the inclusion twin of j5 (a semi join returns each left row at most
  * once, needs no aggregation to dedup, and ships only the key column of
  * the probe side — the shape p1/p4 use to restrict corpora to survivor
  * sets).
  */
object J6SemiJoin extends GraftQuery {
  val name = "j6_semi_join"
  val describe = "left_semi: customers with >=1 urgent-priority order (inclusion probe)"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, sfDir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
  }

  val oracle = Some(
    """SELECT c_custkey, c_name, c_nationkey
      |FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin)
}

/** j7: the TPC-H Q5 "local supplier volume" shape — the hardest standard
  * star-join: two dimension chains (orders→customer→nation and
  * lineitem→supplier→nation) that must MEET on the same nation
  * (c_nationkey = s_nationkey, the correlation a naive star plan misses),
  * a region restriction walking nation→region, and a one-year date window
  * on the fact's order side. j1 is the single-chain warm-up; this is the
  * plan where join ORDER and broadcast choices actually decide the cost.
  *
  * Scale shape: region/nation/supplier/customer all broadcast (the
  * region⋈nation reduction happens driver-free inside the broadcast
  * exchange build); the only shuffle join is lineitem⋈orders on orderkey —
  * the two fact tables — and the o_orderdate year filter lands in the
  * orders SCAN (PushedFilters), shrinking the shuffled fact side before the
  * exchange. The local-supplier predicate is applied as a post-join filter
  * on two broadcast-delivered columns, costing nothing extra. At 100 TB
  * this is one fact-fact exchange + four broadcast lookups — exactly the
  * plan a warehouse wants for Q5.
  */
object J7StarJoin extends GraftQuery {
  val name = "j7_star_join"
  val describe = "TPC-H Q5 shape: local-supplier revenue per nation in one region, one year"

  private val region = "ASIA"
  private val yearStart = "1995-01-01 00:00:00"
  private val yearEnd = "1996-01-01 00:00:00"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(yearStart).cast("timestamp") &&
        col("o_orderdate") < lit(yearEnd).cast("timestamp"))
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir).filter(col("r_name") === region)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  val oracle = Some(
    s"""SELECT n_name,
       |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       |       count(*) AS n_lineitems
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = '$region'
       |  AND o_orderdate >= TIMESTAMP '$yearStart'
       |  AND o_orderdate < TIMESTAMP '$yearEnd'
       |GROUP BY n_name""".stripMargin)
}
