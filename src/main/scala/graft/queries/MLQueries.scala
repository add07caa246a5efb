package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.KMeans

/** Shared feature projections over lineitem for the ML-shaped queries
  * (SURVEY §2.F binding: features from l_quantity/l_extendedprice/l_discount/
  * l_tax, label from l_returnflag). Each Column has an exact SQL twin; the
  * pairs must stay in lockstep or the oracle comparison loses meaning.
  */
object LineitemFeatures {
  // Scaled into O(1)–O(100) ranges so gradients/centroids are well-conditioned.
  val gradCols: Seq[Column] = Seq(
    lit(1.0),
    col("l_quantity") / 50.0,
    col("l_extendedprice") / 100000.0,
    col("l_discount"),
    col("l_tax"))
  val gradSql: Seq[String] = Seq(
    "1.0", "(l_quantity / 50.0)", "(l_extendedprice / 100000.0)", "l_discount", "l_tax")

  val labelCol: Column = when(col("l_returnflag") === "R", 1.0).otherwise(0.0)
  val labelSql: String = "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END"

  /** w·x at fixed weights — THE lockstep pair every gradient query builds
    * on; any change must land in both forms at once (and in k1's worker,
    * which sums the same terms in the same order over plain arrays).
    */
  def zExpr(w: Seq[Double]): Column =
    gradCols.zip(w).map { case (f, wi) => f * lit(wi) }.reduce(_ + _)
  def zSql(wRefs: Seq[String]): String =
    gradSql.zip(wRefs).map { case (f, wi) => s"$f * $wi" }.mkString(" + ")

  /** σ(z) − y, shared by k2's mini-batch loop and (in plain Scala, with
    * Spark's `StrictMath.exp`) k1's worker.
    */
  def sigmoidResidual(z: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-z)) - labelCol
  def sigmoidResidualSql(z: String): String =
    s"1.0 / (1.0 + exp(-($z))) - ($labelSql)"

  val kmeansCols: Seq[Column] = Seq(
    col("l_quantity"),
    col("l_extendedprice") / 1000.0,
    col("l_discount") * 100.0,
    col("l_tax") * 100.0)
  val kmeansSql: Seq[String] = Seq(
    "l_quantity", "(l_extendedprice / 1000.0)", "(l_discount * 100.0)", "(l_tax * 100.0)")
}

/** Q3/Q4 common machinery: one batch-GD gradient step as a single declarative
  * aggregate — the relational form of the reference's per-record
  * accumulate-then-sum (lr/LogisticRegressionWorker.java:108-165). The whole
  * step is scan → codegen'd projection → partial+final agg: one pass, no
  * shuffle beyond the 1-row aggregate.
  */
abstract class GradientStepQuery extends GraftQuery {
  /** Weights pinned by the query spec (reference inits randomly,
    * LogisticRegressionMaster.java:103-108 — seeded here for determinism).
    */
  protected val weights = Seq(0.1, -0.2, 0.3, -0.4, 0.5)

  /** err(z, y): link-specific residual, as (Column, SQL) lockstep pair. */
  protected def residual(z: Column, y: Column): Column
  protected def residualSql(z: String, y: String): String

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import LineitemFeatures._
    val z = zExpr(weights)
    val err = residual(z, labelCol)
    val aggs = gradCols.zipWithIndex.map { case (f, j) =>
      round(sum(err * f), 4).as(s"grad_$j")
    }
    Tables.lineitem(spark, sfDir).agg(aggs.head, aggs.tail: _*)
  }

  def oracle: Option[String] = {
    import LineitemFeatures._
    val z = zSql(weights.map(KMeans.sqlLit))
    val err = residualSql(s"($z)", s"($labelSql)")
    val cols = gradSql.zipWithIndex
      .map { case (f, j) => s"round(sum(($err) * $f), 4) AS grad_$j" }
    Some(s"SELECT ${cols.mkString(",\n       ")}\nFROM lineitem")
  }
}

/** Q3: one logistic-regression gradient step (reference C4). */
object Q3LrGradient extends GradientStepQuery {
  val name = "q3_lr_grad"
  val describe = "one LR batch-gradient step at fixed weights (C4), sigmoid link"

  protected def residual(z: Column, y: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-z)) - y
  protected def residualSql(z: String, y: String): String =
    s"1.0 / (1.0 + exp(-$z)) - $y"
}

/** Q4: one linear-regression gradient step (reference C5), identity link. */
object Q4LnrGradient extends GradientStepQuery {
  val name = "q4_lnr_grad"
  val describe = "one linear-regression batch-gradient step at fixed weights (C5)"

  protected def residual(z: Column, y: Column): Column = z - y
  protected def residualSql(z: String, y: String): String = s"$z - $y"
}

/** Q5: k-means assignment under fixed centers, cosine distance — the
  * reference's per-iteration worker step (KMeansWorker.java:151-186) as one
  * groupBy over a when-chain argmin. Entirely inside WholeStageCodegen; the
  * only shuffle is k×|partitions| partial-agg rows.
  */
object Q5KMeansAssign extends GraftQuery {
  val name = "q5_kmeans_assign"
  val describe = "fixed-center k-means assignment (cosine), per-cluster count + sums (C3 worker step)"

  private val centers = Seq(
    Seq(10.0, 20.0, 3.0, 3.0),
    Seq(30.0, 40.0, 5.0, 5.0),
    Seq(45.0, 10.0, 8.0, 1.0))

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import LineitemFeatures._
    val li = Tables.lineitem(spark, sfDir)
    val assigned = li.select(
      KMeans.assign(kmeansCols, centers, KMeans.Cosine).as("cluster") +:
        kmeansCols.zipWithIndex.map { case (c, i) => c.as(s"f$i") }: _*)
    assigned.groupBy(col("cluster")).agg(
      count(lit(1)).as("cnt"),
      round(sum(col("f0")), 2).as("sum_f0"),
      round(sum(col("f1")), 2).as("sum_f1"),
      round(sum(col("f2")), 2).as("sum_f2"),
      round(sum(col("f3")), 2).as("sum_f3"))
  }

  val oracle = {
    import LineitemFeatures._
    Some(
      s"""WITH f AS (SELECT ${kmeansSql.zipWithIndex.map { case (s, i) => s"$s AS f$i" }.mkString(", ")} FROM lineitem),
         |a AS (SELECT ${KMeans.assignSql(Seq("f0", "f1", "f2", "f3"), centers.map(_.map(KMeans.sqlLit)), KMeans.Cosine)} AS cluster, f0, f1, f2, f3 FROM f)
         |SELECT cluster, count(*) AS cnt,
         |       round(sum(f0), 2) AS sum_f0, round(sum(f1), 2) AS sum_f1,
         |       round(sum(f2), 2) AS sum_f2, round(sum(f3), 2) AS sum_f3
         |FROM a GROUP BY cluster""".stripMargin)
  }
}

/** Q6: centroid seeding — decimate to a deterministic ~1% candidate sample,
  * rank by L2 norm, pick k evenly spaced (the reference's every-(n/k)-th +
  * sort-by-norm seeding, KMeansWorker.java:116-139, KMeansMaster.java:61-97,
  * with sampling made key-deterministic instead of partition-arrival order).
  *
  * Scale: decimation is a partition-local arithmetic-hash filter — pushed to
  * the scan, no global row numbering of the full table. The candidate set's
  * global rank is computed distributed: range-partition on the sort key,
  * per-range ranking, and exact per-range offsets from the O(partitions)
  * count metadata — no single-partition sort anywhere, at any scale.
  */
object Q6KMeansSeed extends GraftQuery {
  val name = "q6_kmeans_seed"
  val describe = "centroid seeding: hash-decimate, rank by L2 norm, pick k evenly (C3 init)"

  private val k = 4
  private val decimate = 100
  // Key-deterministic decimation (same arithmetic hash family as q10).
  private val sampleSql =
    s"((l_orderkey * 2654435761 + l_linenumber * 2246822519 + 1013904223) % 1000003) % $decimate = 1"

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import LineitemFeatures._
    val li = Tables.lineitem(spark, sfDir)
    val f = li.filter(expr(sampleSql)).select(
      col("l_orderkey") +: col("l_linenumber") +:
        kmeansCols.zipWithIndex.map { case (c, i) => c.as(s"f$i") }: _*)
    val norm = sqrt((0 until 4).map(i => col(s"f$i") * col(s"f$i")).reduce(_ + _))
    // Distributed global rank: range-partition on the sort key, rank WITHIN
    // each range partition (a keyed window — every partition sorts only its
    // own slice), then add per-partition offsets computed from the O(P)
    // partition counts (a driver-side fold of metadata, like the kernel's
    // master fold — NOT a data collect). The global rank is exact whatever
    // boundaries the range sampler picks, because (norm, orderkey,
    // linenumber) is a total order. This replaces the round-1 global
    // Window.orderBy, whose single-partition sort was the suite's one
    // scale-unsafe window.
    val sortKey = Seq(col("norm"), col("l_orderkey"), col("l_linenumber"))
    val parts = spark.sparkContext.defaultParallelism
    // Round 15: persist the input — the range sampler otherwise executes
    // the un-persisted child once more before the exchange (the
    // Rank.globalRowNumber fix applied here).
    val normed = graft.CacheScope.persisted(f.withColumn("norm", norm))
    val ranged = graft.CacheScope.persisted(normed
      .repartitionByRange(parts, sortKey: _*)
      .withColumn("pid", spark_partition_id()))
    val cnts = ranged.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val nc = cnts.map(_._2).sum
    val offsets = cnts.scanLeft((0, 0L)) { case ((_, acc), (pid, cnt)) => (pid, acc + cnt) }
    // Broadcast-joined offsets, not a folded when(pid===…) chain — the
    // Rank.globalRowNumber fix (an O(P)-deep expression tree trips codegen's
    // 64KB method limit once P reaches cluster-scale partition counts).
    val offDf = spark.createDataFrame(
      cnts.map(_._1).zip(offsets.map(_._2)).toSeq).toDF("pid", "__off")
    val byNormInPart = Window.partitionBy(col("pid")).orderBy(sortKey: _*)
    val step = math.max(nc / k, 1L)
    ranged
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("rk", col("__off") + row_number().over(byNormInPart))
      .withColumn("cluster_id", floor((col("rk") - 1) / step).cast("int"))
      .filter(col("cluster_id") < k)
      .filter((col("rk") - 1) % step === 0)
      .select(col("cluster_id"), round(col("norm"), 6).as("norm"),
        col("f0"), col("f1"), col("f2"), col("f3"))
  }

  val oracle = {
    import LineitemFeatures._
    Some(
      s"""WITH cand AS (
         |  SELECT l_orderkey, l_linenumber,
         |         ${kmeansSql.zipWithIndex.map { case (s, i) => s"$s AS f$i" }.mkString(", ")},
         |         sqrt(${(0 until 4).map(i => s"(${kmeansSql(i)}) * (${kmeansSql(i)})").mkString(" + ")}) AS norm
         |  FROM lineitem WHERE $sampleSql),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY norm, l_orderkey, l_linenumber) AS rk,
         |         count(*) OVER () AS nc
         |  FROM cand),
         |stepped AS (
         |  SELECT *, greatest(CAST(floor(nc / ${k}.0) AS BIGINT), 1) AS step FROM ranked)
         |SELECT CAST(floor((rk - 1) / step) AS INT) AS cluster_id,
         |       round(norm, 6) AS norm, f0, f1, f2, f3
         |FROM stepped
         |WHERE CAST(floor((rk - 1) / step) AS INT) < $k AND (rk - 1) % step = 0""".stripMargin)
  }
}

/** Q9: the full k-means loop (reference C3 + halt loop A6): 3 Lloyd
  * iterations, k = 3, squared-Euclidean, centers re-rounded to 6 decimals
  * each iteration (the determinism contract that keeps Spark and the
  * oracle's unrolled SQL on the same trajectory).
  *
  * The oracle is the same loop UNROLLED into chained CTEs — pivoting each
  * iteration's k×dims centers into one row and cross-joining it into the
  * next assignment — generated by the same code that defines the Spark
  * expressions, so both sides share one definition of distance/argmin.
  */
object Q9KMeansLoop extends GraftQuery {
  val name = "q9_kmeans_loop"
  val describe = "full k-means Lloyd loop (3 iterations, k=3, squared-Euclidean)"

  private[queries] val init = Seq(
    Seq(10.0, 10.0, 2.0, 2.0),
    Seq(25.0, 30.0, 5.0, 4.0),
    Seq(40.0, 70.0, 8.0, 6.0))
  private val iterations = 3
  private val k = init.length
  private val dims = init.head.length

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import LineitemFeatures._
    val fit = KMeans.lloyd(Tables.lineitem(spark, sfDir), kmeansCols, init, iterations,
      KMeans.SquaredEuclidean)
    import spark.implicits._
    fit.counts.indices.map { c =>
      val cs = fit.centers(c)
      (c, fit.counts(c), cs(0), cs(1), cs(2), cs(3))
    }.toDF("cluster", "cnt", "c0", "c1", "c2", "c3")
  }

  val oracle = {
    import LineitemFeatures._
    val feats = (0 until dims).map(i => s"f$i")
    def pivotCols(src: String) = (0 until k).flatMap { ci =>
      (0 until dims).map(i => s"max(CASE WHEN cluster = $ci THEN c$i END) AS c${ci}_$i")
    }.mkString(", ")
    def centersOf(alias: String): Seq[Seq[String]] =
      (0 until k).map(ci => (0 until dims).map(i => s"$alias.c${ci}_$i"))

    val sb = new StringBuilder
    sb ++= s"WITH f AS (SELECT ${kmeansSql.zipWithIndex.map { case (s, i) => s"$s AS f$i" }.mkString(", ")} FROM lineitem)"
    var prevCenters: Seq[Seq[String]] = init.map(_.map(KMeans.sqlLit))
    for (it <- 1 to iterations) {
      val from = if (it == 1) "f" else s"f CROSS JOIN p${it - 1} p"
      val assignExpr = KMeans.assignSql(feats, prevCenters, KMeans.SquaredEuclidean)
      sb ++= s",\na$it AS (SELECT $assignExpr AS cluster, ${feats.mkString(", ")} FROM $from)"
      sb ++= s",\nc$it AS (SELECT cluster, count(*) AS cnt, " +
        (0 until dims).map(i => s"round(sum(f$i) / count(*), 6) AS c$i").mkString(", ") +
        s" FROM a$it GROUP BY cluster)"
      if (it < iterations)
        sb ++= s",\np$it AS (SELECT ${pivotCols(s"c$it")} FROM c$it)"
      prevCenters = centersOf("p")
    }
    sb ++= s"\nSELECT cluster, cnt, c0, c1, c2, c3 FROM c$iterations"
    Some(sb.toString)
  }
}
