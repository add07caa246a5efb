package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-first k-means building blocks reproducing the reference's
  * semantics (guagua-examples/.../kmeans/KMeansWorker.java:107-245,
  * KMeansMaster.java:49-160) as declarative plans:
  *
  *   - assignment = a codegen'd when-chain argmin over explicit distance
  *     expressions (no UDF, no crossJoin — stays inside WholeStageCodegen);
  *   - per-cluster sums/counts = one partial+final hash aggregate;
  *   - the Lloyd iteration = a driver loop collecting k rows per step (the
  *     master fold of KMeansMaster.java:99-160 — k×dims doubles, O(1) in
  *     data size).
  *
  * Scale: each iteration is scan → map → partial agg → final agg over k
  * groups; the shuffle moves k rows per upstream partition. Centers travel
  * as plan literals (they're tiny); at 1000 executors this is exactly the
  * shape MLlib uses, minus its extra persist of an intermediate RDD.
  *
  * Determinism-for-oracle: every distance is pure +,*,/,sqrt (all IEEE
  * exactly-rounded, so Spark and DuckDB compute bit-identical doubles);
  * updated centers are rounded to a fixed number of decimals each iteration
  * so summation-order noise cannot drift the trajectories apart.
  */
object KMeans {

  sealed trait Distance
  /** 1 − (x·c)/(|x||c|) — the reference's distance (KMeansWorker.java:212-225). */
  case object Cosine extends Distance
  case object SquaredEuclidean extends Distance

  /** Distance column of a feature row to one fixed center. */
  def distanceTo(features: Seq[Column], center: Seq[Double], d: Distance): Column = d match {
    case SquaredEuclidean =>
      features.zip(center).map { case (f, c) => (f - lit(c)) * (f - lit(c)) }.reduce(_ + _)
    case Cosine =>
      val dot = features.zip(center).map { case (f, c) => f * lit(c) }.reduce(_ + _)
      val xn = sqrt(features.map(f => f * f).reduce(_ + _))
      val cn = math.sqrt(center.map(c => c * c).sum)
      lit(1.0) - dot / (xn * lit(cn))
  }

  /** Argmin over k centers as a first-match when-chain: cluster i wins iff
    * d_i <= d_j for all j > i (ties break to the lower index, matching the
    * strict `<` scan of KMeansWorker.java:151-163). O(k²) comparison terms —
    * fine for the k this surface pins; for large k use [[assignByArray]].
    */
  def assign(features: Seq[Column], centers: Seq[Seq[Double]], d: Distance): Column = {
    val ds = centers.map(c => distanceTo(features, c, d))
    val k = centers.length
    (0 until k - 1).foldRight(lit(k - 1)) { (i, rest) =>
      val winsTail = (i + 1 until k).map(j => ds(i) <= ds(j)).reduce(_ && _)
      when(winsTail, lit(i)).otherwise(rest)
    }
  }

  /** O(k) alternative: array_position(array_min) over a distance array.
    * Same tie-breaking (array_position returns the first occurrence).
    */
  def assignByArray(features: Seq[Column], centers: Seq[Seq[Double]], d: Distance): Column = {
    val arr = array(centers.map(c => distanceTo(features, c, d)): _*)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  /** One Lloyd step: per-cluster counts and feature sums. */
  def step(df: DataFrame, features: Seq[Column], centers: Seq[Seq[Double]], d: Distance): DataFrame = {
    val dims = features.indices
    df.select(assign(features, centers, d).as("cluster") +: dims.map(i => features(i).as(s"f$i")): _*)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cnt"), dims.map(i => sum(col(s"f$i")).as(s"sum_f$i")): _*)
  }

  /** A Lloyd run's result: the final centers and the last iteration's
    * per-cluster row counts (0 for an empty cluster; no counts when no
    * iteration ran).
    */
  final case class Fit(centers: Seq[Seq[Double]], counts: Seq[Long])

  /** Full Lloyd loop with per-iteration center rounding (determinism knob).
    * Empty clusters keep their previous center (cannot happen on the pinned
    * query surface; guarded for library use).
    */
  def lloyd(
      df: DataFrame,
      features: Seq[Column],
      init: Seq[Seq[Double]],
      iterations: Int,
      d: Distance,
      roundDecimals: Int = 6): Fit = {
    val dims = features.indices
    var fit = Fit(init, Nil)
    var it = 0
    // CLI `-c` cap (graft.core.IterationBudget): min(declared, cap).
    val effIterations = graft.core.IterationBudget.effective(iterations)
    while (it < effIterations) {
      val rows = step(df, features, fit.centers, d).collect()
      val byCluster = rows.map(r => r.getInt(0) -> r).toMap
      val next = fit.centers.zipWithIndex.map { case (old, ci) =>
        byCluster.get(ci) match {
          case Some(r) =>
            val cnt = r.getLong(1)
            (dims.map(i => round10(r.getDouble(2 + i) / cnt, roundDecimals)), cnt)
          case None => (old, 0L)
        }
      }
      fit = Fit(next.map(_._1), next.map(_._2))
      it += 1
    }
    fit
  }

  private def round10(x: Double, decimals: Int): Double =
    graft.functions.Rounding.roundTo(x, decimals)

  // ---- SQL mirrors (for oracle generation; keep in lockstep with above) ----

  /** Double constant as a SQL literal that parses back to the same double. */
  def sqlLit(x: Double): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) new java.math.BigDecimal(x).toPlainString else s
  }

  /** Center components are SQL expressions (literals via [[sqlLit]], or
    * column references into a pivoted-centers row for unrolled loops).
    * The center-norm is emitted as a sqrt(...) expression; for constant
    * centers both engines fold it to the identical double (sum and sqrt are
    * exactly-rounded, left-associated on both sides).
    */
  def distanceToSql(features: Seq[String], center: Seq[String], d: Distance): String = d match {
    case SquaredEuclidean =>
      features.zip(center)
        .map { case (f, c) => s"($f - $c) * ($f - $c)" }
        .mkString(" + ")
    case Cosine =>
      val dot = features.zip(center).map { case (f, c) => s"$f * $c" }.mkString(" + ")
      val xn = "sqrt(" + features.map(f => s"$f * $f").mkString(" + ") + ")"
      val cn = "sqrt(" + center.map(c => s"$c * $c").mkString(" + ") + ")"
      s"1.0 - ($dot) / ($xn * $cn)"
  }

  def assignSql(features: Seq[String], centers: Seq[Seq[String]], d: Distance): String = {
    val ds = centers.map(c => "(" + distanceToSql(features, c, d) + ")")
    val k = centers.length
    val arms = (0 until k - 1).map { i =>
      val cond = (i + 1 until k).map(j => s"${ds(i)} <= ${ds(j)}").mkString(" AND ")
      s"WHEN $cond THEN $i"
    }
    s"CASE ${arms.mkString(" ")} ELSE ${k - 1} END"
  }
}
