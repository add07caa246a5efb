package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Iterate, IterationContext, MasterComputable, WorkerComputable}

/** k-means reproducing the reference's semantics
  * (guagua-examples/.../kmeans/KMeansWorker.java:107-245,
  * KMeansMaster.java:49-160):
  *
  *   - the Lloyd loop ([[lloyd]]) runs on the [[graft.core.Iterate]] kernel,
  *     the reference's own master/worker shape: the feature columns are
  *     projected once into one `array<double>` column that the kernel
  *     persists; per iteration each worker folds its cached partition into
  *     per-cluster counts and feature sums given the last centers, and the
  *     master folds those in partition order into the next centers
  *     (KMeansMaster.java:99-160 — k×dims doubles, O(1) in data size);
  *   - the centers travel in the kernel's per-iteration broadcast, not as
  *     plan literals, so one plan is analysed and code-generated per loop,
  *     not per iteration;
  *   - single-step assignment (q5, the SQL mirrors) stays declarative: a
  *     codegen'd when-chain argmin over explicit distance expressions (no
  *     UDF, no crossJoin — stays inside WholeStageCodegen).
  *
  * Determinism-for-oracle: every distance is pure +,*,/,sqrt (all IEEE
  * exactly-rounded, so Spark, the Lloyd worker and DuckDB compute
  * bit-identical doubles — the worker keeps [[distanceTo]]'s operation
  * order); updated centers are rounded to a fixed number of decimals each
  * iteration so summation-order noise cannot drift the trajectories apart.
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

  /** The argmin of [[assign]] over plain arrays: the nearest of `centers`
    * to a feature row, with [[distanceTo]]'s IEEE operation order and the
    * when-chain's tie rule (the first minimum — the strict `<` scan of
    * KMeansWorker.java:151-163). The Lloyd worker assigns with it; callers
    * that hold many centers use it instead of an O(k²) when-chain.
    */
  def nearest(centers: Seq[Seq[Double]], d: Distance): Array[Double] => Int =
    new Nearest(centers.map(_.toArray).toArray, d)

  private final class Nearest(cs: Array[Array[Double]], d: Distance)
      extends (Array[Double] => Int) with Serializable {
    private val norms = cs.map(c => math.sqrt(c.map(x => x * x).sum))

    private def distance(x: Array[Double], ci: Int): Double = {
      val c = cs(ci)
      d match {
        case SquaredEuclidean =>
          var s = (x(0) - c(0)) * (x(0) - c(0))
          var i = 1
          while (i < c.length) { s += (x(i) - c(i)) * (x(i) - c(i)); i += 1 }
          s
        case Cosine =>
          var dot = x(0) * c(0)
          var xx = x(0) * x(0)
          var i = 1
          while (i < c.length) { dot += x(i) * c(i); xx += x(i) * x(i); i += 1 }
          1.0 - dot / (math.sqrt(xx) * norms(ci))
      }
    }

    def apply(x: Array[Double]): Int = {
      var best = 0
      var bestD = distance(x, 0)
      var ci = 1
      while (ci < cs.length) {
        val di = distance(x, ci)
        if (di < bestD) { best = ci; bestD = di }
        ci += 1
      }
      best
    }
  }

  /** A Lloyd run's result: the final centers and the last iteration's
    * per-cluster row counts (0 for an empty cluster; no counts when no
    * iteration ran).
    */
  final case class Fit(centers: Seq[Seq[Double]], counts: Seq[Long])

  /** One worker's per-cluster row counts and feature sums (cluster-major,
    * `dims` sums per cluster); merged element-wise in partition order.
    */
  private final case class Partial(counts: Array[Long], sums: Array[Double]) {
    def merge(o: Partial): Partial =
      Partial(counts.zip(o.counts).map { case (a, b) => a + b },
        sums.zip(o.sums).map { case (a, b) => a + b })
  }

  private final class LloydWorker(init: Seq[Seq[Double]], d: Distance)
      extends WorkerComputable[Array[Double], Fit, Partial] {
    def compute(rows: Iterator[Array[Double]], last: Option[Fit],
        ctx: IterationContext): Partial = {
      val centers = last.fold(init)(_.centers)
      val near = nearest(centers, d)
      val dims = init.head.length
      val counts = new Array[Long](centers.length)
      val sums = new Array[Double](centers.length * dims)
      rows.foreach { x =>
        val ci = near(x)
        counts(ci) += 1
        var i = 0
        while (i < dims) { sums(ci * dims + i) += x(i); i += 1 }
      }
      Partial(counts, sums)
    }
  }

  /** New center = the rounded mean of its cluster; an empty cluster keeps
    * its previous center (cannot happen on the pinned query surface;
    * guarded for library use).
    */
  private final class LloydMaster(init: Seq[Seq[Double]], roundDecimals: Int)
      extends MasterComputable[Fit, Partial] {
    def compute(results: Iterator[Partial], last: Option[Fit], ctx: IterationContext): Fit = {
      val p = results.next()
      val dims = init.head.length
      val centers = last.fold(init)(_.centers).zipWithIndex.map { case (old, ci) =>
        val n = p.counts(ci)
        if (n == 0) old
        else (0 until dims).map(i =>
          graft.functions.Rounding.roundTo(p.sums(ci * dims + i) / n, roundDecimals))
      }
      Fit(centers, p.counts.toSeq)
    }
  }

  /** Full Lloyd loop with per-iteration center rounding (determinism knob),
    * on the [[graft.core.Iterate]] kernel, so the CLI's `-c` caps it through
    * [[graft.core.IterationBudget]]. `features` must be non-null doubles;
    * `df` is read once into the kernel's cache (a `df` the caller persisted
    * is read from that cache and stays persisted), and like any kernel
    * input it needs at least one partition.
    */
  def lloyd(
      df: DataFrame,
      features: Seq[Column],
      init: Seq[Seq[Double]],
      iterations: Int,
      d: Distance,
      roundDecimals: Int = 6): Fit = {
    require(init.nonEmpty && init.forall(_.length == features.length),
      s"lloyd: every initial center needs ${features.length} coordinates")
    if (iterations <= 0) Fit(init, Nil)
    else {
      import df.sparkSession.implicits._
      val rows = df.select(array(features: _*).cast("array<double>")).as[Array[Double]]
      Iterate.run[Array[Double], Fit, Partial](
        rows, new LloydWorker(init, d), new LloydMaster(init, roundDecimals),
        maxIterations = iterations, combine = Some(_ merge _)).master
    }
  }

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
