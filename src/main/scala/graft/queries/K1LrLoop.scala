package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.array

import graft.Tables
import graft.core.{Iterate, IterationContext, MasterComputable, WorkerComputable}
import graft.operators.GradientDescent.GradPayload
import graft.operators.KMeans.sqlLit

/** k1: the FULL logistic-regression training loop (reference C4,
  * LogisticRegressionMaster/Worker) — 5 averaged-gradient steps over the
  * lineitem feature projection, on the [[graft.core.Iterate]] kernel.
  *
  * The oracle is the loop UNROLLED into chained CTEs: each iteration's
  * 1-row weights relation cross-joins into the next gradient aggregate
  * (the q9 pattern applied to gradient descent). Determinism contract:
  * per-iteration gradients round to 6 decimals and weights to 6 decimals on
  * BOTH sides, so summation-order noise cannot drift the trajectories.
  *
  * The features and the label are projected once into one `array<double>`
  * column, which the kernel persists; per iteration each worker folds its
  * cached partition into Σ err·fⱼ and a row count given the weights in the
  * kernel's broadcast, and the master folds the partitions in order — the
  * whole training loop moves O(dims) data per pass and plans once.
  *
  * `GradientDescent.Worker` is not reused: its iteration 1 only initializes
  * the weights, so 5 steps would take 6 kernel iterations and `-c n` would
  * cap k1 at n − 1 steps; its sigmoid also uses `math.exp`, where Spark's
  * (and so the oracle-pinned) `exp` is `StrictMath.exp`.
  */
object K1LrLoop extends GraftQuery {
  val name = "k1_lr_loop"
  val describe = "full LR training loop: 5 averaged-gradient steps, oracle = unrolled CTE chain"

  private val iterations = 5
  // lr = 1.0 keeps every weight update ON the 1e-6 rounding grid (w − g of
  // two 6-decimal values). A fractional lr like 0.5 would park updates
  // exactly on x.xxxxxx5 half-grid boundaries whenever the gradient's last
  // digit is odd — and which way such a boundary rounds then depends on
  // each engine's binary fuzz (observed: 2 of 25 weights flipping 1e-6).
  private val lr = 1.0
  private val w0 = Seq(0.0, 0.0, 0.0, 0.0, 0.0)
  private val dims = w0.length

  private def round6(x: Double): Double = graft.functions.Rounding.roundTo(x, 6)

  /** Σ err·fⱼ and the row count over one partition of `f0..f4, y` rows, at
    * the last weights. z sums `zExpr`'s terms left to right and err is
    * `sigmoidResidual`'s, so each row's doubles equal the SQL twin's. The
    * payload's `error` stays 0: k1 reports no loss.
    */
  private final class Worker extends WorkerComputable[Array[Double], Seq[Double], GradPayload] {
    def compute(rows: Iterator[Array[Double]], last: Option[Seq[Double]],
        ctx: IterationContext): GradPayload = {
      val w = last.getOrElse(w0).toArray
      val grad = new Array[Double](dims)
      var n = 0L
      rows.foreach { r =>
        var z = r(0) * w(0)
        var j = 1
        while (j < dims) { z += r(j) * w(j); j += 1 }
        val err = 1.0 / (1.0 + StrictMath.exp(-z)) - r(dims)
        j = 0
        while (j < dims) { grad(j) += err * r(j); j += 1 }
        n += 1
      }
      GradPayload(grad, 0.0, n)
    }
  }

  /** w ← round6(w − lr · round6(Σ / n)), the oracle's update. */
  private object Master extends MasterComputable[Seq[Double], GradPayload] {
    def compute(results: Iterator[GradPayload], last: Option[Seq[Double]],
        ctx: IterationContext): Seq[Double] = {
      val total = results.next()
      last.getOrElse(w0).zip(total.grad).map { case (wi, gi) =>
        round6(wi - lr * round6(gi / total.n))
      }
    }
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import LineitemFeatures._
    import spark.implicits._
    val rows = Tables.lineitem(spark, sfDir)
      .select(array(gradCols :+ labelCol: _*)).as[Array[Double]]
    val w = Iterate.run[Array[Double], Seq[Double], GradPayload](
      rows, new Worker, Master, maxIterations = iterations,
      combine = Some(_ merge _)).master
    Seq((w(0), w(1), w(2), w(3), w(4)))
      .toDF("w0", "w1", "w2", "w3", "w4")
  }

  val oracle = {
    import LineitemFeatures._
    val sb = new StringBuilder
    sb ++= s"WITH w0(${(0 until dims).map(i => s"w$i").mkString(", ")}) AS (VALUES (${w0.map(sqlLit).mkString(", ")}))"
    for (it <- 1 to iterations) {
      val err = sigmoidResidualSql(zSql((0 until dims).map(j => s"w.w$j")))
      val gCols = gradSql.zipWithIndex
        .map { case (f, j) => s"round(sum(($err) * $f) / count(*), 6) AS g$j" }
        .mkString(", ")
      sb ++= s",\ng$it AS (SELECT $gCols FROM lineitem CROSS JOIN w${it - 1} w)"
      val wCols = (0 until dims)
        .map(j => s"round(w.w$j - ${sqlLit(lr)} * g.g$j, 6) AS w$j").mkString(", ")
      sb ++= s",\nw$it AS (SELECT $wCols FROM w${it - 1} w CROSS JOIN g$it g)"
    }
    sb ++= s"\nSELECT ${(0 until dims).map(i => s"w$i").mkString(", ")} FROM w$iterations"
    Some(sb.toString)
  }
}
