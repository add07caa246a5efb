package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{IterationListener, IterationResult, Iterate}
import graft.operators.{GradientDescent, IterativeSum, NeuralNet}

/** One kernel call a pass makes into the engine; the body's result is kept
  * for the correctness check.
  */
final case class Call(name: String, body: () => IterationResult[_])

/** Per-iteration times from an [[IterationListener]] the benchmark passes
  * to `Iterate.run`.
  */
final class IterTimes extends IterationListener[Any] {
  val ms = mutable.ArrayBuffer.empty[Double]
  override def onIterationEnd(iteration: Int, master: Any, elapsedMillis: Long): Unit =
    ms += elapsedMillis.toDouble
}

object Workloads {
  val names: Seq[String] = Seq("train", "corpus")

  // guagua's default iteration budget (GuaguaConstants: 50).
  val Iterations = 50
  val Seed = 42L
  val NnHidden = 16
  val NnLearnRate = 1e-5
  val LrLearnRate = 1.0

  // Timed passes per untraced run: one per this many seconds of `--seconds`,
  // at least one. A pass of either workload takes about this long on a
  // 4-core host, so a run measures for about `--seconds`.
  val NominalPassS = 12.5

  def passes(seconds: Double): Int = math.max(1, math.round(seconds / NominalPassS).toInt)

  /** The declared queries each pass runs. Each list is the part of the
    * workload's query family that one run can afford (README: "Workloads");
    * together they keep every layer and mechanism the family exercises.
    */
  val queries: Map[String, Seq[String]] = Map(
    "train" -> Seq("k1_lr_loop", "q9_kmeans_loop"),
    "corpus" -> Seq("p1_clean_corpus", "d7_dup_clusters", "d17_containment", "t29_winnowing"))

  val kernels: Map[String, Seq[String]] =
    Map("train" -> Seq("lr", "nn", "sum"), "corpus" -> Nil)

  /** Stage sharing per pass: on where the workload's queries consume
    * Materialize stages (`corpus`), off for `train`, whose loops declare none.
    */
  def materialize(workload: String): Boolean = workload != "train"

  private def points(spark: SparkSession, dir: String): DataFrame = Tables.load(spark, dir, "points")

  def lrData(spark: SparkSession, dir: String): Dataset[GradientDescent.LabeledPoint] =
    points(spark, dir).select(col("features"), col("label"))
      .as(Encoders.product[GradientDescent.LabeledPoint])

  def nnData(spark: SparkSession, dir: String): Dataset[NeuralNet.Sample] =
    points(spark, dir).select(expr("slice(features, 2, size(features) - 1)").as("features"),
      col("label"), col("id").as("splitKey")).as(Encoders.product[NeuralNet.Sample])

  def sumData(spark: SparkSession, dir: String): Dataset[Long] =
    points(spark, dir).select(col("id")).as(Encoders.scalaLong)

  /** Feature count of the points table, bias included (one untimed job). */
  def dims(spark: SparkSession, dir: String): Int =
    points(spark, dir).select(size(col("features"))).head().getInt(0)

  def runLr(data: Dataset[GradientDescent.LabeledPoint], dims: Int,
      listeners: Seq[IterationListener[GradientDescent.GDState]])
      : IterationResult[GradientDescent.GDState] =
    Iterate.run[GradientDescent.LabeledPoint, GradientDescent.GDState, GradientDescent.GradPayload](
      data, new GradientDescent.Worker(GradientDescent.Sigmoid, dims),
      new GradientDescent.Master(dims, LrLearnRate, Seed, averageGradient = true),
      maxIterations = Iterations, combine = Some((a, b) => a.merge(b)), listeners = listeners)

  def nnLayers(dims: Int): NeuralNet.Layers = NeuralNet.Layers(Seq(dims - 1, NnHidden, 1))

  def runNn(data: Dataset[NeuralNet.Sample], dims: Int,
      listeners: Seq[IterationListener[NeuralNet.NNState]]): IterationResult[NeuralNet.NNState] = {
    val layers = nnLayers(dims)
    Iterate.run[NeuralNet.Sample, NeuralNet.NNState, NeuralNet.NNGrad](
      data, new NeuralNet.Worker(layers),
      new NeuralNet.Master(layers, new NeuralNet.GradientDescentUpdate(NnLearnRate), Seed),
      maxIterations = Iterations, combine = Some((a, b) => a.merge(b)), listeners = listeners)
  }

  def runSum(data: Dataset[Long], listeners: Seq[IterationListener[Long]]): IterationResult[Long] =
    Iterate.run[Long, Long, Long](data, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = Iterations, combine = Some(_ + _), listeners = listeners)

  /** The kernel calls of one pass over `dir`; each reports its iterations
    * to the listeners `iters` gives for its name.
    */
  def kernelCalls(spark: SparkSession, workload: String, dir: String, dims: Int,
      iters: String => Seq[IterationListener[Any]]): Seq[Call] = {
    def ls[M](k: String): Seq[IterationListener[M]] =
      iters(k).map(_.asInstanceOf[IterationListener[M]])
    kernels(workload).map {
      case "lr" => Call("lr", () => runLr(lrData(spark, dir), dims, ls("lr")))
      case "nn" => Call("nn", () => runNn(nnData(spark, dir), dims, ls("nn")))
      case "sum" => Call("sum", () => runSum(sumData(spark, dir), ls("sum")))
    }
  }
}

/** Single-threaded references for the kernel calls: the correctness check
  * compares each kernel result against these.
  */
object References {
  /** LR-GD as a plain driver loop over the collected points, replaying the
    * GradientDescent master/worker protocol: iteration 1 draws the seeded
    * weights, each later iteration takes one averaged-gradient step.
    */
  def lr(points: Array[GradientDescent.LabeledPoint], dims: Int): Array[Double] = {
    val rnd = new scala.util.Random(Workloads.Seed)
    val w = Array.fill(dims)(rnd.nextDouble())
    for (_ <- 2 to Workloads.Iterations) {
      val grad = new Array[Double](dims)
      points.foreach { p =>
        var z = 0.0
        var i = 0
        while (i < dims) { z += w(i) * p.features(i); i += 1 }
        val err = GradientDescent.Sigmoid(z) - p.label
        i = 0
        while (i < dims) { grad(i) += err * p.features(i); i += 1 }
      }
      val scale = Workloads.LrLearnRate / points.length
      var i = 0
      while (i < dims) { w(i) -= scale * grad(i); i += 1 }
    }
    w
  }

  /** Largest element-wise difference relative to max(1, |expected|). */
  def relDiff(got: Array[Double], want: Array[Double]): Double =
    if (got.length != want.length) Double.PositiveInfinity
    else got.zip(want).map { case (g, w) =>
      val d = math.abs(g - w) / math.max(1.0, math.abs(w))
      if (d.isNaN) Double.PositiveInfinity else d
    }.foldLeft(0.0)(math.max)
}
