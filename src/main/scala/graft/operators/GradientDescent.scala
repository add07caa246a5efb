package graft.operators

import scala.util.Random

import org.apache.spark.sql.Dataset

import graft.core._

/** Batch gradient descent (logistic / linear) on the [[graft.core.Iterate]]
  * kernel — the reference's C4/C5 algorithms
  * (lr/LogisticRegressionWorker.java:108-165, LogisticRegressionMaster.java:78-108,
  * lnr/LinearRegressionWorker.java:54-110, LinearRegressionMaster.java:43-76)
  * with their exact per-iteration protocol:
  *
  *   iteration 1:  master initializes weights (reference: unseeded
  *                 `RANDOM.nextDouble()`, LogisticRegressionMaster.java:103-108
  *                 — here seeded, the documented determinism upgrade);
  *                 workers emit an empty result.
  *   iteration i:  worker: err = link(w·x) − y per cached record;
  *                 grad += err·x; error += err²/2  (sigmoid at
  *                 LogisticRegressionWorker.java:131-139).
  *                 master: w −= η · Σ_p grad_p  (the reference sums worker
  *                 gradients without dividing by n — its own FIXME at
  *                 LogisticRegressionMaster.java:44-45; we reproduce that
  *                 default and expose `averageGradient` to fix it).
  *
  * Worker results are combinable (element-wise add): the driver adds the
  * partitions' (dims+2)-double results in partition order, so the master
  * sees one sum and reruns are bit-identical.
  */
object GradientDescent {

  /** features must already carry the bias term (reference prepends 1.0 at
    * load, LogisticRegressionWorker.java:155).
    */
  final case class LabeledPoint(features: Array[Double], label: Double)

  /** Combinable worker payload ≙ LogisticRegressionParams (gradients+error). */
  final case class GradPayload(grad: Array[Double], error: Double, n: Long) {
    def merge(o: GradPayload): GradPayload = {
      if (grad.isEmpty) o
      else if (o.grad.isEmpty) this
      else {
        val g = new Array[Double](grad.length)
        var i = 0
        while (i < g.length) { g(i) = grad(i) + o.grad(i); i += 1 }
        GradPayload(g, error + o.error, n + o.n)
      }
    }
  }

  final case class GDState(weights: Array[Double], iterationError: Double)

  sealed trait Link extends Serializable { def apply(z: Double): Double }
  case object Sigmoid extends Link { def apply(z: Double): Double = 1.0 / (1.0 + math.exp(-z)) }
  case object Identity extends Link { def apply(z: Double): Double = z }

  final class Worker(link: Link, dims: Int)
      extends WorkerComputable[LabeledPoint, GDState, GradPayload] {
    def compute(records: Iterator[LabeledPoint], last: Option[GDState],
        ctx: IterationContext): GradPayload = {
      last match {
        case None => GradPayload(Array.empty, 0.0, 0L) // iteration 1: no weights yet
        case Some(st) =>
          val w = st.weights
          val grad = new Array[Double](dims)
          var error = 0.0
          var n = 0L
          while (records.hasNext) {
            val p = records.next()
            var z = 0.0
            var i = 0
            while (i < dims) { z += w(i) * p.features(i); i += 1 }
            val err = link(z) - p.label
            error += err * err / 2
            i = 0
            while (i < dims) { grad(i) += err * p.features(i); i += 1 }
            n += 1
          }
          GradPayload(grad, error, n)
      }
    }
  }

  final class Master(dims: Int, learnRate: Double, seed: Long, averageGradient: Boolean)
      extends MasterComputable[GDState, GradPayload] {
    def compute(results: Iterator[GradPayload], last: Option[GDState],
        ctx: IterationContext): GDState = last match {
      case None =>
        val rnd = new Random(seed)
        GDState(Array.fill(dims)(rnd.nextDouble()), Double.MaxValue)
      case Some(st) =>
        val total = results.reduce(_ merge _)
        val w = st.weights.clone()
        val scale = if (averageGradient && total.n > 0) learnRate / total.n else learnRate
        var i = 0
        while (i < dims) { w(i) -= scale * total.grad(i); i += 1 }
        GDState(w, if (total.n > 0) total.error / total.n else 0.0)
    }
  }

  /** Run the loop. `iterations` counts like the reference: iteration 1 is
    * weight init, so `iterations = n` performs n−1 actual gradient steps.
    */
  def run(
      data: Dataset[LabeledPoint],
      dims: Int,
      link: Link,
      iterations: Int = 20,
      learnRate: Double = 1.0,
      seed: Long = 42L,
      averageGradient: Boolean = false,
      convergeBelow: Double = 0.0): IterationResult[GDState] =
    Iterate.run[LabeledPoint, GDState, GradPayload](
      data,
      new Worker(link, dims),
      new Master(dims, learnRate, seed, averageGradient),
      maxIterations = iterations,
      halt = (m: GDState) => m.iterationError < convergeBelow,
      combine = Some((a, b) => a.merge(b)))
}
