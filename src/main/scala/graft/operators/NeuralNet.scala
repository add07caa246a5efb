package graft.operators

import scala.util.Random

import org.apache.spark.sql.Dataset

import graft.core._

/** Distributed feed-forward NN training (reference C6: the Encog-based
  * trainer, guagua-examples/.../nn/NNWorker.java:110-232,
  * NNMaster.java:64-149, Gradient.java, Weight.java) re-expressed on the
  * [[graft.core.Iterate]] kernel:
  *
  *   iteration 1:  master builds the network and seeded initial weights
  *                 (NNMaster.java:64-90; the reference's unseeded init is
  *                 seeded here — the documented determinism upgrade);
  *                 workers emit an empty result.
  *   iteration i:  workers run one epoch of forward+backprop over their
  *                 cached train split, emitting summed gradients +
  *                 train/test error + counts (NNWorker.java:146-178);
  *                 master folds gradients and applies the weight update
  *                 (NNMaster.java:101-112 uses Encog quickprop; we default
  *                 to plain gradient descent — the quickprop internals are
  *                 Encog implementation detail, not public semantics — and
  *                 keep the update pluggable).
  *
  * The train/test split is a deterministic hash of a caller-supplied record
  * key, replacing `Math.random()` at NNWorker.java:224-230 (SURVEY Q10).
  *
  * Architecture: fully-connected, sigmoid activations, squared-error loss —
  * matching the reference's default network shape (input → hidden → output,
  * NNMaster.java:127-149). Weights layout: layer l maps in(l)+1 inputs
  * (bias last) to out(l) units.
  *
  * All of the arithmetic lives in one [[NeuralNet.Kernel]], built once per
  * worker compute call; it allocates nothing per sample and is bit-identical
  * to a plain per-sample forward/backprop loop (see its contract), so
  * weights depend only on the input and its partitioning.
  */
object NeuralNet {

  /** (features, label, splitKey) — splitKey drives the train/test hash. */
  final case class Sample(features: Array[Double], label: Double, splitKey: Long)

  final case class Layers(sizes: Seq[Int]) {
    require(sizes.length >= 2, "need at least input and output layer")
    def nWeights: Int =
      sizes.sliding(2).map { case Seq(in, out) => (in + 1) * out }.sum
  }

  final case class NNState(
      weights: Array[Double],
      trainError: Double,
      testError: Double)

  final case class NNGrad(
      grad: Array[Double],
      trainErr: Double,
      testErr: Double,
      nTrain: Long,
      nTest: Long) {
    def merge(o: NNGrad): NNGrad = {
      if (grad.isEmpty) o
      else if (o.grad.isEmpty) this
      else {
        val g = new Array[Double](grad.length)
        var i = 0
        while (i < g.length) { g(i) = grad(i) + o.grad(i); i += 1 }
        NNGrad(g, trainErr + o.trainErr, testErr + o.testErr, nTrain + o.nTrain, nTest + o.nTest)
      }
    }
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** The worker's arithmetic: forward pass and backprop for one network
    * and one weight vector, built once per [[Worker]] compute call and then
    * run per sample without allocating. It holds the layer sizes and weight
    * offsets as arrays, plus one activation and one delta buffer per layer,
    * so a kernel is single-threaded and its [[activations]] are overwritten
    * by the next sample.
    *
    * Bit-identity contract: every floating-point operation happens in the
    * same order as in a plain loop that computes one unit at a time into
    * fresh arrays per sample (NeuralNetKernelSpec keeps that loop as its
    * reference), so gradients, errors and trained weights match it bit for
    * bit: each `z` starts at the unit's bias and adds `w·a` in input order,
    * and backprop keeps the `(unit, input)` update order. The kernel skips
    * only layer 0's input deltas, which nothing reads.
    */
  private[operators] final class Kernel(layers: Layers, w: Array[Double]) {
    require(w.length == layers.nWeights,
      s"weights: ${w.length} values for a network of ${layers.nWeights}")
    private val sizes: Array[Int] = layers.sizes.toArray
    private val nLayers = sizes.length - 1
    private val offs: Array[Int] =
      sizes.sliding(2).map(p => (p(0) + 1) * p(1)).scanLeft(0)(_ + _).toArray
    /** Per-layer activations of the last sample; `activations(0)` is its input. */
    private[operators] val activations: Array[Array[Double]] =
      Array.tabulate(sizes.length)(l => new Array[Double](if (l == 0) 0 else sizes(l)))
    private val deltas: Array[Array[Double]] =
      Array.tabulate(sizes.length)(l => new Array[Double](if (l == 0) 0 else sizes(l)))

    /** Forward pass; returns the output layer's activations. */
    def forward(x: Array[Double]): Array[Double] = {
      activations(0) = x
      var l = 0
      while (l < nLayers) { forwardLayer(l); l += 1 }
      activations(nLayers)
    }

    private def forwardLayer(l: Int): Unit = {
      val in = sizes(l)
      val out = sizes(l + 1)
      val a = activations(l)
      val o = activations(l + 1)
      var j = 0
      while (j < out) {
        val r = offs(l) + j * (in + 1)
        var z = w(r + in) // bias
        var i = 0
        while (i < in) { z += w(r + i) * a(i); i += 1 }
        o(j) = sigmoid(z)
        j += 1
      }
    }

    /** Loss of one sample without training on it. */
    def error(s: Sample): Double = {
      val out = forward(s.features)
      var err = 0.0
      var j = 0
      while (j < out.length) { val e = out(j) - s.label; err += e * e / 2; j += 1 }
      err
    }

    /** Backprop for one sample; accumulates d(loss)/dw into `grad` and
      * returns the sample's loss. Loss = Σ (y − a)² / 2 (the reference's
      * error accumulation shape, NNWorker error += err²/2 like its LR
      * sibling); a single-output label is broadcast to each output unit.
      */
    def backprop(s: Sample, grad: Array[Double]): Double = {
      val out = forward(s.features)
      val dOut = deltas(nLayers)
      var err = 0.0
      var j = 0
      while (j < out.length) {
        val e = out(j) - s.label
        err += e * e / 2
        dOut(j) = e * out(j) * (1 - out(j))
        j += 1
      }
      var l = nLayers - 1
      while (l >= 0) {
        val in = sizes(l)
        val outN = sizes(l + 1)
        val prev = activations(l)
        val delta = deltas(l + 1)
        val next = deltas(l)
        val hasNext = l > 0 // layer 0's input deltas are never read
        if (hasNext) java.util.Arrays.fill(next, 0.0)
        var jj = 0
        while (jj < outN) {
          val rowOff = offs(l) + jj * (in + 1)
          val d = delta(jj)
          var i = 0
          while (i < in) {
            grad(rowOff + i) += d * prev(i)
            if (hasNext) next(i) += d * w(rowOff + i)
            i += 1
          }
          grad(rowOff + in) += d // bias
          jj += 1
        }
        if (hasNext) {
          var i = 0
          while (i < in) { next(i) *= prev(i) * (1 - prev(i)); i += 1 }
        }
        l -= 1
      }
      err
    }
  }

  /** Forward pass; returns per-layer activations (a(0) = input). */
  private[operators] def forward(layers: Layers, w: Array[Double], x: Array[Double])
      : Array[Array[Double]] = {
    val k = new Kernel(layers, w)
    k.forward(x)
    k.activations
  }

  /** Backprop for one sample; accumulates d(loss)/dw into `grad` and
    * returns the sample's loss (see [[Kernel.backprop]]).
    */
  private[operators] def backprop(
      layers: Layers, w: Array[Double], s: Sample, grad: Array[Double]): Double =
    new Kernel(layers, w).backprop(s, grad)

  /** Deterministic train/test membership (SURVEY Q10 semantics). */
  def isTrain(splitKey: Long): Boolean =
    ((splitKey * 2654435761L + 1013904223L) % 1000003L) % 2 == 0

  final class Worker(layers: Layers) extends WorkerComputable[Sample, NNState, NNGrad] {
    def compute(records: Iterator[Sample], last: Option[NNState],
        ctx: IterationContext): NNGrad = last match {
      case None => NNGrad(Array.empty, 0.0, 0.0, 0L, 0L)
      case Some(st) =>
        val kernel = new Kernel(layers, st.weights)
        val grad = new Array[Double](st.weights.length)
        var trainErr = 0.0
        var testErr = 0.0
        var nTrain = 0L
        var nTest = 0L
        while (records.hasNext) {
          val s = records.next()
          if (isTrain(s.splitKey)) {
            trainErr += kernel.backprop(s, grad)
            nTrain += 1
          } else {
            testErr += kernel.error(s)
            nTest += 1
          }
        }
        NNGrad(grad, trainErr, testErr, nTrain, nTest)
    }
  }

  /** Master-side weight update rule — the pluggable seam the reference fills
    * with Encog's quickprop trainer (NNMaster.java:101-112, Weight.java).
    * Implementations may carry per-weight state across iterations (they live
    * on the driver for the duration of one `train` call); use a fresh
    * instance per run.
    */
  trait WeightUpdate extends Serializable {
    /** Returns the NEW weight array given current weights and the summed
      * gradient (∂E/∂w) for this iteration.
      */
    def update(weights: Array[Double], grad: Array[Double]): Array[Double]
  }

  /** Plain batch gradient descent — the round-1 default. */
  final class GradientDescentUpdate(learnRate: Double) extends WeightUpdate {
    def update(w: Array[Double], g: Array[Double]): Array[Double] = {
      val nw = w.clone()
      var i = 0
      while (i < nw.length) { nw(i) -= learnRate * g(i); i += 1 }
      nw
    }
  }

  /** Quickprop (Fahlman 1988, "An Empirical Study of Learning Speed in
    * Back-Propagation Networks" — public literature, NOT a port of Encog's
    * internals). Per weight, with S = current slope, Sp = previous slope,
    * Dp = previous step:
    *
    *   - first step (or Dp = 0): plain gradient step −ε·S;
    *   - otherwise the secant/parabola jump  D = S/(Sp − S) · Dp  toward the
    *     quadratic's stationary point;
    *   - growth clamp: |D| ≤ μ·|Dp| (μ = 1.75 in the paper) — also used
    *     when Sp = S (flat secant, infinite jump);
    *   - while the current slope still descends along the previous step's
    *     direction (S·Dp < 0), add the first-order term −ε·S.
    */
  final class QuickpropUpdate(epsilon: Double, mu: Double = 1.75) extends WeightUpdate {
    private var prevGrad: Array[Double] = _
    private var prevStep: Array[Double] = _

    def update(w: Array[Double], g: Array[Double]): Array[Double] = {
      val nw = w.clone()
      val step = new Array[Double](w.length)
      var i = 0
      while (i < w.length) {
        val s = g(i)
        val d =
          if (prevStep == null || prevStep(i) == 0.0) -epsilon * s
          else {
            val sp = prevGrad(i)
            val dp = prevStep(i)
            val denom = sp - s
            var q =
              if (math.abs(denom) < java.lang.Double.MIN_NORMAL) mu * dp
              else (s / denom) * dp
            if (math.abs(q) > mu * math.abs(dp)) q = mu * math.abs(dp) * math.signum(q)
            if (s * dp < 0) q += -epsilon * s
            q
          }
        step(i) = d
        nw(i) = w(i) + d
        i += 1
      }
      prevGrad = g.clone()
      prevStep = step
      nw
    }
  }

  final class Master(layers: Layers, update: WeightUpdate, seed: Long)
      extends MasterComputable[NNState, NNGrad] {
    def compute(results: Iterator[NNGrad], last: Option[NNState],
        ctx: IterationContext): NNState = last match {
      case None =>
        val rnd = new Random(seed)
        NNState(Array.fill(layers.nWeights)(rnd.nextDouble() * 2 - 1), Double.MaxValue, Double.MaxValue)
      case Some(st) =>
        val total = results.reduce(_ merge _)
        NNState(update.update(st.weights, total.grad),
          if (total.nTrain > 0) total.trainErr / total.nTrain else 0.0,
          if (total.nTest > 0) total.testErr / total.nTest else 0.0)
    }
  }

  /** The reference's `nn.record.scale` load knob (NNWorker.java:219-220):
    * each loaded record is duplicated `scale` times — a data-volume lever
    * for load-testing a training config without generating new data. Spark
    * form: a flatMap at load, so the duplicates are created inside each
    * partition (no shuffle, no driver materialization) and partition sizing
    * scales exactly like real data would.
    */
  def scaleRecords(data: Dataset[Sample], scale: Int): Dataset[Sample] = {
    require(scale >= 1, s"record scale must be >= 1, got $scale")
    if (scale == 1) data
    else data.flatMap(s => Seq.fill(scale)(s))(
      org.apache.spark.sql.Encoders.product[Sample])
  }

  /** @param recordScale duplicate every record this many times at load —
    *   the reference's `nn.record.scale` ([[scaleRecords]]). Mean errors are
    *   invariant under duplication; summed gradients scale by the factor
    *   (same as the reference, whose workers also emit summed gradients over
    *   the duplicated records).
    */
  def train(
      data: Dataset[Sample],
      layers: Layers,
      iterations: Int = 50,
      learnRate: Double = 0.1,
      seed: Long = 42L,
      convergeBelow: Double = 0.0,
      update: Option[WeightUpdate] = None,
      recordScale: Int = 1): IterationResult[NNState] =
    Iterate.run[Sample, NNState, NNGrad](
      scaleRecords(data, recordScale),
      new Worker(layers),
      new Master(layers, update.getOrElse(new GradientDescentUpdate(learnRate)), seed),
      maxIterations = iterations,
      halt = (m: NNState) => m.trainError < convergeBelow,
      combine = Some((a, b) => a.merge(b)))
}
