package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._
import graft.operators.NeuralNet._

/** The per-sample forward/backprop and worker loop as they were before
  * [[NeuralNet.Kernel]], copied verbatim: the reference the kernel must
  * match bit for bit.
  */
object ReferenceNN {

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Forward pass; returns per-layer activations (a(0) = input). */
  def forward(layers: Layers, w: Array[Double], x: Array[Double])
      : Array[Array[Double]] = {
    val acts = new Array[Array[Double]](layers.sizes.length)
    acts(0) = x
    var off = 0
    var l = 0
    while (l < layers.sizes.length - 1) {
      val in = layers.sizes(l)
      val out = layers.sizes(l + 1)
      val a = new Array[Double](out)
      var j = 0
      while (j < out) {
        var z = w(off + j * (in + 1) + in) // bias
        var i = 0
        while (i < in) { z += w(off + j * (in + 1) + i) * acts(l)(i); i += 1 }
        a(j) = sigmoid(z)
        j += 1
      }
      acts(l + 1) = a
      off += (in + 1) * out
      l += 1
    }
    acts
  }

  /** Backprop for one sample; accumulates d(loss)/dw into `grad`.
    * Loss = Σ (y − a)² / 2 (the reference's error accumulation shape,
    * NNWorker error += err²/2 like its LR sibling).
    */
  def backprop(
      layers: Layers, w: Array[Double], s: Sample, grad: Array[Double]): Double = {
    val acts = forward(layers, w, s.features)
    val L = layers.sizes.length - 1
    val out = acts(L)
    var delta = new Array[Double](out.length)
    var err = 0.0
    var j = 0
    while (j < out.length) {
      val e = out(j) - s.label // single-output label broadcast to each unit
      err += e * e / 2
      delta(j) = e * out(j) * (1 - out(j))
      j += 1
    }
    // layer offsets
    val offs = new Array[Int](L)
    var acc = 0
    var l = 0
    while (l < L) {
      offs(l) = acc; acc += (layers.sizes(l) + 1) * layers.sizes(l + 1); l += 1
    }
    l = L - 1
    while (l >= 0) {
      val in = layers.sizes(l)
      val outN = layers.sizes(l + 1)
      val prev = acts(l)
      val nextDelta = new Array[Double](in)
      var jj = 0
      while (jj < outN) {
        val rowOff = offs(l) + jj * (in + 1)
        var i = 0
        while (i < in) {
          grad(rowOff + i) += delta(jj) * prev(i)
          nextDelta(i) += delta(jj) * w(rowOff + i)
          i += 1
        }
        grad(rowOff + in) += delta(jj) // bias
        jj += 1
      }
      if (l > 0) {
        var i = 0
        while (i < in) { nextDelta(i) *= prev(i) * (1 - prev(i)); i += 1 }
      }
      delta = nextDelta
      l -= 1
    }
    err
  }

  final class ReferenceWorker(layers: Layers) extends WorkerComputable[Sample, NNState, NNGrad] {
    def compute(records: Iterator[Sample], last: Option[NNState],
        ctx: IterationContext): NNGrad = last match {
      case None => NNGrad(Array.empty, 0.0, 0.0, 0L, 0L)
      case Some(st) =>
        val grad = new Array[Double](st.weights.length)
        var trainErr = 0.0
        var testErr = 0.0
        var nTrain = 0L
        var nTest = 0L
        while (records.hasNext) {
          val s = records.next()
          if (isTrain(s.splitKey)) {
            trainErr += backprop(layers, st.weights, s, grad)
            nTrain += 1
          } else {
            val out = forward(layers, st.weights, s.features).last
            var e = 0.0
            var j = 0
            while (j < out.length) { val d = out(j) - s.label; e += d * d / 2; j += 1 }
            testErr += e
            nTest += 1
          }
        }
        NNGrad(grad, trainErr, testErr, nTrain, nTest)
    }
  }
}

/** Bit-identity of [[NeuralNet.Kernel]] against [[ReferenceNN]]: same
  * gradient bits, same error sums and counts, per worker call and after
  * distributed training.
  */
class NeuralNetKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // One and two hidden layers, one and two outputs, widths from 1 to 19.
  private val shapes = Seq(Seq(2, 3, 1), Seq(19, 16, 1), Seq(3, 5, 1), Seq(4, 9, 1), Seq(5, 7, 6, 2))

  private def samples(rnd: Random, in: Int, n: Int): Seq[Sample] =
    (0 until n).map { _ =>
      Sample(Array.fill(in)(rnd.nextGaussian()), if (rnd.nextBoolean()) 1.0 else 0.0, rnd.nextLong())
    }

  test("worker compute is bit-identical to the reference loop, train and test rows mixed") {
    val rnd = new Random(17)
    val ctx = IterationContext(2, 2, "kernel-spec")
    for (sizes <- shapes; round <- 0 until 3) {
      val layers = Layers(sizes)
      val st = NNState(Array.fill(layers.nWeights)(rnd.nextDouble() * 4 - 2), 0.0, 0.0)
      val data = samples(rnd, sizes.head, 200)
      assert(data.exists(s => isTrain(s.splitKey)) && data.exists(s => !isTrain(s.splitKey)))
      val want = new ReferenceNN.ReferenceWorker(layers).compute(data.iterator, Some(st), ctx)
      val got = new Worker(layers).compute(data.iterator, Some(st), ctx)
      val what = s"layers ${sizes.mkString("-")}, round $round"
      assert(java.util.Arrays.equals(got.grad, want.grad), what)
      assert(got.trainErr == want.trainErr, what)
      assert(got.testErr == want.testErr, what)
      assert(got.nTrain == want.nTrain, what)
      assert(got.nTest == want.nTest, what)
    }
  }

  test("forward and backprop wrappers are bit-identical to the reference") {
    val rnd = new Random(23)
    for (sizes <- shapes) {
      val layers = Layers(sizes)
      val w = Array.fill(layers.nWeights)(rnd.nextDouble() * 2 - 1)
      for (s <- samples(rnd, sizes.head, 20)) {
        val want = ReferenceNN.forward(layers, w, s.features)
        val got = forward(layers, w, s.features)
        assert(got.length == want.length)
        want.indices.foreach(l => assert(java.util.Arrays.equals(got(l), want(l)), s"layer $l"))
        val gWant = new Array[Double](w.length)
        val gGot = new Array[Double](w.length)
        assert(backprop(layers, w, s, gGot) == ReferenceNN.backprop(layers, w, s, gWant))
        assert(java.util.Arrays.equals(gGot, gWant))
      }
    }
  }

  test("NeuralNet.train over 4 partitions: weights bit-identical to Iterate.run with the reference worker") {
    val layers = Layers(Seq(5, 7, 6, 2))
    val ds = spark.createDataset(samples(new Random(29), 5, 2000)).repartition(4).persist()
    try {
      val got = NeuralNet.train(ds, layers, iterations = 20, learnRate = 0.05, seed = 3L)
      val want = Iterate.run[Sample, NNState, NNGrad](
        ds,
        new ReferenceNN.ReferenceWorker(layers),
        new Master(layers, new GradientDescentUpdate(0.05), 3L),
        maxIterations = 20,
        combine = Some((a, b) => a.merge(b)))
      assert(got.iterations == 20 && want.iterations == 20)
      assert(java.util.Arrays.equals(got.master.weights, want.master.weights))
      assert(got.master.trainError == want.master.trainError)
      assert(got.master.testError == want.master.testError)
    } finally ds.unpersist()
  }
}
