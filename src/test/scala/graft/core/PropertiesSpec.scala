package graft.core

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.GradientDescent.GradPayload
import graft.operators.IterativeSum
import graft.operators.NeuralNet.NNGrad

/** The properties the reference's `Combinable` contract assumes but never
  * tests (SURVEY §5): every combiner handed to the kernel must be
  * associative and commutative up to floating-point reassociation (exact on
  * longs; tolerant on doubles). The kernel folds in partition order in both
  * barrier modes, so it only needs associativity; commutativity is checked
  * because the reference's master merges in arrival order.
  */
object CombinerProperties extends Properties("combiners") {

  private val genGrad: Gen[GradPayload] = for {
    g <- Gen.listOfN(4, Gen.chooseNum(-1e6, 1e6))
    e <- Gen.chooseNum(0.0, 1e6)
    n <- Gen.chooseNum(0L, 1000000L)
  } yield GradPayload(g.toArray, e, n)

  private def approxEq(a: GradPayload, b: GradPayload): Boolean =
    a.n == b.n && math.abs(a.error - b.error) <= 1e-6 * (1 + math.abs(a.error)) &&
      a.grad.length == b.grad.length &&
      a.grad.zip(b.grad).forall { case (x, y) => math.abs(x - y) <= 1e-6 * (1 + math.abs(x)) }

  property("GradPayload.merge associative (up to fp reassociation)") =
    forAll(genGrad, genGrad, genGrad) { (a, b, c) =>
      approxEq(a.merge(b).merge(c), a.merge(b.merge(c)))
    }

  property("GradPayload.merge commutative with empty identity") =
    forAll(genGrad, genGrad) { (a, b) =>
      val empty = GradPayload(Array.empty, 0.0, 0L)
      approxEq(a.merge(b), b.merge(a)) &&
        approxEq(a.merge(empty), a) && approxEq(empty.merge(a), a)
    }

  private val genNN: Gen[NNGrad] = for {
    g <- Gen.listOfN(6, Gen.chooseNum(-10.0, 10.0))
    t <- Gen.chooseNum(0.0, 100.0)
    n <- Gen.chooseNum(0L, 1000L)
  } yield NNGrad(g.toArray, t, t / 2, n, n + 1)

  property("NNGrad.merge associative on counts and gradients") =
    forAll(genNN, genNN, genNN) { (a, b, c) =>
      val l = a.merge(b).merge(c)
      val r = a.merge(b.merge(c))
      l.nTrain == r.nTrain && l.nTest == r.nTest &&
        l.grad.zip(r.grad).forall { case (x, y) => math.abs(x - y) < 1e-9 }
    }

  property("iterated-sum closed form equals the recurrence") =
    forAll(Gen.chooseNum(-1000L, 1000L), Gen.chooseNum(1, 8), Gen.chooseNum(0, 12)) {
      (total, p, n) =>
        var s = 0L
        (1 to n).foreach(_ => s = p * s + total)
        IterativeSum.closedForm(total, p, n) == s
    }

  property("long sum combine exactly associative+commutative (kernel default path)") =
    forAll { (a: Long, b: Long, c: Long) =>
      ((a + b) + c) == (a + (b + c)) && (a + b) == (b + a)
    }
}
