package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** k4's kernel-parity and surface checks (the k1/GradientDescentSpec
  * pattern): the distributed training loop must equal a sequential
  * driver-side replay of the same arithmetic — proving the per-iteration
  * aggregate really is the C4 full-batch averaged gradient and not an
  * approximation of it — plus the mechanical properties the oracle's hash
  * can't localize when they break.
  */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Sequential replay of `iterations` training steps: same features
    * collected once, same quantized-mean gradient (exactAvg's scaled-long
    * fold at grid 1e-10), same round-6 weight update.
    */
  private def replay(f: org.apache.spark.sql.DataFrame, iterations: Int): Seq[Double] = {
    val rows = f.collect().map { r =>
      (r.getBoolean(1), Array(r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6)))
    }
    var w = Array.fill(5)(0.0)
    for (_ <- 1 to iterations) {
      val sums = Array.fill(5)(0L)
      for ((isRef, fs) <- rows) {
        val z = (0 until 5).map(j => w(j) * fs(j)).sum
        val err = 1.0 / (1.0 + math.exp(-z)) - (if (isRef) 1.0 else 0.0)
        // HALF_UP at scale 0, exactly Spark's round(double) — math.rint
        // would be half-EVEN and diverge on scaled half-integers.
        for (j <- 0 until 5)
          sums(j) += graft.functions.Rounding.roundTo(err * fs(j) * 1e10, 0).toLong
      }
      val n = rows.length
      val g = sums.map(s => graft.functions.Rounding.roundTo(s.toDouble / n / 1e10, 6))
      w = w.zip(g).map { case (wi, gi) => graft.functions.Rounding.roundTo(wi - gi, 6) }
    }
    w.toSeq
  }

  test("distributed training equals a sequential replay of the same arithmetic") {
    val f = K4QualityClassifier.features(spark, TestSpark.sf0001).cache()
    val distributed = K4QualityClassifier.trainedWeights(f)
    // Any divergence means the distributed aggregate is not the arithmetic
    // it claims.
    val w = replay(f, K4QualityClassifier.iterations)
    f.unpersist()
    assert(distributed == w,
      s"distributed $distributed != sequential replay $w")
  }

  test("the CLI's -c cap reaches the training loop") {
    val f = K4QualityClassifier.features(spark, TestSpark.sf0001).cache()
    val full = K4QualityClassifier.trainedWeights(f)
    val capped = graft.core.IterationBudget.withCap(Some(1)) {
      K4QualityClassifier.trainedWeights(f)
    }
    val one = replay(f, 1)
    f.unpersist()
    assert(capped != full, "-c 1 left the weights of the full run")
    assert(capped == one, s"capped $capped != a 1-iteration run $one")
  }

  test("training moved the weights and scores are calibrated probabilities") {
    val out = K4QualityClassifier.run(spark, TestSpark.sf0001).collect()
    assert(out.nonEmpty)
    // Scores are probabilities on the 1e-6 grid.
    assert(out.forall { r => val s = r.getDouble(2); s >= 0.0 && s <= 1.0 })
    // The classifier is not the degenerate w=0 scorer (which gives exactly
    // 0.5 everywhere): training must have moved at least one weight.
    assert(out.map(_.getDouble(2)).distinct.length > 1,
      "every score identical — training left w at 0")
    // pred_ref is the 0.5 threshold of the SURFACED (rounded) score.
    assert(out.forall(r => r.getBoolean(3) == (r.getDouble(2) >= 0.5)))
  }

  test("k4 and t19 rank from one trusted-slice definition") {
    // The discriminative filter trains against EXACTLY the slice the
    // generative filter trains on — the two-filters-one-reference contract
    // the scaladoc claims. A drifted refSources list breaks this, not the
    // oracle hash.
    val f = K4QualityClassifier.features(spark, TestSpark.sf0001)
    val nRef = f.filter(org.apache.spark.sql.functions.col("is_ref")).count()
    val expected = graft.Tables.documents(spark, TestSpark.sf0001)
      .filter(org.apache.spark.sql.functions.col("source")
        .isin(T19LmFilter.refSources: _*)).count()
    assert(nRef == expected && nRef > 0)
  }
}
