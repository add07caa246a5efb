package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def blobs = {
    val rnd = new Random(5)
    val centers = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(-10.0, 8.0))
    val pts = centers.flatMap { c =>
      Seq.fill(100)((c(0) + rnd.nextGaussian(), c(1) + rnd.nextGaussian()))
    }
    spark.createDataset(pts).toDF("x", "y").repartition(4)
  }

  test("lloyd recovers well-separated blob centers (squared-Euclidean)") {
    val got = KMeans.lloyd(blobs, Seq(col("x"), col("y")),
      init = Seq(Seq(1.0, 1.0), Seq(8.0, 8.0), Seq(-8.0, 6.0)),
      iterations = 5, d = KMeans.SquaredEuclidean).centers
    val want = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(-10.0, 8.0))
    got.zip(want).foreach { case (g, w) =>
      val dist = math.sqrt(g.zip(w).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(dist < 0.5, s"center drifted: $g vs $w")
    }
  }

  test("when-chain and array argmin agree (incl. tie-breaking to lower index)") {
    val centers = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(5.0, 5.0))
    val df = blobs
      // (5,5) is equidistant from centers 1 and 2 only in contrived spots;
      // add an exact-tie row: (2.5, 2.5) is equidistant from (0,0) and (5,5).
      .union(Seq((2.5, 2.5)).toDF("x", "y"))
    val feats = Seq(col("x"), col("y"))
    val both = df.select(
      KMeans.assign(feats, centers, KMeans.SquaredEuclidean).as("a"),
      KMeans.assignByArray(feats, centers, KMeans.SquaredEuclidean).as("b"))
    assert(both.filter(col("a") =!= col("b")).count() == 0)
    // The exact tie goes to the lower index in both implementations.
    val tie = Seq((2.5, 2.5)).toDF("x", "y").select(
      KMeans.assign(feats, centers, KMeans.SquaredEuclidean).as("a")).head().getInt(0)
    assert(tie == 0)
    // The Lloyd worker's plain-array argmin picks the same cluster, tie included.
    val near = KMeans.nearest(centers, KMeans.SquaredEuclidean)
    df.select(col("x"), col("y"),
      KMeans.assign(feats, centers, KMeans.SquaredEuclidean).as("a")).collect()
      .foreach(r => assert(near(Array(r.getDouble(0), r.getDouble(1))) == r.getInt(2)))
    assert(near(Array(2.5, 2.5)) == 0)
  }

  test("lloyd with Cosine equals a plain-Scala Lloyd loop on the blobs") {
    val df = blobs
    val init = Seq(Seq(1.0, 0.2), Seq(0.3, 1.0), Seq(-1.0, 0.5))
    val got = KMeans.lloyd(df, Seq(col("x"), col("y")), init, iterations = 4, d = KMeans.Cosine)
    // The reference folds each partition in row order and the partitions in
    // order, as the kernel's combiner does, so every sum is bit-equal.
    val parts = df.rdd.glom().collect().map(_.map(r => Array(r.getDouble(0), r.getDouble(1))))
    def cosDist(x: Array[Double], c: Seq[Double]): Double =
      1.0 - (x(0) * c(0) + x(1) * c(1)) /
        (math.sqrt(x(0) * x(0) + x(1) * x(1)) * math.sqrt(c(0) * c(0) + c(1) * c(1)))
    var centers = init
    var counts = Seq.empty[Long]
    for (_ <- 1 to 4) {
      val perPart = parts.map { rows =>
        val sums = Array.fill(3, 2)(0.0)
        val cnt = Array.fill(3)(0L)
        rows.foreach { x =>
          val ds = centers.map(cosDist(x, _))
          val ci = ds.indexOf(ds.min)
          cnt(ci) += 1
          sums(ci)(0) += x(0)
          sums(ci)(1) += x(1)
        }
        (cnt, sums)
      }
      val (cnt, sums) = perPart.reduce { (a, b) =>
        (a._1.zip(b._1).map { case (u, v) => u + v },
          a._2.zip(b._2).map { case (u, v) => u.zip(v).map { case (p, q) => p + q } })
      }
      centers = centers.indices.map { ci =>
        if (cnt(ci) == 0) centers(ci)
        else sums(ci).toSeq.map(s => graft.functions.Rounding.roundTo(s / cnt(ci), 6))
      }
      counts = cnt.toSeq
    }
    assert(got == KMeans.Fit(centers, counts))
    assert(counts.sum == 300L)
  }

  test("lloyd with zero iterations returns the initial centers and no counts") {
    val init = Seq(Seq(1.0, 1.0), Seq(8.0, 8.0))
    assert(KMeans.lloyd(blobs, Seq(col("x"), col("y")), init, iterations = 0,
      d = KMeans.SquaredEuclidean) == KMeans.Fit(init, Nil))
  }

  test("lloyd leaves no cache of its own and keeps the caller's") {
    val sc = spark.sparkContext
    val mine = blobs.persist()
    mine.count()
    val before = sc.getPersistentRDDs.keySet
    KMeans.lloyd(mine, Seq(col("x"), col("y")), Seq(Seq(1.0, 1.0), Seq(8.0, 8.0)),
      iterations = 2, d = KMeans.SquaredEuclidean)
    assert(sc.getPersistentRDDs.keySet == before,
      s"lloyd left caches: ${sc.getPersistentRDDs.keySet -- before}")
    assert(mine.storageLevel.useMemory, "lloyd unpersisted the caller's frame")
    mine.unpersist(blocking = true)
    ()
  }

  test("cosine distance matches a scalar reference implementation") {
    val centers = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val pts = Seq((3.0, 1.0), (1.0, 3.0), (2.0, 2.0))
    val got = spark.createDataset(pts).toDF("x", "y")
      .select(col("x"), col("y"),
        KMeans.distanceTo(Seq(col("x"), col("y")), centers.head, KMeans.Cosine).as("d0"))
      .collect()
    got.foreach { r =>
      val (x, y) = (r.getDouble(0), r.getDouble(1))
      val want = 1.0 - x / math.sqrt(x * x + y * y)
      assert(math.abs(r.getDouble(2) - want) < 1e-12)
    }
  }

  test("empty cluster keeps its previous center in lloyd") {
    val df = Seq((0.0, 0.0), (1.0, 1.0)).toDF("x", "y")
    val got = KMeans.lloyd(df, Seq(col("x"), col("y")),
      init = Seq(Seq(0.5, 0.5), Seq(1000.0, 1000.0)),
      iterations = 2, d = KMeans.SquaredEuclidean).centers
    assert(got(1) == Seq(1000.0, 1000.0))
  }
}
