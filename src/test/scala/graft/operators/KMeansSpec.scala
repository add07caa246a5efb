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
