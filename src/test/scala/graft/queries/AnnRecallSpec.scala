package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins s2's (sign-LSH ANN) recall against the exact baseline s1 on the
  * pinned query set, so future bucket/plane tuning cannot silently trade
  * recall away — the ANN analogue of SketchSpec's accuracy pins.
  *
  * Recall here = |s2 top-k ∩ s1 top-k| / |s1 top-k| over all pinned queries.
  * The floor is the measured sf0.001 value minus safety margin; the s2
  * scaladoc documents that recall is a function of the pinned seed's bucket
  * geometry (4 planes / 16 buckets at this corpus size).
  */
class AnnRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("s2 LSH recall vs exact s1 stays above the documented floor") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(S1AnnBrute.run(spark, TestSpark.sf0001))
    val approx = pairs(S2AnnLsh.run(spark, TestSpark.sf0001))
    assert(exact.nonEmpty)
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"s2 recall vs s1 at sf0.001: $recall%.3f (${(exact intersect approx).size}/${exact.size})")
    assert(recall >= 0.75, f"s2 recall $recall%.3f fell below the 0.75 floor")
  }

  test("IVF with kernel-trained centroids reaches at least the pinned-centroid recall") {
    // s4 pins 16 corpus vectors as coarse centroids so its DuckDB oracle
    // stays exact; the production path trains them — this spec runs 3 Lloyd
    // rounds of the engine's own k-means (C3 kernel algorithm, cosine
    // metric, 64-dim) seeded from the same pinned vectors, rebuilds the IVF
    // with the trained centroids, and checks recall does not degrade.
    import org.apache.spark.sql.functions._
    import graft.operators.{KMeans, VectorOps}
    import graft.Tables
    val d = 64
    val spark0 = spark
    val e = Tables.embeddings(spark0, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
    val feats = (1 to d).map(i => element_at(col("embedding"), i).cast("double"))
    val init = e.filter(col("vec_id") >= 100L && col("vec_id") < 116L)
      .orderBy(col("vec_id")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val centers = KMeans.lloyd(e.toDF(), feats, init, iterations = 3, KMeans.Cosine).centers
    // Assignment by the Lloyd worker's own argmin (KMeans.assign's tie
    // rule), not a 16×64 when-chain.
    val near = KMeans.nearest(centers, KMeans.Cosine)
    val listOf = udf((v: Seq[Float]) => near(v.map(_.toDouble).toArray))
    val assigned = e.select(col("vec_id"), col("embedding"), listOf(col("embedding")).as("list"))
    // Probe lists per query: 6 nearest trained centroids (driver-side over
    // 5×16 distances — metadata, like the kernel's master fold).
    def cosTo(v: Seq[Double], c: Seq[Double]): Double = {
      val dot = v.zip(c).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum))
    }
    val queries = e.filter(col("vec_id") < 5L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
    val probeRows = queries.flatMap { case (qid, qv) =>
      centers.zipWithIndex.sortBy { case (c, _) => -cosTo(qv, c) }
        .take(6).map { case (_, ci) => (qid, ci) }
    }
    import spark0.implicits._
    val probes = probeRows.toSeq.toDF("qid", "probe")
    org.apache.spark.sql.graft.CosineSimilarity.register(spark0)
    val q = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .join(probes, "qid")
    val cos = org.apache.spark.sql.graft.CosineSimilarity.cosineSimilarity(
      col("qemb"), col("embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    val trained = q.join(assigned, col("probe") === col("list") && col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = S1AnnBrute.run(spark0, TestSpark.sf0001)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect trained).size.toDouble / exact.size
    info(f"trained-IVF recall vs s1 at sf0.001: $recall%.3f")
    // Must not degrade below the pinned-centroid construction's floor.
    assert(recall >= 0.50, f"trained-centroid IVF recall $recall%.3f below 0.50")
  }

  test("s4 IVF recall vs exact s1 stays above the documented floor") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(S1AnnBrute.run(spark, TestSpark.sf0001))
    val approx = pairs(S4AnnIvf.run(spark, TestSpark.sf0001))
    assert(exact.nonEmpty)
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"s4 recall vs s1 at sf0.001: $recall%.3f (${(exact intersect approx).size}/${exact.size})")
    assert(recall >= 0.50, f"s4 recall $recall%.3f fell below the 0.50 floor")
  }

  test("s9 filtered ANN: every neighbour satisfies the label predicate; recall vs filtered brute force") {
    import org.apache.spark.sql.functions._
    val res = S9AnnFiltered.run(spark, TestSpark.sf0001).collect()
    assert(res.nonEmpty)
    val allowed = Set(1, 3, 5, 7)
    assert(res.forall(r => allowed(r.getInt(r.fieldIndex("label")))),
      "a returned neighbour violates the label pre-filter")
    // Filtered exact top-10 per query (brute force over the allowed labels).
    val e = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exact = e.filter(_._1 < 5).flatMap { case (qid, qv, _) =>
      e.filter { case (nid, _, lab) => nid != qid && allowed(lab) }
        .map { case (nid, nv, _) => (qid, nid, cos(qv, nv)) }
        .sortBy { case (_, nid, c) => (-c, nid) }.take(10)
        .map { case (q, n, _) => (q, n) }
    }.toSet
    val approx = res.map(r =>
      (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id")))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"s9 recall vs filtered brute force at sf0.001: $recall%.3f")
    assert(recall >= 0.75, f"s9 recall $recall%.3f fell below the 0.75 floor")
  }
}
