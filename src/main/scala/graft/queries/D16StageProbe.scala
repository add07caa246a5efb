package graft.queries

import org.apache.spark.sql.functions._

/** Round-15 measurement probe: per-stage wall of the d16_verified_pairs
  * chain (candidate generation vs DISTINCT vs verify) at Bench's config,
  * each stage timed through the noop sink after a warm pass. Guide §1.4
  * methodology; exists so the pair-build optimization is measured, not
  * argued (the CcProbe precedent).
  */
object D16StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    def time(name: String, reps: Int = 3)(df: => org.apache.spark.sql.DataFrame): Unit = {
      var best = Double.MaxValue
      for (_ <- 1 to reps) {
        graft.GraftSession.sweep(spark)
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        System.gc()
      }
      println(f"[d16probe] $name%-28s $best%7.3f s")
    }
    val emb = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val tables = D16SemanticLshClusters.tablesFor(
      D16SemanticLshClusters.nPlanes, D16SemanticLshClusters.nTables)
    val masks = D16SemanticLshClusters.probeMasksFor(
      D16SemanticLshClusters.nPlanes, D16SemanticLshClusters.probeRadius)
    // warm pass (codegen)
    D16SemanticLshClusters.verifiedPairsOver(spark, emb, tables, masks, 1,
      D16SemanticLshClusters.threshold).write.mode("overwrite").format("noop").save()
    graft.GraftSession.sweep(spark)
    // Replicate candidatePairsOver's internals stage by stage.
    org.apache.spark.sql.graft.DotProduct.register(spark)
    val e = emb.select(
      col("vec_id") +:
        tables.zipWithIndex.map { case (p, t) =>
          graft.operators.VectorOps.lshBucketFused(col("embedding"), p).as(s"b$t")
        }: _*)
    val tb = explode(array(tables.indices.map(t =>
      struct(lit(t).as("t"), col(s"b$t").as("bucket"))): _*)).as("tb")
    val nLong = e.select(col("vec_id"), tb)
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val probes = explode(array(masks.map(m =>
      col("bucket").bitwiseXOR(lit(m))): _*))
    val pLong = nLong.select(col("vec_id"), col("t"), probes.as("probe"))
    val pR = pLong.select(col("vec_id").as("pid"), col("t").as("pt"), col("probe"))
    val nR = nLong.select(col("vec_id").as("nid"), col("t").as("nt"), col("bucket"))
    val cond = col("pt") === col("nt") && col("probe") === col("bucket") &&
      col("pid") < col("nid")
    time("bucket ids (e)")(e)
    time("probe explode (pLong)")(pLong)
    time("join only (collisions)")(pR.join(nR, cond).select(col("pid"), col("nid")))
    time("join+distinct")(
      pR.join(nR, cond).select(col("pid").as("vec_a"), col("nid").as("vec_b")).distinct())
    time("join(bcast)+distinct")(
      pR.join(broadcast(nR), cond)
        .select(col("pid").as("vec_a"), col("nid").as("vec_b")).distinct())
    time("full verifiedPairs")(
      D16SemanticLshClusters.verifiedPairsOver(spark, emb, tables, masks, 1,
        D16SemanticLshClusters.threshold))
    // Round 16 (VERDICT r15 #7): bucket-occupancy skew evidence + the
    // bucketSalts A/B, so the salting decision is numbers, not argument.
    // The candidate join's per-key fan-in is the (t, bucket) occupancy;
    // a hot boilerplate bucket shows up as max >> median. AQE's skew-join
    // split fires only when a post-shuffle partition exceeds BOTH 5× the
    // median AND skewedPartitionThresholdInBytes (256 MB) — the row stats
    // printed here say how far this corpus sits from that bar.
    val occStats = nLong.groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("max_n"),
        expr("percentile(n, 0.99)").as("p99_n"),
        expr("percentile(n, 0.5)").as("med_n"),
        count(lit(1)).as("n_buckets"),
        sum(col("n")).as("rows"))
      .collect()(0)
    println(s"[d16probe] bucket occupancy: max=${occStats.getLong(0)} " +
      f"p99=${occStats.getDouble(1)}%.1f median=${occStats.getDouble(2)}%.1f " +
      s"buckets=${occStats.getLong(3)} rows=${occStats.getLong(4)} " +
      s"(max*24B = ${occStats.getLong(0) * 24} B per hottest key vs 256 MB AQE skew bar)")
    for (salts <- Seq(2, 4)) {
      time(s"join+distinct salts=$salts")(
        graft.operators.Skew.saltedJoinOn(pR, nR, cond, salts)
          .select(col("pid").as("vec_a"), col("nid").as("vec_b")).distinct())
    }
    spark.stop()
  }
}
