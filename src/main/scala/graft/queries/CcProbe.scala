package graft.queries

/** Measurement probe for the ConnectedComponents delta-propagation A/B
  * (round-13 verdict #4: the d16_clusters sf1 build cost). Runs the d16
  * chain under an enabled Materialize at Bench's config (local[N],
  * shuffle=N, AQE on) over the given dir and prints the per-stage build
  * costs. ATTRIBUTION: the pairs stage builds NESTED inside the clusters
  * build here (fresh Materialize root, clusters requested first). Since
  * round 14 [[graft.Materialize.buildCosts]] records EXCLUSIVE self time,
  * so the d16_clusters row IS the propagation cost directly (measured
  * ~5.5 s at the sf1 probe on the delta form). Historical rows
  * (SCALE_SLOPE_r13 and earlier, and this probe's first run) were
  * inclusive — the r13 verdict's "85.6 s propagation" read such a nested
  * number as exclusive; subtract the pairs row when comparing against
  * them. The session keeps the CC logger at INFO, so the per-round delta
  * sizes (the convergence trace) land in the output.
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local()
    graft.Materialize.enable()
    val t0 = System.nanoTime()
    val n = D16SemanticLshClusters.run(spark, dir).count()
    val total = (System.nanoTime() - t0) / 1e9
    val costs = graft.Materialize.buildCosts.toSeq.sortBy(_._1)
      .map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
    println(f"""{"rows":$n,"total_sec":$total%.2f,"builds":{$costs}}""")
    graft.Materialize.disable()
    spark.stop()
  }
}
