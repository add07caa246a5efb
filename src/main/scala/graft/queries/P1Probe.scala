package graft.queries

/** Round-15 measurement probe (CcProbe's sibling): wall + convergence trace
  * of the p1_dispositions build — the doc-family ConnectedComponents caller
  * (small near-dup cliques) whose per-round fixed cost the delta
  * self-composition could help or hurt. Prints the Materialize build rows
  * and the CC round trace at Bench's config.
  */
object P1Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()
    // warm codegen on the small SF, then time the sf-dir build fresh
    P1CleanCorpus.runOn(spark, graft.Tables.documents(spark, dir.replaceAll("sf[0-9.]+$", "sf0.001")))
      .write.mode("overwrite").format("noop").save()
    graft.GraftSession.sweep(spark)
    var best = Double.MaxValue
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      P1CleanCorpus.runOn(spark, graft.Tables.documents(spark, dir))
        .write.mode("overwrite").format("noop").save()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      graft.GraftSession.sweep(spark)
      System.gc()
    }
    println(f"[p1probe] dispositions build (min of 3): $best%.3f s")
    spark.stop()
  }
}
