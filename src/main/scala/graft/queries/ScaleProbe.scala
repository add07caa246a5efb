package graft.queries

/** Measurement main for the composed-chain scale experiment
  * (tools/scale_slope.py): times d16's candidate+verify chain over an
  * arbitrary data dir at an arbitrary (planes, tables, radius) config and
  * prints one JSON line. This is how the crossover claim gets its
  * one-more-decade data point — the declared 4-plane config approaches
  * all-pairs at test scale BY DESIGN, and the production plane counts are a
  * config knob; this main runs both configs over the same (possibly
  * synthetic, see tools/gen_scale.py) corpus so the knob's effect is
  * measured, not argued.
  *
  * Usage: runMain graft.queries.ScaleProbe <dataDir> <planes> <tables> <radius>
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, planesS, tablesS, radiusS) = args
    val (planes, nTables, radius) = (planesS.toInt, tablesS.toInt, radiusS.toInt)
    val spark = graft.GraftSession.local()
    import D16SemanticLshClusters._
    val t0 = System.nanoTime()
    val cand = candidatePairsWith(spark, dir,
      tablesFor(planes, nTables), probeMasksFor(planes, radius)).count()
    val tCand = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val verified = verifiedPairsWith(spark, dir,
      tablesFor(planes, nTables), probeMasksFor(planes, radius)).count()
    val tVer = (System.nanoTime() - t1) / 1e9
    println(f"""{"dir":"$dir","planes":$planes,"tables":$nTables,"radius":$radius,"candidates":$cand,"verified":$verified,"cand_sec":$tCand%.2f,"verify_sec":$tVer%.2f}""")
    spark.stop()
  }
}
