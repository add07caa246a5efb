package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable
import graft.operators.{SnapshotMerge, TextOps}

/** Round-16 measurement probe (VERDICT r15 #6): decompose
  * p11_incremental_corpus — the largest driver-measured query — into its
  * honest stage costs. p11 = CDC merge + the FULL p1 chain over the merged
  * corpus; its CC phase converges in 1 round (P1Probe, r15), so this probe
  * times each stage of the remaining chain THROUGH the noop sink, cumulative
  * prefixes (each row adds one stage), min of 3 per prefix:
  *
  *   merge   → merged corpus materialized
  *   score   → + t2 quality scoring
  *   exact   → + md5 exact-dedup survivor selection
  *   shingle → + hashed shingle sets of the alive set
  *   cand    → + minhash signatures, banding, LSH candidate pairs
  *   verify  → + exact-Jaccard verification
  *   full    → the declared query (adds CC + disposition union)
  *
  * The difference between adjacent rows is that stage's marginal cost on
  * this machine at Bench's config. Standalone main — NOT in Registry, never
  * benched.
  */
object P11Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()

    def merged(d: String): DataFrame = {
      val h = Portable.hash60(concat(lit("inc:"), col("doc_id").cast("string")))
      val docs = Tables.documents(spark, d)
        .select(col("doc_id"), col("source"), col("text"), h.as("h"))
      val base = docs.filter(col("h") % 7 =!= 0)
        .select(col("doc_id"), col("source"), col("text"))
      val delta = docs.filter(col("h") % 3 === 0)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" updated revision")).as("text"),
          (col("h") % 5 === 0).as("deleted"))
      SnapshotMerge.mergeCdc(base, delta, "doc_id", Seq("source", "text"))
        .filter(col("disposition") =!= "deleted")
        .select(col("doc_id"), col("source"), col("text"))
    }
    // Cumulative stage prefixes, mirroring P1CleanCorpus.runOn's shapes
    // (persists included, so each prefix pays the real chain cost).
    def scored(d: String) = graft.CacheScope.persisted(
      merged(d).select(col("doc_id"), col("text"),
        round(T2Quality.score(col("text")), 6).as("quality")))
    def exact(d: String) = {
      val s = scored(d)
      val qual = s.filter(col("quality") >= 0.6)
        .withColumn("__h", Portable.md5Hex(col("text")))
      val surv = qual.groupBy(col("__h")).agg(min(col("doc_id")).as("surv_id"))
      qual.join(surv, "__h").drop("__h")
    }
    def alive(d: String) = graft.CacheScope.persisted(
      exact(d).filter(col("doc_id") === col("surv_id"))
        .select(col("doc_id"), col("text"), col("quality")))
    def shingle(d: String) = graft.CacheScope.persisted(
      TextOps.shingleHashSets(alive(d).select(col("doc_id"), col("text"))))
    def cand(d: String) = MinhashLsh.candidatePairsFrom(shingle(d))
    def verify(d: String) = D4NgramJaccard.verifiedPairsFrom(shingle(d))
    val stages: Seq[(String, String => DataFrame)] = Seq(
      "merge" -> (merged _),
      "score" -> (scored _),
      "exact" -> (exact _),
      "shingle" -> (shingle _),
      "cand" -> (cand _),
      "verify" -> (verify _),
      "full" -> ((d: String) => P11IncrementalCorpus.run(spark, d)))

    def sweep(): Unit = {
      graft.GraftSession.sweep(spark)
      System.gc()
    }
    // warm on the small SF
    val warmDir = dir.replaceAll("sf[0-9.]+$", "sf0.001")
    stages.foreach { case (_, f) =>
      try f(warmDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => System.err.println(s"[p11probe] warm: $e") }
      finally sweep()
    }
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (_ <- 1 to 3) stages.foreach { case (name, f) =>
      spark.sparkContext.setJobDescription(s"p11probe: $name")
      val t0 = System.nanoTime()
      f(dir).write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
      sweep()
    }
    var prev = 0.0
    best.foreach { case (name, sec) =>
      println(f"[p11probe] $name%-8s cum=$sec%6.2f s  marginal=${sec - prev}%6.2f s")
      prev = sec
    }
    spark.stop()
  }
}
