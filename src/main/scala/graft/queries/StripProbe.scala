package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextOps

/** Stage-by-stage timing probe for the exact-substring chain (the
  * round-11 "p12 slope outlier" investigation): tokenization, gram-hash
  * occurrence build, duplicate count+join, and the full strip, each timed
  * over the same dir — so a slope anomaly can be attributed to a stage
  * instead of argued about. ScaleProbe's pattern.
  */
object StripProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local()
    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"""{"stage":"$label","rows":$n,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      graft.GraftSession.sweep(spark)
    }
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    timed("tokens")(docs.select(TextOps.tokens(col("text")).as("t"))
      .agg(sum(size(col("t")))).collect()(0).getLong(0))
    timed("tokenHashes")(docs.select(
        TextOps.tokenHashes(TextOps.tokens(col("text"))).as("ht"))
      .agg(sum(size(col("ht")))).collect()(0).getLong(0))
    timed("gramHashes")(docs.select(
        TextOps.gramHashes(TextOps.tokenHashes(TextOps.tokens(col("text"))), ExactSubstr.k).as("gh"))
      .agg(sum(size(col("gh")))).collect()(0).getLong(0))
    timed("occ_explode")(docs.select(
        TextOps.gramHashes(TextOps.tokenHashes(TextOps.tokens(col("text"))), ExactSubstr.k).as("gh"))
      .select(posexplode(col("gh")).as(Seq("p0", "h"))).count())
    timed("hits")(ExactSubstr.hits(spark, dir).count())
    timed("strip")(P7SpanStrip.stripOn(docs).count())
    // t28 novelty-chain decomposition (round-13 verdict #2): the two forms
    // of the per-doc gram count — the old full-hash pass vs the
    // size(tokens)-k+1 identity t28 now uses — then the chain's remaining
    // stages over a SHARED hits stage (Bench's shape): stage read,
    // doc-keyed dup count, and the full left-join + division.
    timed("t28_ngrams_hash")(docs.select(
        size(TextOps.gramHashes(
          TextOps.tokenHashes(TextOps.tokens(col("text"))), ExactSubstr.k)).cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0))
    timed("t28_ngrams_tokens")(docs.select(
        greatest(size(TextOps.tokens(col("text"))).cast("long") - lit((ExactSubstr.k - 1).toLong),
          lit(0L)).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0))
    graft.Materialize.enable()
    timed("t28_hits_build")(ExactSubstr.hits(spark, dir).count())
    timed("t28_hits_read")(ExactSubstr.hits(spark, dir).count())
    timed("t28_dup_count")(ExactSubstr.hits(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup")).count())
    timed("t28_full_shared")(T28GramNovelty.run(spark, dir).count())
    graft.Materialize.disable()
    spark.stop()
  }
}
