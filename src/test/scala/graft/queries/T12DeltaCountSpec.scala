package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{CacheScope, Tables, TestSpark}
import graft.operators.TextOps

/** Round-16 optimization pin: the delta-maintained BPE training loop
  * ([[T12BpeMerges.train]] — per-round pair counts updated only from
  * documents containing the merged pair) must be EXACTLY equivalent to the
  * full-recount loop it replaced ([[trainRecountWitness]] below):
  * identical merge tables (round, merged, freq — equal freq proves the
  * delta-updated count table equals the full recount at every argmax) and
  * identical final encoded corpora. BpeSpec additionally pins the merge
  * table against an independent Scala reference implementation.
  */
class T12DeltaCountSpec extends AnyFunSuite {
  import T12BpeMerges.{mergeChar, rounds, vocabBase}

  lazy val spark = TestSpark.spark

  /** The pre-round-16 FULL-RECOUNT training loop — every round re-explodes
    * every document's pairs and re-persists the rewritten corpus — kept as
    * the equality witness this spec compares the delta-maintained
    * [[T12BpeMerges.train]] against (the `gramHashesComposed` precedent):
    * identical merge tables and identical encoded corpora on any input
    * prove the per-round delta update equals the full recount.
    */
  private def trainRecountWitness(spark: SparkSession, documents: DataFrame)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val toks = documents.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val vocabTokens = toks.select(explode(col("toks")).as("token")).distinct()
      .collect().map(_.getString(0)).sorted
    val tokenToCh = vocabTokens.zipWithIndex
      .map { case (t, i) => t -> (vocabBase + i + 1).toChar.toString }
    val symText = scala.collection.mutable.Map[String, String](
      tokenToCh.map { case (t, ch) => ch -> t }.toSeq: _*)
    val chMap = typedlit(tokenToCh.toMap)
    val docs0 = CacheScope.persisted(
      toks.where(size(col("toks")) >= 1)
        .select(col("doc_id"),
          array_join(transform(col("toks"), t => element_at(chMap, t)), "").as("s")))
    var cur = docs0
    var prev: DataFrame = null
    val out = Seq.newBuilder[(Int, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = cur.where(length(col("s")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(1).collect()
      if (prev ne null) prev.unpersist(false)
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getAs[String]("pair")
        val mc = mergeChar(r)
        symText(mc) = symText(pair.substring(0, 1)) + " " + symText(pair.substring(1, 2))
        out += ((r, symText(mc), best(0).getAs[Long]("freq")))
        prev = cur
        cur = CacheScope.persisted(
          cur.select(col("doc_id"),
            call_function("replace", col("s"), lit(pair), lit(mc)).as("s")))
        r += 1
      }
    }
    (out.result().toDF("round", "merged", "freq"), cur)
  }

  private def assertSameTraining(docs: org.apache.spark.sql.DataFrame, label: String): Unit = {
    val (m1, e1) = T12BpeMerges.train(spark, docs)
    val (m2, e2) = trainRecountWitness(spark, docs)
    val merges1 = m1.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val merges2 = m2.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(merges1.toSeq == merges2.toSeq, s"$label: merge-table drift")
    val enc1 = e1.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val enc2 = e2.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(enc1.toSeq == enc2.toSeq, s"$label: encoded-corpus drift")
  }

  test("delta counts equal full recounts on a fixture exercising merge interactions") {
    import spark.implicits._
    // Overlap semantics ("x x x" = one merge), merged symbols re-pairing
    // in later rounds ("a b" then "a b c"), pair-frequency ties, documents
    // untouched by some merges, and a single-token doc with no pairs.
    val docs = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "x x x x"),
      (3L, "a b a b"),
      (4L, "q"),
      (5L, "c a b c a"),
      (6L, "z y z y z")
    ).toDF("doc_id", "text")
    assertSameTraining(docs, "fixture")
  }

  test("delta counts equal full recounts over the sf0.001 corpus") {
    assertSameTraining(Tables.documents(spark, TestSpark.sf001), "sf0.001")
  }
}
